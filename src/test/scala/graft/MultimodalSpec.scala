package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def withImg =
    Seq((0L, "doc zero"), (1L, "doc one"), (2L, "doc two")).toDF("doc_id", "text")
      .withColumn("img", Multimodal.fakeImageBytes(col("text"), col("doc_id")))

  test("fakeImageBytes is a real BinaryType column with id-keyed lengths 16/20/24") {
    val df = withImg
    assert(df.schema("img").dataType == BinaryType)
    val lens = df.select(col("doc_id"), Multimodal.byteLength(col("img")))
      .as[(Long, Long)].collect().toMap
    assert(lens == Map(0L -> 16L, 1L -> 20L, 2L -> 24L))
  }

  test("imageMeta extracts big-endian header fields consistent with the raw bytes") {
    val meta = Multimodal.imageMeta(withImg, "doc_id", "img")
    val rows = meta.as[(Long, Long, String, Long, Long)].collect()
    val raw = withImg.select("doc_id", "img").as[(Long, Array[Byte])].collect().toMap
    rows.foreach { case (id, nBytes, fmt, width, height) =>
      val b = raw(id)
      assert(nBytes == b.length)
      assert(width == ((b(0) & 0xff) << 8 | (b(1) & 0xff)))
      assert(height == ((b(2) & 0xff) << 8 | (b(3) & 0xff)))
      assert(Set("png", "jpeg", "gif", "webp").contains(fmt))
    }
  }

  test("frameSample emits every Nth fixed-size frame, skips short payloads") {
    val raw = withImg.select("doc_id", "img").as[(Long, Array[Byte])].collect().toMap
    val got = Multimodal.frameSample(withImg, "doc_id", "img", 8, 2)
      .as[(Long, Long, String)].collect()
    got.foreach { case (id, idx, hexStr) =>
      val b = raw(id)
      assert(idx % 2 == 0 && idx < b.length / 8)
      val expect = b.slice(idx.toInt * 8, idx.toInt * 8 + 8)
        .map(x => f"${x & 0xff}%02X").mkString
      assert(hexStr == expect, s"doc $id frame $idx")
    }
    // per-doc sampled-frame count = ceil((len/8) / 2); no doc shorter than a frame
    val counts = got.groupBy(_._1).view.mapValues(_.length).toMap
    raw.foreach { case (id, b) =>
      val nf = b.length / 8
      assert(counts.getOrElse(id, 0) == (nf + 1) / 2, s"doc $id")
    }
    // a sub-frame payload yields zero rows
    val tiny = Seq((9L, Array[Byte](1, 2, 3))).toDF("doc_id", "img")
    assert(Multimodal.frameSample(tiny, "doc_id", "img", 8, 2).count() == 0)
  }

  test("energyProfile: hand-checked Σ|b−128| per frame, short trailing " +
      "frame shrinks, all-silent and all-loud payloads flag correctly") {
    // payload 0x00 00 80 80 FF (5 bytes), frames of 2:
    // frame 0: |0−128|+|0−128| = 256; frame 1: |128−128|·2 = 0;
    // frame 2 (short): |255−128| = 127
    val df = Seq(Tuple1(1L)).toDF("doc_id")
      .withColumn("img", unhex(lit("00008080FF")))
    val out = Multimodal.energyProfile(df, "doc_id", "img", 2, 64)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(0L) == ((2L, 256L, false))) // 256 >= 2·64
    assert(out(1L) == ((2L, 0L, true)))    // 0 < 128
    assert(out(2L) == ((1L, 127L, false))) // 127 >= 1·64
    // empty payloads emit nothing
    assert(Multimodal.energyProfile(
      Seq(Tuple1(1L)).toDF("doc_id").withColumn("img", unhex(lit(""))),
      "doc_id", "img", 2, 64).isEmpty)
  }

  test("decodeImagesStub emits one typed record per payload with exact byte stats") {
    val got = Multimodal.decodeImagesStub(withImg, "doc_id", "img").collect()
    val raw = withImg.select("doc_id", "img").as[(Long, Array[Byte])].collect().toMap
    assert(got.length == 3)
    got.foreach { d =>
      val b = raw(d.doc_id)
      assert(d.n_bytes == b.length)
      assert(d.byte_sum == b.map(x => (x & 0xff).toLong).sum)
    }
  }

  test("modalityMix: exact per-group counts and trunc6 shares; NULL group " +
      "or format drops") {
    val df = Seq(
      (Some("s1"), Some("png")), (Some("s1"), Some("png")),
      (Some("s1"), Some("jpeg")), (Some("s2"), Some("gif")),
      (None, Some("png")), (Some("s2"), None))
      .toDF("source", "format")
    val got = Multimodal.modalityMix(df, "source", "format")
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(got == Set(
      ("s1", "png", 2L, 3L, math.floor(2d / 3d * 1e6) / 1e6),
      ("s1", "jpeg", 1L, 3L, math.floor(1d / 3d * 1e6) / 1e6),
      ("s2", "gif", 1L, 1L, 1.0)))
  }

  test("captionProfile folds the meta ⋈ caption join per format with the " +
      "exact integral density gauge") {
    val got = Multimodal.captionProfile(
        withImg, "doc_id", "img",
        graft.operators.TextOps.tokens(col("text")))
      .as[(String, Long, Long, Long, Long)].collect()
    val raw = withImg
      .select(col("doc_id"), Multimodal.sniffFormat(col("img")),
        Multimodal.byteLength(col("img")),
        size(graft.operators.TextOps.tokens(col("text"))).cast("long"))
      .as[(Long, String, Long, Long)].collect()
    val byFmt = raw.groupBy(_._2).map { case (f, rs) =>
      f -> ((rs.length.toLong, rs.map(_._3).sum, rs.map(_._4).sum))
    }
    assert(got.length == byFmt.size)
    got.foreach { case (f, n, bytes, toks, dens) =>
      val (en, eb, et) = byFmt(f)
      assert((n, bytes, toks) == ((en, eb, et)))
      assert(dens == et * 1000000L / eb)
    }
  }

  test("dHash equals the hand fold over grid samples; identical payloads " +
      "pair at Hamming 0; the bucket cap fails loud") {
    // hand fold: the same 61-position grid walk in plain Scala
    def handHash(b: Array[Byte]): Long = {
      def at(p: Long) = b(p.toInt) & 0xff
      def pos(j: Long) = (j * (b.length - 1)) / 60
      (0L until 60L).foldLeft(0L)((acc, j) =>
        acc * 2 + (if (at(pos(j)) > at(pos(j + 1))) 1L else 0L))
    }
    val raw = withImg.select("doc_id", "img").as[(Long, Array[Byte])]
      .collect().toMap
    val sigs = withImg.select(col("doc_id"), Multimodal.dHash(col("img")))
      .as[(Long, Long)].collect().toMap
    sigs.foreach { case (id, s) => assert(s == handHash(raw(id))) }
    // two identical payloads + one different: exactly the (1,2) pair at 0
    val dup = Seq((1L, "same text"), (2L, "same text"), (3L, "other body"))
      .toDF("doc_id", "text")
      .withColumn("img", Multimodal.fakeImageBytes(col("text"), lit(0L)))
    val pairs = Multimodal.imageDupPairs(dup, "doc_id", "img", 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)))
    // a bucket past maxBucket refuses rather than expanding quadratically
    val flood = (1L to 5L).map(i => (i, "same text")).toDF("doc_id", "text")
      .withColumn("img", Multimodal.fakeImageBytes(col("text"), lit(0L)))
    val e = intercept[Exception] {
      Multimodal.imageDupPairs(flood, "doc_id", "img", 2, maxBucket = 3)
        .collect()
    }
    assert(e.getMessage.contains("maxBucket"))
  }

  test("energySig equals the hand fold over the energy contour; " +
      "audioDupPairs pairs identical contours regardless of frame order") {
    // hand fold of the 61-position grid walk over an energy sequence
    def handSig(e: Seq[Long]): Long = {
      def pos(j: Long) = (j * (e.length - 1)) / 60
      (0L until 60L).foldLeft(0L)((acc, j) =>
        acc * 2 + (if (e(pos(j).toInt) > e(pos(j + 1).toInt)) 1L else 0L))
    }
    val contour = Seq(5L, 200L, 3L, 150L, 150L, 9L, 80L, 0L)
    val got = Seq(Tuple1(contour)).toDF("e")
      .select(Multimodal.energySig(col("e"))).as[Long].head()
    assert(got == handSig(contour))
    // single-frame payloads have no contour: sig 0 by contract
    assert(Seq(Tuple1(Seq(42L))).toDF("e")
      .select(Multimodal.energySig(col("e"))).as[Long].head() == 0L)
    // audioDupPairs: same per-frame energies => pair at hamming 0, even
    // when the frame ROWS arrive in different orders (array_sort rule);
    // doc 3's different contour stays unpaired
    val frames = Seq(
      (1L, 0L, 10L), (1L, 1L, 99L), (1L, 2L, 5L),
      (2L, 2L, 5L), (2L, 0L, 10L), (2L, 1L, 99L), // same, shuffled rows
      (3L, 0L, 99L), (3L, 1L, 10L), (3L, 2L, 80L))
      .toDF("doc_id", "frame_idx", "energy_sum")
    val pairs = Multimodal.audioDupPairs(frames, "doc_id", 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L, 0L)))
  }

  test("videoDupPairs: shared-frame-signature counting with distinct " +
      "per-video frame sets; minShared filters single-frame overlap; " +
      "bucket flood fails loud") {
    // three frame PATTERNS (dHash reads up/down structure):
    // A = up-down-up, B = down-up-down, C = increasing
    val fA = "00FF00FF"; val fB = "FF00FF00"; val fC = "01020304"
    val vids = Seq(
      (1L, fA + fB),           // {A, B}
      (2L, fA + fB + fC),      // {A, B, C}
      (3L, fA + fC),           // {A, C}
      (4L, fA + fA)            // duplicate frame collapses → {A}
    ).toDF("vid", "hx").withColumn("b", unhex(col("hx")))
    val got = Multimodal.videoDupPairs(vids, "vid", "b", 4, 1, 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // (1,2) share {A,B}; (2,3) share {A,C}; (1,3)/(x,4) share only A
    assert(got == Map((1L, 2L) -> 2L, (2L, 3L) -> 2L))
    // a frame signature shared by every video floods its bucket
    val e2 = intercept[Exception](
      Multimodal.videoDupPairs(vids, "vid", "b", 4, 1, 1L, maxBucket = 3)
        .collect())
    assert(e2.getMessage.contains("videoDupPairs"))
  }

  test("DHashFrames kernel ≡ the Column pipeline (explode(sequence) + " +
      "substr + dHash) on deterministic payloads of every length class, " +
      "for several (frameBytes, everyNth)") {
    // payloads: md5-chained bytes of lengths 0..40 — covers sub-frame
    // (empty array), exact-multiple, and trailing-partial-frame cases
    val docs = (0 to 40).map { n =>
      val bytes = Iterator.iterate(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"seed$n".getBytes))(
        b => java.security.MessageDigest.getInstance("MD5").digest(b))
        .flatten.take(n).toArray
      (n.toLong, bytes)
    }
    val df = docs.toDF("doc", "b")
    for ((fb, nth) <- Seq((8, 1), (8, 2), (4, 1), (5, 3), (2, 1))) {
      val kernel = df.select(col("doc"),
          graft.expressions.DHashExpressions.dHashFrames(col("b"), fb, nth)
            .as("sigs"))
        .as[(Long, Seq[Long])].collect().toMap
      val column = df
        .withColumn("_nf", (Multimodal.byteLength(col("b")) / fb).cast("long"))
        .filter(col("_nf") > 0)
        .select(col("doc"),
          explode(sequence(lit(0L), col("_nf") - 1, lit(nth.toLong)))
            .as("_fi"), col("b"))
        .select(col("doc"), col("_fi"),
          Multimodal.dHash(col("b").substr(
            (col("_fi") * fb + 1).cast("int"), lit(fb))).as("sig"))
        .as[(Long, Long, Long)].collect()
        .groupBy(_._1).view
        .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
      docs.foreach { case (id, bytes) =>
        val expect = column.getOrElse(id, Seq.empty)
        assert(kernel(id) == expect,
          s"len=${bytes.length} frameBytes=$fb everyNth=$nth")
      }
    }
  }
}
