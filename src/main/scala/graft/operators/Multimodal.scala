package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column operators: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, per the training-data-pipeline brief.
  *
  * The sandbox has no image/audio libraries and the driver tables have no
  * binary column, so two things are deliberately split:
  *   - REAL: the Spark-side plumbing — BinaryType columns, schemas, byte-level
  *     metadata extraction (length, magic sniff, big-endian field reads), and
  *     the mapPartitions decode shape (per-partition batching, typed output
  *     rows) that a real codec would plug into.
  *   - STUB: the codec itself. `decodeImagesStub` computes deterministic
  *     per-byte statistics where a JPEG/PNG decoder would run; every stub
  *     output is still oracle-checkable (hex arithmetic reproduces it).
  *
  * All metadata extraction is hex-string Column math (codegen'd, no UDF), so
  * it scales as a pure map stage. */
object Multimodal {

  /** Deterministic variable-length fake payload (16/20/24 bytes keyed by id):
    * stands in for an image-bytes column so the binary plumbing is exercised
    * end-to-end against real BinaryType data. */
  def fakeImageBytes(text: Column, idCol: Column): Column =
    unhex(concat(md5(text),
      md5(concat(text, lit("x"))).substr(lit(1), ((idCol % 3) * 8).cast("int"))))

  /** Payload size in bytes (Spark length() on binary = octet count). */
  private[graft] def byteLength(bin: Column): Column = length(bin).cast("long")

  /** Container-format sniff from the leading byte. On real data the same
    * shape dispatches on true magic numbers (0x89"PNG", 0xFFD8FF JPEG,
    * "GIF8", "RIFF"); the fake payload classifies by leading-byte range so
    * every class is exercised deterministically. */
  def sniffFormat(bin: Column): Column = {
    val b0 = conv(substring(hex(bin), 1, 2), 16, 10).cast("int")
    when(b0 < 64, "png").when(b0 < 128, "jpeg")
      .when(b0 < 192, "gif").otherwise("webp")
  }

  /** Big-endian unsigned 16-bit field at `byteOffset` — the primitive for
    * header reads (e.g. PNG width/height live at fixed offsets). */
  private def beUint16(bin: Column, byteOffset: Int): Column =
    conv(substring(hex(bin), byteOffset * 2 + 1, 4), 16, 10).cast("long")

  /** Typed metadata record per payload: size, sniffed format, and
    * header-style dimension fields. Pure map stage, zero shuffles. */
  def imageMeta(df: DataFrame, id: String, bin: String): DataFrame =
    df.select(col(id),
      byteLength(col(bin)).as("n_bytes"),
      sniffFormat(col(bin)).as("format"),
      beUint16(col(bin), 0).as("width"),
      beUint16(col(bin), 2).as("height"))

  /** Video-shaped frame sampling: treat the payload as fixed-size frames and
    * emit every `everyNth` frame as its own row — the standard decimation
    * step before per-frame feature extraction. One row per SAMPLED frame
    * (explode of a bounded sequence), binary slicing via substr-on-binary;
    * payloads shorter than one frame produce no rows. The emitted frame is
    * hex-encoded so the DuckDB oracle (which cannot slice blobs) reproduces
    * it by slicing the hex text instead. Pure map + generate, zero shuffles —
    * output volume is len/(frameBytes·everyNth) of the input, decided before
    * any bytes move. */
  def frameSample(df: DataFrame, id: String, bin: String, frameBytes: Int,
                  everyNth: Int): DataFrame =
    df.select(col(id), col(bin))
      .withColumn("_nf", (byteLength(col(bin)) / frameBytes).cast("long"))
      .filter(col("_nf") > 0)
      .select(col(id),
        explode(sequence(lit(0L), col("_nf") - 1, lit(everyNth.toLong))).as("frame_idx"),
        col(bin))
      .select(col(id), col("frame_idx"),
        upper(hex(col(bin).substr(
          (col("frame_idx") * frameBytes + 1).cast("int"), lit(frameBytes))))
          .as("frame_hex"))

  /** 60-bit dHash-style perceptual signature over a DETERMINISTIC byte
    * grid of the payload: 61 sample positions pⱼ = (j·(len−1)) div 60
    * spread across the bytes, bit j = byte(pⱼ) > byte(pⱼ₊₁) — the
    * classic difference-hash shape (gradient signs over a resampled
    * grid) applied to the raw byte stream, which is exactly what a real
    * dHash does AFTER a decoder produces the pixel grid; with no codecs
    * in the runtime the grid is the bytes themselves, and the signature
    * is still the right plumbing: near-identical payloads differ in few
    * bits, the banding/clustering downstream is the production pipeline
    * verbatim, and a decoder slots in by swapping this column for one
    * over decoded luma. 60 bits (not 64) so the signature reuses the
    * simhash 3×20-bit Hamming-band machinery and the acc·2+bit fold can
    * never overflow int64.
    *
    * Determinism/oracle: byte reads are hex-string Column math
    * (codegen'd, no UDF); the division is the make-divisible pmod form
    * on non-negative operands ≤ 60·(len−1) — the divided numerator is a
    * ≤ 2¹⁷ exact multiple of 60, so the double division is exact — and
    * DuckDB replays every step on the same hex text (substr/'0x' cast/
    * list_reduce). Payloads of < 2 bytes hash to 0 (no gradient exists). */
  private[graft] def dHash(bin: Column): Column = {
    val h = upper(hex(bin))
    val nb = length(bin).cast("long")
    def byteAt(p: Column): Column =
      conv(h.substr((p * 2 + 1).cast("int"), lit(2)), 16, 10).cast("long")
    def idiv60(x: Column): Column =
      ((x - pmod(x, lit(60L))) / 60L).cast("long")
    def sample(j: Column): Column = byteAt(idiv60(j * (nb - 1)))
    aggregate(sequence(lit(0L), lit(59L)), lit(0L),
      (acc, j) => acc * 2
        + when(sample(j) > sample(j + 1), 1L).otherwise(0L))
  }

  /** Per-frame audio-style energy profile over an opaque binary column —
    * the feature-extract step an audio curation pipeline runs before any
    * codec work (silence trimming, dead-air detection, clipping screens):
    * the payload is read as unsigned 8-bit samples in frames of
    * `frameBytes`, each frame reporting Σ|b − 128| (total deviation from
    * the midpoint — the integer stand-in for RMS energy that needs no
    * sqrt) and a `silent` flag when the mean deviation falls below
    * `silenceThreshold`. Pure hex Column math like dHash — REAL
    * computation on the binary column, not a stub — and DuckDB replays
    * every byte on the same hex text, so the profile is oracle-exact.
    * A short trailing frame still reports (its n_bytes shrinks); empty
    * payloads emit no frames. Per-row fan-out is bounded by
    * payload/frameBytes. Emits one row per (id, frame_idx) with
    * (n_bytes, energy_sum, silent). */
  def energyProfile(df: DataFrame, id: String, bin: String,
                    frameBytes: Int, silenceThreshold: Int): DataFrame = {
    require(frameBytes >= 1, s"frameBytes must be >= 1, got $frameBytes")
    require(silenceThreshold >= 0,
      s"silenceThreshold must be >= 0, got $silenceThreshold")
    val h0 = upper(hex(col(bin)))
    val nb0 = length(col(bin)).cast("long")
    val nFrames = ceil(nb0.cast("double") / frameBytes.toDouble).cast("long")
    def byteAt(p: Column): Column =
      conv(col("_h").substr((p * 2 + 1).cast("int"), lit(2)), 16, 10)
        .cast("long")
    val start = col("frame_idx") * frameBytes
    val len = least(lit(frameBytes.toLong), col("_nb") - start)
    val energy = aggregate(sequence(lit(0L), len - 1L), lit(0L),
      (acc, j) => acc + abs(byteAt(start + j) - 128L))
    df.filter(col(bin).isNotNull && length(col(bin)) > 0)
      .select(col(id), h0.as("_h"), nb0.as("_nb"),
        explode(sequence(lit(0L), nFrames - 1L)).as("frame_idx"))
      .select(col(id), col("frame_idx"), len.as("n_bytes"),
        energy.as("energy_sum"),
        (energy < len * silenceThreshold.toLong).as("silent"))
  }

  /** Per-payload silence-trim manifest over an energyProfile frame table
    * — "cut the dead air": first/last non-silent frame, the kept range,
    * and how much trimming saves. One grouped agg PARTITIONED by id over
    * the bounded frame fan-out; all-silent payloads emit NULL trim
    * bounds with kept_frames 0 (drop the clip, don't fabricate a range).
    * Emits (id, n_frames, n_silent, first_loud, last_loud,
    * kept_frames). */
  def silenceTrim(frames: DataFrame, id: String): DataFrame =
    frames.groupBy(col(id))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("silent"), 1L).otherwise(0L)).as("n_silent"),
        min(when(!col("silent"), col("frame_idx"))).as("first_loud"),
        max(when(!col("silent"), col("frame_idx"))).as("last_loud"))
      .withColumn("kept_frames",
        coalesce(col("last_loud") - col("first_loud") + 1L, lit(0L)))

  /** Scene/segment-change count per payload — frames whose energy jumps
    * by more than `jumpThreshold` against the PREVIOUS frame (the
    * first-difference detector every shot-boundary pipeline starts
    * from). The lag window is PARTITIONED by id over the bounded frame
    * fan-out; only full-size frames compare (a short trailing frame
    * would fake a drop). Emits (id, n_frames, n_changes). */
  def sceneChanges(frames: DataFrame, id: String, frameBytes: Int,
                   jumpThreshold: Long): DataFrame = {
    require(jumpThreshold > 0,
      s"jumpThreshold must be positive, got $jumpThreshold")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(id))
      .orderBy(col("frame_idx"))
    val full = frames.filter(col("n_bytes") === frameBytes.toLong)
    full.withColumn("_prev", lag(col("energy_sum"), 1).over(w))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("_prev").isNotNull &&
          abs(col("energy_sum") - col("_prev")) > jumpThreshold, 1L)
          .otherwise(0L)).as("n_changes"))
  }

  /** Image near-dup candidate pairs by Hamming-LSH banding over the
    * dHash signature — the q_simhash_jaccard pipeline on the binary
    * column: 3 × 20-bit bands (a shared band ⇒ candidate; by pigeonhole
    * ≤ 2 differing bits ALWAYS leaves one band intact, so recall at
    * maxHamming ≤ 2 is provable, not probabilistic), candidates verified
    * by the exact full-signature Hamming distance. Buckets are
    * fail-loud capped at `maxBucket` (the jaccardAllPairs contract —
    * a corpus of near-identical payloads would otherwise go quadratic
    * silently; refuse, never drop). Emits (doc_a, doc_b, hamming) with
    * doc_a < doc_b; feed into Dedup.dupClusters for transitive closure
    * (q_image_dup_clusters composes exactly that). */
  def imageDupPairs(df: DataFrame, id: String, bin: String,
                    maxHamming: Int, maxBucket: Int = 10000): DataFrame = {
    val sigs = df.select(col(id).as("doc"), col(bin).as("_b"))
      .select(col("doc"), dHash(col("_b")).as("_sig")) // staged: hash once
    hammingBandPairs(sigs, "imageDupPairs", maxHamming, maxBucket)
  }

  /** The 3 × 20-bit Hamming-LSH band → bucket → exact-verify chain over a
    * (doc, _sig) 60-bit signature frame — shared by the image (dHash) and
    * audio (energySig) near-dup operators: a shared band ⇒ candidate (by
    * pigeonhole ≤ 2 differing bits always leaves one band intact, so
    * recall at maxHamming ≤ 2 is provable), verified by the exact
    * full-signature Hamming distance, buckets fail-loud capped at
    * `maxBucket` (the jaccardAllPairs contract — refuse, never drop). */
  private def hammingBandPairs(sigs: DataFrame, opName: String,
                               maxHamming: Int, maxBucket: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 2,
      s"maxHamming must be in [0,2] (the 3-band pigeonhole recall " +
        s"guarantee), got $maxHamming")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val bandCols = (0 until 3).map { b =>
      concat(lit(s"${b}_"),
        shiftright(col("_sig"), b * 20).bitwiseAND(lit(1048575L))
          .cast("string"))
    }
    val banded = sigs.select(col("doc"), col("_sig"),
      explode(array(bandCols: _*)).as("_bk"))
    val capGuard = assert_true(size(col("ms")) <= maxBucket,
      concat(lit(s"$opName: Hamming band '"), col("_bk"),
        lit("' holds "), size(col("ms")).cast("string"),
        lit(s" docs (> maxBucket=$maxBucket) — pair expansion would be " +
          "quadratic. Raise maxBucket deliberately or pre-split the " +
          "near-constant payloads; dropping the band would lose the " +
          "pigeonhole recall guarantee, so this operator refuses instead.")))
    banded.groupBy(col("_bk"))
      .agg(collect_list(struct(col("doc"), col("_sig"))).as("ms"))
      .filter(capGuard.isNull)
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        bit_count(col("a._sig").bitwiseXOR(col("b._sig"))).cast("long")
          .as("hamming"))
      .distinct() // pairs sharing several bands count once
      .filter(col("hamming") <= maxHamming)
  }

  /** 60-bit audio fingerprint over an ORDERED per-payload energy array —
    * the sign-of-energy-difference signature (the Haitsma-Kalker 2002
    * robust-hash idea, reduced to the engine's integer energy frames):
    * bit j is 1 iff energy[⌊j·(n−1)/60⌋] > energy[⌊(j+1)·(n−1)/60⌋] —
    * the dHash byte-grid fold applied to the energy SEQUENCE, so two
    * clips with the same loudness contour collide even when raw bytes
    * differ. Exact integer comparisons; single-frame payloads fold to 0
    * (no contour to compare). */
  private[graft] def energySig(energies: Column): Column = {
    val n = size(energies).cast("long")
    def idiv60(x: Column): Column =
      ((x - pmod(x, lit(60L))) / 60L).cast("long")
    def sample(j: Column): Column =
      element_at(energies, (idiv60(j * (n - 1)) + 1L).cast("int"))
    aggregate(sequence(lit(0L), lit(59L)), lit(0L),
      (acc, j) => acc * 2
        + when(sample(j) > sample(j + 1), 1L).otherwise(0L))
  }

  /** Audio near-dup candidate pairs over an energyProfile frame table —
    * dedup for the THIRD modality (text: minhash/simhash; image: dHash;
    * audio: this): each payload's frames fold to the energySig
    * fingerprint, then the shared 3 × 20-bit Hamming banding generates
    * candidates and the exact signature Hamming verifies them
    * (fail-loud maxBucket, provable recall at maxHamming ≤ 2 — the
    * imageDupPairs contract verbatim). The per-id energy array is
    * assembled by ONE grouped agg over the bounded frame fan-out
    * (array_sort over (frame_idx, energy) structs — collect_list alone
    * is arrival-ordered and nondeterministic). Emits (doc_a, doc_b,
    * hamming) with doc_a < doc_b; feed Dedup.dupClusters for the
    * transitive closure (q_audio_dup_clusters composes exactly that). */
  def audioDupPairs(frames: DataFrame, id: String, maxHamming: Int,
                    maxBucket: Int = 10000): DataFrame = {
    Seq(id, "frame_idx", "energy_sum").foreach(c =>
      require(frames.columns.contains(c),
        s"audioDupPairs expects energyProfile output ($id, frame_idx, " +
          s"energy_sum, ...); missing '$c'"))
    val energies = frames.groupBy(col(id).as("doc"))
      .agg(transform(
        array_sort(collect_list(struct(col("frame_idx"),
          col("energy_sum")))),
        x => x.getField("energy_sum")).as("_e"))
    hammingBandPairs(
      energies.select(col("doc"), energySig(col("_e")).as("_sig")),
      "audioDupPairs", maxHamming, maxBucket)
  }

  /** VIDEO-level near-duplicate pairs by SHARED FRAME SIGNATURES — the
    * object-level dedup the frame tier was missing: q_image_dups matches
    * whole payloads and q_frame_sample decimates them, but two videos
    * that share scenes (re-encodes, trims, reposts) need a containment
    * test over their frame sets. Each sampled fixed-size frame gets the
    * dHash grid signature; a pair of videos sharing at least `minShared`
    * DISTINCT frame signatures is a near-dup candidate strong enough to
    * act on (exact signature equality — no banding/verify split needed:
    * the frame set IS the evidence, and n_shared is emitted so the
    * caller can raise the bar). Scale shape: one frame fan-out
    * (bounded by payload/frameBytes·everyNth, decided before any
    * shuffle), one distinct, one signature-keyed grouping whose buckets
    * are fail-loud capped at `maxBucket` (the jaccardAllPairs contract —
    * a signature shared by half the corpus, e.g. an all-black frame,
    * must refuse, never explode), pair expansion only within buckets.
    * Emits (video_a, video_b, n_shared) with video_a < video_b; feed
    * Dedup.dupClusters for the transitive closure. */
  def videoDupPairs(df: DataFrame, id: String, bin: String,
                    frameBytes: Int, everyNth: Int, minShared: Long,
                    maxBucket: Int = 10000): DataFrame = {
    require(frameBytes >= 2,
      s"frameBytes must be >= 2 for the dHash grid, got $frameBytes")
    require(everyNth >= 1, s"everyNth must be >= 1, got $everyNth")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val emitted = Seq("video_a", "video_b", "n_shared", "_vid", "_nf",
      "_fi", "_b", "_sig", "_vs", "_i", "_j")
    val clash = Seq(id, bin).filter(emitted.contains)
    require(clash.isEmpty,
      s"videoDupPairs emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    // per-frame signatures via the native kernel (round 16, guide §1.2
    // per-task work): one array<long> per payload + one explode, instead
    // of explode(sequence)+substr+the 60-step hex aggregate per frame —
    // value-identical to the Column form (dHash), pinned by
    // MultimodalSpec's kernel-equivalence test and the brute-replay
    // DuckDB oracle
    val sigs = df.select(col(id).as("_vid"), col(bin).as("_b"))
      .filter(col("_vid").isNotNull && col("_b").isNotNull)
      .select(col("_vid"),
        explode(graft.expressions.DHashExpressions.dHashFrames(
          col("_b"), frameBytes, everyNth)).as("_sig"))
      .distinct()
    val bySig = sigs.groupBy(col("_sig"))
      .agg(sort_array(collect_list(col("_vid"))).as("_vs"))
      .filter(size(col("_vs")) > 1)
    val capGuard = assert_true(size(col("_vs")) <= maxBucket,
      concat(lit(s"videoDupPairs: a frame signature is shared by more " +
        s"than $maxBucket videos (a degenerate frame — raise minShared " +
        "or pre-filter it); bucket size "),
        size(col("_vs")).cast("string")))
    bySig.filter(capGuard.isNull)
      .select(col("_vs"), posexplode(col("_vs")).as(Seq("_i", "video_a")))
      .select(col("video_a"), col("_i"),
        posexplode(col("_vs")).as(Seq("_j", "video_b")))
      .filter(col("_i") < col("_j"))
      .groupBy(col("video_a"), col("video_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Modality/format mix per group — the curation stat a multimodal
    * corpus owner reads before fixing mixture weights ("what share of
    * each source is PNG vs JPEG vs video"): per (group, format) exact
    * counts plus the within-group share, trunc6'd like every emitted
    * ratio. Distributed shape: ONE (group, format) count shuffle + an
    * O(groups) total agg joined back — both frames are post-aggregation
    * small, no windows over the corpus, no driver traffic. NULL group or
    * format rows drop (unattributable). Emits (group, format, n_docs,
    * n_total, share). */
  def modalityMix(df: DataFrame, group: String, format: String): DataFrame = {
    val emitted = Seq("n_docs", "n_total", "share")
    require(!emitted.contains(group) && !emitted.contains(format),
      s"modalityMix emits ${emitted.mkString(", ")}; rename inputs")
    val counts = df
      .filter(col(group).isNotNull && col(format).isNotNull)
      .groupBy(col(group), col(format)).agg(count(lit(1)).as("n_docs"))
    counts
      .join(counts.groupBy(col(group)).agg(sum(col("n_docs")).as("n_total")),
        Seq(group))
      .select(col(group), col(format), col("n_docs"), col("n_total"),
        (floor(col("n_docs").cast("double") / col("n_total").cast("double")
          * 1000000d) / 1000000d).as("share"))
  }

  /** The image↔caption join shape, profiled per container format: the
    * typed metadata frame (imageMeta) joined on the id to a caption
    * token-count frame — the standard two-sided multimodal layout
    * (payload table ⋈ text table) even when both happen to come from
    * one scan here — folded to per-format exact totals plus a
    * caption-density gauge, tokens-per-byte at the 10⁻⁶ grid via pure
    * integral division (Σtok·10⁶ div Σbytes — exact, engine-identical).
    * One id-keyed join + one O(formats) agg. Emits (format, n_docs,
    * total_bytes, total_cap_tokens, tokens_per_byte_scaled). */
  def captionProfile(df: DataFrame, id: String, bin: String,
                     captionTokens: Column): DataFrame = {
    val meta = imageMeta(df, id, bin)
    val caps = df.select(col(id),
      size(captionTokens).cast("long").as("_ntok"))
    meta.join(caps, Seq(id))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bytes")).as("total_bytes"),
        sum(col("_ntok")).as("total_cap_tokens"))
      .withColumn("tokens_per_byte_scaled",
        expr("(total_cap_tokens * CAST(1000000 AS BIGINT)) div total_bytes"))
  }

  case class DecodedImage(doc_id: Long, n_bytes: Long, byte_sum: Long)
  implicit val decodedImageEnc: Encoder[DecodedImage] = Encoders.product[DecodedImage]
  private implicit val rawEnc: Encoder[(Long, Array[Byte])] =
    Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)

  /** Decode shape: typed mapPartitions over (id, bytes) — the slot where a
    * real per-partition codec loop goes (load library once per partition,
    * decode each payload, emit typed features).
    *
    * STUB: the "decode" here is deterministic per-byte statistics; swap the
    * body for an actual decoder when the runtime has one. The partitioning,
    * batch shape, and output schema are the real contract. */
  def decodeImagesStub(df: DataFrame, id: String, bin: String): Dataset[DecodedImage] =
    df.select(col(id).cast("long"), col(bin)).as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup for a real codec would happen here, once
        it.map { case (docId, bytes) =>
          DecodedImage(docId, bytes.length.toLong,
            bytes.foldLeft(0L)((acc, b) => acc + (b & 0xff)))
        }
      }
}
