package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f, 0.0f)), // near vec 0
    (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)), // orthogonal to vec 0
    (3L, Seq(0.0f, 0.0f, 1.0f, 0.0f)))

  test("cosine: identical → 1, orthogonal → 0") {
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f), Seq(-2.0f, 1.0f))).toDF("a", "b", "c")
    val got = df.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c"))).as[(Double, Double)].head()
    assert(math.abs(got._1 - 1.0) < 1e-12 && math.abs(got._2) < 1e-12)
  }

  test("bruteForceTopK ranks by cosine, excludes self, breaks ties by id") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(df, df.filter(col("vec_id") === 0),
        "vec_id", "embedding", 2)
      .orderBy("rank").as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(1L, 2L)) // nearest is vec 1, then the tie (2,3) → id 2
  }

  test("knnLabelDisagreement: neighbor labels vote against the query's; " +
      "NULL neighbor labels count toward k but not disagreement") {
    // labels: 0 -> A, 1 -> A, 2 -> B, 3 -> NULL
    val df = vecs.toDF("vec_id", "embedding").withColumn("label",
      when(col("vec_id") < 2, "A").when(col("vec_id") === 2, "B"))
    val got = Similarity.knnLabelDisagreement(df,
        df.filter(col("vec_id") === 0), "vec_id", "embedding", "label", 2)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    // vec 0's 2 nearest: vec 1 (A, agrees), vec 2 (B, disagrees) -> rate 0.5
    assert(got == Seq((0L, "A", 2L, 1L, 0.5)))
    // k above corpus size: all 3 neighbors, the NULL-label one not counted
    val all = Similarity.knnLabelDisagreement(df,
        df.filter(col("vec_id") === 0), "vec_id", "embedding", "label", 10)
      .as[(Long, String, Long, Long, Double)].collect().toSeq
    assert(all == Seq((0L, "A", 3L,
      1L, math.floor(1d / 3d * 1000000d) / 1000000d)))
    // NULL-label query points drop
    assert(Similarity.knnLabelDisagreement(df,
      df.filter(col("vec_id") === 3), "vec_id", "embedding", "label", 2)
      .isEmpty)
    assertThrows[IllegalArgumentException](
      Similarity.knnLabelDisagreement(df, df, "vec_id", "embedding",
        "label", 0))
  }

  test("centroidDrift: per-label centroid cosine between slices; labels " +
      "in only one slice drop") {
    val a = Seq((0L, Seq(1.0f, 0.0f), "X"), (2L, Seq(0.0f, 1.0f), "X"),
      (4L, Seq(1.0f, 0.0f), "Y")).toDF("vec_id", "embedding", "label")
    val b = Seq((1L, Seq(1.0f, 1.0f), "X")).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidDrift(a, b, "label", "vec_id",
        "embedding", 2)
      .as[(String, Long, Long, Double)].collect().toSeq
    // centroid A(X) = (0.5, 0.5), B(X) = (1, 1); expectation through the
    // operator's own fold/sqrt/divide chain
    def dotF(x: Seq[Double], y: Seq[Double]) =
      x.zip(y).foldLeft(0.0d) { case (acc, (p, q)) => acc + p * q }
    val (ca, cb) = (Seq(0.5d, 0.5d), Seq(1.0d, 1.0d))
    val cos = dotF(ca, cb) / (math.sqrt(dotF(ca, ca)) * math.sqrt(dotF(cb, cb)))
    assert(got == Seq(("X", 2L, 1L, math.floor(cos * 1000000d) / 1000000d)))
  }

  test("rrfFuse: shared items sum both reciprocal terms, one-list items " +
      "keep one; per-query partitioned join") {
    val a = Seq((0L, 10L, 1L), (0L, 11L, 2L), (1L, 20L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((0L, 10L, 2L), (0L, 12L, 1L))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Similarity.rrfFuse(a, b, Seq("query_id"), "neighbor_id",
        "rank", 60)
      .as[(Long, Long, Option[Long], Option[Long], Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    def t6(x: Double) = math.floor(x * 1000000d) / 1000000d
    assert(got((0L, 10L)) ==
      ((Some(1L), Some(2L), t6(1.0 / 61.0 + 1.0 / 62.0))))
    assert(got((0L, 11L)) == ((Some(2L), None, t6(1.0 / 62.0 + 0.0))))
    assert(got((0L, 12L)) == ((None, Some(1L), t6(0.0 + 1.0 / 61.0))))
    assert(got((1L, 20L)) == ((Some(1L), None, t6(1.0 / 61.0 + 0.0))))
    assertThrows[IllegalArgumentException](
      Similarity.rrfFuse(a, b, Seq("query_id"), "neighbor_id", "rank", 0))
  }

  test("hyperplaneSig: identical vectors share a bucket; sig is deterministic") {
    val df = Seq((0L, Seq(0.5f, -0.5f, 1.0f, 2.0f)), (1L, Seq(0.5f, -0.5f, 1.0f, 2.0f)))
      .toDF("vec_id", "embedding")
    val sigs = df.select(Similarity.hyperplaneSig(col("embedding"), 4, 8)).as[Long].collect()
    assert(sigs(0) == sigs(1))
    val again = df.select(Similarity.hyperplaneSig(col("embedding"), 4, 8)).as[Long].collect()
    assert(sigs.toSeq == again.toSeq)
  }

  test("randomProject: bit-identical to the interpreted zip_with fold, " +
      "signs agree with hyperplaneSig bits, JL preserves relative order") {
    val df = Seq(
      (0L, Seq(0.5f, -0.5f, 1.0f, 2.0f)),
      (1L, Seq(0.5f, -0.5f, 1.0f, 2.0f)),   // identical → identical projection
      (2L, Seq(-2.0f, 0.25f, 0.0f, -1.5f))).toDF("vec_id", "embedding")
    val m = 8
    val proj = Similarity.randomProject(df, "embedding", 4, m)
    val got = proj.orderBy("vec_id")
      .select(array((0 until m).map(j => col(s"rp_$j")): _*))
      .as[Seq[Double]].collect()
    assert(got(0) == got(1)) // exact doubles — the fold is deterministic
    // the kernel's dot must equal an independent interpreted fold against
    // the SAME md5-derived ±1 planes (re-derived here from first principles)
    val md = java.security.MessageDigest.getInstance("MD5")
    def planeVal(p: Int, d: Int): Double = {
      val dig = md.digest(s"$p:$d".getBytes("UTF-8"))
      if ((dig(3) & 1) == 1) 1.0d else -1.0d
    }
    val rows = Seq(Seq(0.5f, -0.5f, 1.0f, 2.0f), Seq(0.5f, -0.5f, 1.0f, 2.0f),
      Seq(-2.0f, 0.25f, 0.0f, -1.5f))
    for ((v, r) <- rows.zipWithIndex; j <- 0 until m) {
      val expected = v.indices.foldLeft(0.0d)((a, d) =>
        a + v(d).toDouble * planeVal(j, d))
      assert(got(r)(j) == expected, s"row $r plane $j")
    }
    // dense/sign consistency: sign(rp_j) == bit j of the LSH signature
    val sig = df.filter(col("vec_id") === 2)
      .select(Similarity.hyperplaneSig(col("embedding"), 4, m)).as[Long].head()
    for (j <- 0 until m)
      assert((got(2)(j) >= 0) == (((sig >> j) & 1L) == 1L), s"plane $j sign")
    assertThrows[IllegalArgumentException](
      Similarity.randomProject(proj, "embedding", 4, m)) // rp_* clash
  }

  test("kmeansCentroids: deterministic, keeps nlist cells, improves IVF recall") {
    // clustered fixture: three axis-aligned clusters of 8 vectors each in 4 dims,
    // cluster spread small vs inter-cluster angle; seeds (lowest 2 ids) both
    // land in cluster 0, so seeded IVF mis-probes clusters 1/2 — training
    // must migrate the two centroids toward real cluster structure
    def gauss(seed: Int): Double = { // deterministic tiny jitter
      val x = (seed * 2654435761L) % 1000
      (x / 1000.0 - 0.5) * 0.1
    }
    val base = Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 0.0, 1.0, 0.0))
    val rows = (0 until 24).map { i =>
      val c = i / 8
      (i.toLong, base(c).zipWithIndex.map { case (v, d) => (v + gauss(i * 7 + d)).toFloat })
    }
    val emb = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2, 2)
    // determinism: run twice, bit-identical centroids
    val trained2 = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2, 2)
    assert(trained.orderBy("vec_id").collect().toSeq ==
      trained2.orderBy("vec_id").collect().toSeq)
    assert(trained.count() == 2)
    def recall(cent: org.apache.spark.sql.DataFrame): Double = {
      val truth = Similarity.bruteForceTopK(emb, emb, "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val got = Similarity.ivfTopK(emb, emb, cent, "vec_id", "embedding", 3, 1)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val seeded = recall(Similarity.seedCentroids(emb, "vec_id", 2))
    val trainedRecall = recall(trained)
    assert(trainedRecall >= seeded,
      s"trained recall $trainedRecall < seeded $seeded")
    assert(trainedRecall > 0.3, s"trained recall $trainedRecall unexpectedly low")
  }

  test("kmeansCentroids at iters=8: lineage is cut per round, result stays deterministic") {
    val rows = (0 until 24).map { i =>
      (i.toLong, (0 until 4).map(d => (((i * 7 + d) * 2654435761L % 1000) / 1000.0).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2, 8)
    // localCheckpoint truncates each round: the FINAL plan must not re-derive
    // earlier rounds (no Aggregate/Join subtrees left — just the checkpointed
    // RDD and a rename projection)
    val plan = trained.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate") && !plan.contains("Join"),
      s"iteration lineage not truncated:\n$plan")
    val again = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2, 8)
    assert(trained.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
  }

  test("kmeansCentroidsSampled trains on the md5 sample but keeps all seed cells") {
    val rows = (0 until 24).map { i =>
      (i.toLong, (0 until 4).map(d => (((i * 7 + d) * 2654435761L % 1000) / 1000.0).toFloat))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val trained = Similarity.kmeansCentroidsSampled(emb, "vec_id", "embedding", 4, 2, 2, 4)
    assert(trained.count() == 2) // every seed cell survives (seeds are in the sample)
    // deterministic: same sample, same centroids, run to run
    val again = Similarity.kmeansCentroidsSampled(emb, "vec_id", "embedding", 4, 2, 2, 4)
    assert(trained.orderBy("vec_id").collect().toSeq ==
      again.orderBy("vec_id").collect().toSeq)
    // and it genuinely subsets the corpus: training on everything with the
    // same seeds gives different centroids on this spread-out fixture
    val full = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 4, 2, 2)
    assert(trained.orderBy("vec_id").collect().toSeq !=
      full.orderBy("vec_id").collect().toSeq)
  }

  test("groupCentroids: deterministic sorted-fold means per label") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 1), (1L, Seq(0.0f, 1.0f), 1),
      (2L, Seq(4.0f, 4.0f), 2)).toDF("vec_id", "embedding", "label")
    val got = Similarity.groupCentroids(emb, "label", "vec_id", "embedding", 2)
      .orderBy("label").as[(Int, Long, Seq[Double])].collect().toSeq
    assert(got == Seq((1, 2L, Seq(0.5, 0.5)), (2, 1L, Seq(4.0, 4.0))))
    // partitioning-independence: same doubles from a different layout
    val again = Similarity.groupCentroids(emb.repartition(3), "label", "vec_id",
      "embedding", 2).orderBy("label").as[(Int, Long, Seq[Double])].collect().toSeq
    assert(got == again)
  }

  test("lshTopK finds bucket-mates; results are a subset of brute-force pairs") {
    val df = vecs.toDF("vec_id", "embedding")
    val lsh = Similarity.lshTopK(df, df, "vec_id", "embedding", 4, 2, 2)
      .as[(Long, Long, Long)].collect().toSeq
    // with only 2 planes everything near collides; every reported neighbor
    // must at least be a real (non-self) corpus vector
    assert(lsh.nonEmpty)
    assert(lsh.forall { case (q, _, n) => q != n })
  }

  test("multi-table LSH recall is a superset of single-table recall") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(d => (math.sin(i * 37 + d) * 10).toFloat))
    }.toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(Similarity.lshTopK(
      vecs, vecs, "vec_id", "embedding", 8, 6, 40))
    val multi = pairs(Similarity.lshTopKMulti(
      vecs, vecs, "vec_id", "embedding", 8, 6, 40, 3))
    assert(single.subsetOf(multi), "multi-table candidates must contain table 0's")
    assert(multi.size >= single.size)
  }

  test("ivfTopK searches only probed cells and finds the planted neighbor") {
    // cells are seeded by vecs 0 and 1 (orthogonal); vec 2 ≈ vec 0's cell,
    // vec 3 ≈ vec 1's cell — probing 1 cell must still find the same-cell
    // neighbor and may legitimately miss the cross-cell one
    val df = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.95f, 0.05f)), (3L, Seq(0.05f, 0.95f))).toDF("vec_id", "embedding")
    val got = Similarity.ivfTopK(df, df.filter(col("vec_id") === 2),
        Similarity.seedCentroids(df, "vec_id", 2), "vec_id", "embedding", 1, 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 1L, 0L))) // nearest in vec 2's own cell is vec 0
  }

  test("sqEncode/sqDequant: int8 round trip within one quantization step") {
    val df = vecs.toDF("vec_id", "embedding")
    val (mins, maxs) = Similarity.sqBounds(df, "embedding", 4)
    assert(mins == Seq(0.0, 0.0, 0.0, 0.0) && maxs == Seq(1.0, 1.0, 1.0, 0.0))
    val enc = df.select(col("vec_id"),
      Similarity.sqEncode(col("embedding"), mins, maxs).as("code"))
    // codes are genuine TINYINT (1 byte/dim at rest)
    assert(enc.schema("code").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.ByteType)
    val codes = enc.as[(Long, Seq[Byte])].collect().toMap
    assert(codes(0L) == Seq[Byte](127, -128, -128, -128)) // max→127, min→-128
    // dequantized values sit within one step (span/255) of the input; the
    // degenerate dim 3 (span 0) reconstructs exactly at its pinned value
    val deq = df.select(col("vec_id"),
        Similarity.sqDequant(
          Similarity.sqEncode(col("embedding"), mins, maxs), mins, maxs).as("d"),
        col("embedding"))
      .as[(Long, Seq[Double], Seq[Float])].collect()
    deq.foreach { case (_, d, orig) =>
      d.zip(orig).zipWithIndex.foreach { case ((dv, ov), i) =>
        val step = (maxs(i) - mins(i)) / 255.0
        assert(math.abs(dv - ov) <= step + 1e-12, s"dim $i: $dv vs $ov")
      }
    }
  }

  test("sqReconstruct is bit-identical to the staged sqDequant(sqEncode) pair") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (mins, maxs) = Similarity.sqBounds(emb, "embedding", 64)
    val staged = emb.select(col("vec_id"),
        Similarity.sqEncode(col("embedding"), mins, maxs).as("c"))
      .select(col("vec_id"), Similarity.sqDequant(col("c"), mins, maxs).as("d"))
      .as[(Long, Seq[Double])].collect().toMap
    val fused = emb.select(col("vec_id"),
        Similarity.sqReconstruct(col("embedding"), mins, maxs).as("d"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(staged.keySet == fused.keySet)
    staged.foreach { case (id, d) => assert(d == fused(id), s"vec $id") }
  }

  test("sqTopK ranks like brute force when quantization error cannot flip ranks") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.sqTopK(df, df.filter(col("vec_id") === 0),
        "vec_id", "embedding", 2, 4)
      .orderBy("rank").as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._3) == Seq(1L, 2L))
  }

  test("pqReconstruct snaps each slice to its nearest centroid, ties to first") {
    import graft.expressions.VectorKernelExpressions
    // subspace 0: centroids along x and y; subspace 1: two diagonal cells
    val cbs: Seq[Seq[Seq[Double]]] = Seq(
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),
      Seq(Seq(1.0, 1.0), Seq(-1.0, 1.0)))
    val df = Seq(
      (1L, Seq(0.9f, 0.1f, 2.0f, 2.1f)),  // → x-centroid, then (1,1)
      (2L, Seq(0.1f, 0.9f, -3.0f, 3.0f))) // → y-centroid, then (-1,1)
      .toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        VectorKernelExpressions.pqReconstruct(col("embedding"), cbs).as("r"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got(1L) == Seq(1.0, 0.0, 1.0, 1.0))
    assert(got(2L) == Seq(0.0, 1.0, -1.0, 1.0))
    // a cosine tie (45° between the two subspace-0 centroids) keeps the
    // FIRST (smallest cell id) centroid — the oracle's row_number tiebreak
    val tie = Seq((3L, Seq(1.0f, 1.0f, 1.0f, 1.0f))).toDF("vec_id", "embedding")
    val t = tie.select(VectorKernelExpressions.pqReconstruct(col("embedding"), cbs))
      .as[Seq[Double]].head()
    assert(t.take(2) == Seq(1.0, 0.0))
  }

  test("pqCodebooks trains one codebook per subspace; pqTopK keeps the planted neighbor") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val cbs = Similarity.pqCodebooks(emb, "vec_id", "embedding", 64, 4, 8, 1)
    assert(cbs.size == 4)
    cbs.foreach { cb =>
      assert(cb.nonEmpty && cb.size <= 8)
      cb.foreach(c => assert(c.size == 16))
    }
    val got = Similarity.pqTopK(emb, emb.filter(col("vec_id") < 2),
        "vec_id", "embedding", 5, 64, 4, 8, 1)
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 5L, 1L -> 5L))
  }

  test("recallAtK counts recovered exact neighbors per query") {
    val exact = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L), (20L, 4L), (20L, 5L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((10L, 2L), (10L, 3L), (10L, 9L), (20L, 7L), (20L, 8L), (20L, 9L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(approx, exact, "query_id", "neighbor_id", 3)
      .as[(Long, Double)].collect().toMap
    assert(got == Map(10L -> (2.0 / 3), 20L -> 0.0))
  }

  test("cosineDupPairs reports each qualifying pair once with truncated score") {
    val df = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.cosineDupPairs(df, "vec_id", "embedding", 2, 2, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((0L, 1L, 1.0)))
  }

  test("bruteForceTopK / knnLabelDisagreement refuse an oversized query " +
      "side with a diagnostic instead of broadcasting it") {
    val corpus = vecs.toDF("id", "vec")
    val big = vecs.toDF("id", "vec") // 4 rows > cap 3
    val e1 = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(corpus, big, "id", "vec", 2, maxQueries = 3)
    }
    assert(e1.getMessage.contains("maxQueries=3"))
    val labeled = vecs.map { case (i, v) => (i, v, s"l$i") }
      .toDF("id", "vec", "label")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.knnLabelDisagreement(labeled, labeled, "id", "vec", "label",
        2, maxQueries = 3)
    }
    assert(e2.getMessage.contains("broadcast"))
    // within the cap both run: the probe is bounded, not a full count
    assert(Similarity.bruteForceTopK(corpus, big, "id", "vec", 1,
      maxQueries = 4).count() == 4L)
  }

  test("simplifiedSilhouette: a point ON its centroid scores 1, ties " +
      "assign to the smaller cell and score 0, the hand case matches the " +
      "fixed IEEE chain, a single centroid emits NULL") {
    val cents = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pts = Seq((10L, Seq(1.0f, 0.0f)),  // on centroid 1 → s = 1
      (11L, Seq(3.0f, 4.0f)),              // cell 2: a = 1−0.8, b = 1−0.6
      (12L, Seq(1.0f, 1.0f))               // exact tie → cell 1, s = 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.simplifiedSilhouette(pts, "vec_id", "embedding",
      cents).collect().map(r => r.getLong(0) -> r).toMap
    val a11 = 1.0 - 4.0 / 5.0
    val b11 = 1.0 - 3.0 / 5.0
    val s11 = math.floor((b11 - a11) / math.max(a11, b11) * 1e6).toLong
    assert(out(1L).getLong(1) == 2L) // points 10 (s=1e6) and 12 (s=0)
    assert(out(1L).getLong(2) == 1000000L)
    assert(out(1L).getDouble(3) == 1000000d / 2e6)
    assert(out(2L).getLong(1) == 1L && out(2L).getLong(2) == s11)
    // one centroid: b undefined → NULL, never a fake 0
    val lone = Similarity.simplifiedSilhouette(pts, "vec_id", "embedding",
      cents.filter(col("vec_id") === 1L)).collect()
    assert(lone.forall(r => r.isNullAt(2) && r.isNullAt(3)))
  }

  test("embeddingDiversity: exact floored pair distances on a hand set; " +
      "a lone point emits NULL; the maxPoints cap fails loud") {
    val pts = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(2.0f, 0.0f))).toDF("vec_id", "embedding")
    // sampleMod 1 keeps all; pairs: (1,2) d=1, (1,3) d=0, (2,3) d=1
    val r = Similarity.embeddingDiversity(pts, "vec_id", "embedding", 1)
      .head()
    assert(r.getLong(0) == 3L && r.getLong(1) == 3L)
    assert(r.getLong(2) == 2000000L)
    assert(r.getDouble(3) == math.floor(2000000d / 3d) / 1e6)
    val lone = Similarity.embeddingDiversity(
      pts.filter(col("vec_id") === 1L), "vec_id", "embedding", 1).head()
    assert(lone.getLong(1) == 0L && lone.isNullAt(3))
    val e = intercept[IllegalArgumentException] {
      Similarity.embeddingDiversity(pts, "vec_id", "embedding", 1,
        maxPoints = 2)
    }
    assert(e.getMessage.contains("embeddingDiversity"))
  }

  test("mmrTopK: greedy picks trade relevance against redundancy with " +
      "the picked set; lambda = 1 degenerates to pure relevance order") {
    // query (3,4): c12 = (0,1) is most relevant (0.8); c10/c11 = (1,0)/
    // (2,0) are mutually redundant (cos 1) at rel 0.6
    val corpus = Seq((10L, Seq(1.0f, 0.0f)), (11L, Seq(2.0f, 0.0f)),
      (12L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val q = Seq((1L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    val out = Similarity.mmrTopK(corpus, q, "vec_id", "embedding", 3, 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    val rel10 = 3.0 / (1.0 * 5.0) // dot 3, norms 1·5
    assert(out(1L) == ((12L, t6((1.0 * (4.0 / 5.0)) / 2.0))))
    // picks 2: c10/c11 tie at (0.6 − 0)/2 → smaller id
    assert(out(2L) == ((10L, t6((1.0 * rel10 - 1.0 * 0.0) / 2.0))))
    // pick 3: c11's max sim to picked is cos(c11, c10) = 1 → negative
    val rel11 = 6.0 / (2.0 * 5.0)
    assert(out(3L) == ((11L, t6((1.0 * rel11 - 1.0 * 1.0) / 2.0))))
    assert(out(3L)._2 < 0d)
    // λ = 1: redundancy ignored — order is exactly bruteForceTopK's
    val pure = Similarity.mmrTopK(corpus, q, "vec_id", "embedding", 3, 3,
        lambdaNum = 1, lambdaDen = 1)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    val bf = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(pure == bf)
  }

  test("covarianceScaled: hand-exact quantized moments on a rank-1 cloud; " +
      "wrong-length vectors abort") {
    val emb = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 6.0f), Seq(5.0f, 10.0f))
      .toDF("embedding")
    val cov = Similarity.covarianceScaled(emb, "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    // means (3, 6); centered products exact: Σ(x0−3)² = 8, Σ(x0−3)(x1−6)
    // = 16, Σ(x1−6)² = 32 — all ×1e6
    assert(cov == Map((0L, 0L) -> ((3L, 8000000L)),
      (0L, 1L) -> ((3L, 16000000L)), (1L, 0L) -> ((3L, 16000000L)),
      (1L, 1L) -> ((3L, 32000000L))))
    val bad = Seq(Seq(1.0f, 2.0f), Seq(3.0f)).toDF("embedding")
    val err = intercept[Exception](
      Similarity.covarianceScaled(bad, "embedding", 2).count())
    assert(err.getMessage.contains("covarianceScaled"))
  }

  test("pcaPowerDirection + pcaExplained: the rank-1 cloud's axis is " +
      "recovered exactly and explains 100% of trace") {
    val emb = Seq(Seq(1.0f, 2.0f), Seq(3.0f, 6.0f), Seq(5.0f, 10.0f))
      .toDF("embedding")
    val cov = Similarity.covarianceScaled(emb, "embedding", 2)
    val v = Similarity.pcaPowerDirection(cov, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // dominant axis ∝ (1, 2) → L∞-normalized ppm (500000, 1000000)
    assert(v == Map(0L -> 500000L, 1L -> 1000000L))
    val e = Similarity.pcaExplained(cov, Similarity.pcaPowerDirection(cov, 3))
      .head()
    // λ = vᵀCv/vᵀv = 4e7 = trace exactly → explained 1e6 ppm
    assert((e.getLong(0), e.getLong(1), e.getLong(2), e.getLong(3))
      == ((3L, 40000000L, 40000000L, 1000000L)))
  }

  test("hardNegatives: only cross-label vectors rank, ranking is exact " +
      "cosine desc with id tiebreak, NULL labels drop on both sides") {
    val corpus = Seq(
      (10L, Seq(1.0f, 0.0f), Some(0)), (11L, Seq(2.0f, 0.0f), Some(0)),
      (12L, Seq(0.0f, 1.0f), Some(1)), (13L, Seq(1.0f, 1.0f), Some(1)),
      (14L, Seq(1.0f, 0.0f), None)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(corpus,
        corpus.filter(col("vec_id") === 10L), "vec_id", "embedding",
        "label", 3)
      .collect().map(r => r.getLong(1) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // same-label 11 and unlabeled 14 never appear; 13 (cos 1/√2) beats
    // 12 (cos 0)
    assert(got == Map(
      1L -> ((13L, math.floor(1d / math.sqrt(2d) * 1e6) / 1e6)),
      2L -> ((12L, 0.0))))
  }

  test("projectionOutliers: exact integer projections onto a unit axis; " +
      "the far point flags at z=1, the cluster does not") {
    val emb = Seq((1L, Seq(1.0f, 5.0f)), (2L, Seq(2.0f, 9.0f)),
      (3L, Seq(100.0f, 0.0f))).toDF("vec_id", "embedding")
    val dir2 = Seq((0L, 1000000L), (1L, 0L)).toDF("dim", "loading_ppm")
    val got = Similarity.projectionOutliers(emb, "vec_id", "embedding",
        dir2, 1)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got == Map(
      1L -> ((1000000L * 1000000L, false)),
      2L -> ((2000000L * 1000000L, false)),
      3L -> ((100000000L * 1000000L, true))))
  }
}
