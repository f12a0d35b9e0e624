package graft

import graft.operators.LogReg
import org.apache.spark.sql.functions._

/** The trained quality classifier's unit contract: fit mirrors an
  * independent hand fold integer for integer, scoring freezes the
  * boundary at 500000 ppm, and the domain guards fail loud. */
class LogRegSpec extends SparkSpec {
  import spark.implicits._

  private val rows = Seq(
    // (y, x1, x2) — y separable-ish on x1
    (1L, 10L, 2L), (1L, 9L, 4L), (1L, 8L, 1L), (1L, 11L, 3L),
    (0L, 1L, 3L), (0L, 2L, 2L), (0L, 0L, 4L), (0L, 3L, 1L), (0L, 2L, 5L))
  private def df = rows.toDF("y", "x1", "x2")

  /** The reference fold: plain Scala mirror of the documented algorithm
    * (quantized sigmoid at the term, exact sums, trunc-div update). */
  private def handFit(data: Seq[(Long, Long, Long)], roundsN: Int,
                      lr: Long): Seq[Array[Long]] = {
    val w = Array(0L, 0L, 0L)
    val n = data.size.toLong
    (1 to roundsN).map { _ =>
      val g = Array(BigInt(0), BigInt(0), BigInt(0))
      data.foreach { case (y, x1, x2) =>
        val z = w(0) + w(1) * x1 + w(2) * x2
        val s = math.floor(1000000.0 /
          (1.0 + math.exp(-z.toDouble / 1000000.0))).toLong
        val r = y * 1000000L - s
        g(0) += r; g(1) += r * x1; g(2) += r * x2
      }
      for (j <- 0 to 2)
        w(j) += ((BigInt(lr) * g(j)) / (BigInt(1000000L) * n)).toLong
      w.clone()
    }
  }

  test("fit matches the independent hand fold integer for integer, " +
      "every round") {
    val (hist, fin) = LogReg.fit(df, "y", Seq("x1", "x2"), 6, 100000L)
    val want = handFit(rows, 6, 100000L)
    assert(hist.map(_.toSeq) === want.map(_.toSeq))
    assert(fin.toSeq === want.last.toSeq)
    // the separable direction strengthens monotonically round over round
    assert(hist.map(_(1)).sliding(2).forall(p => p(1) > p.head))
  }

  test("historyFrame emits (round, w0_ppm..wk_ppm) in round order") {
    val got = LogReg.historyFrame(spark,
        LogReg.fit(df, "y", Seq("x1", "x2"), 3, 100000L)._1)
      .orderBy("round").collect()
    val want = handFit(rows, 3, 100000L)
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(got.map(r => Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      === want.map(_.toSeq))
  }

  test("score: quantized sigmoid under frozen weights; pred flips at " +
      "exactly 500000 ppm (z = 0 scores exactly 500000 and predicts true)") {
    val scored = LogReg.score(df, "y", Seq("x1", "x2"),
      Array(0L, 0L, 0L), Seq.empty)
    // all-zero weights: z = 0 → sigma = 0.5 → exactly 500000, pred true
    assert(scored.select("score_ppm").as[Long].collect().toSet === Set(500000L))
    assert(scored.select("pred").as[Boolean].collect().forall(identity))
    val neg = LogReg.score(df, "y", Seq("x1", "x2"),
      Array(-1L, 0L, 0L), Seq.empty)
    assert(neg.select("pred").as[Boolean].collect().forall(!_))
  }

  test("guards fail loud: label outside {0,1}, oversized feature, " +
      "non-integral column, bad shapes") {
    val bad = Seq((2L, 1L, 1L)).toDF("y", "x1", "x2")
    assertThrows[Exception](
      LogReg.fit(bad, "y", Seq("x1", "x2"), 1, 1000L))
    val big = Seq((1L, 2000000L, 1L)).toDF("y", "x1", "x2")
    assertThrows[Exception](
      LogReg.fit(big, "y", Seq("x1", "x2"), 1, 1000L))
    val dbl = Seq((1L, 0.5, 1L)).toDF("y", "x1", "x2")
    assertThrows[IllegalArgumentException](
      LogReg.fit(dbl, "y", Seq("x1", "x2"), 1, 1000L))
    assertThrows[IllegalArgumentException](
      LogReg.fit(df, "y", Seq.empty, 1, 1000L))
    assertThrows[IllegalArgumentException](
      LogReg.fit(df, "y", Seq("x1"), 0, 1000L))
    assertThrows[IllegalArgumentException](
      LogReg.score(df, "y", Seq("x1", "x2"), Array(0L, 0L), Seq.empty))
  }

  test("scoreGateEachBatch: the streaming ingest gate emits EXACTLY the " +
      "batch scorer's rows however the micro-batches split") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val weights = Array(-400000L, 60000L, 10000L)
    val all = Seq((1L, 5L, 2L), (2L, 9L, 4L), (3L, 2L, 1L), (4L, 12L, 3L))
    val batchOut = graft.operators.LogReg.scoreUnlabeled(
        all.toDF("id", "x1", "x2"), Seq("x1", "x2"), weights, Seq("id"))
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    val input = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Long, Boolean)]
    val q = graft.streaming.StreamOps.scoreGateEachBatch(
      input.toDS().toDF("id", "x1", "x2"), Seq("x1", "x2"), weights,
      Seq("id")) { (out, _) =>
      got ++= out.as[(Long, Long, Long, Long, Boolean)].collect()
    }.start()
    try {
      input.addData(all.take(1)); q.processAllAvailable()
      input.addData(all.drop(1)); q.processAllAvailable()
      assert(got.toSet === batchOut)
      // the gate actually splits: both verdicts appear
      assert(got.map(_._5).toSet === Set(true, false))
    } finally q.stop()
  }

  test("NULL rows drop from training rather than poisoning the sums") {
    val withNull = rows.toDF("y", "x1", "x2")
      .unionByName(Seq((Option.empty[Long], Option(1L), Option(1L)))
        .toDF("y", "x1", "x2"))
    val (h1, _) = LogReg.fit(withNull, "y", Seq("x1", "x2"), 2, 100000L)
    assert(h1.map(_.toSeq) === handFit(rows, 2, 100000L).map(_.toSeq))
  }
}
