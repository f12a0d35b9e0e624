package graft.tools

import graft.streaming.{FunnelConfig, FunnelPipeline}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The production funnel's per-trigger COST CURVE — the empirical gauge
  * behind SCALE.md's "trigger cost is flat in the accumulated corpus"
  * claim (FunnelScaleSpec pins the probe-input flatness deterministically;
  * this tool records the wall-clock curve a human reads). Slices the
  * sf-dir documents table into numBatches ∈ {4, 16, 64} id-range slices
  * (exactly FunnelPipeline.runSliced's replay), drives one trigger per
  * slice, and prints per-trigger wall seconds plus the gate-2
  * probe-input accumulator. Under the round-13 design the per-trigger
  * cost grew with the accumulated index (each trigger re-read ALL
  * `b=<id>` deltas); under the bucket-keyed state machine it stays flat.
  * Usage: runMain graft.tools.FunnelCurve [sfDir] */
object FunnelCurve {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local(8)
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("text"))
    // trivial frozen artifacts (the parity suites' convention): gates 3-5
    // pass everything, isolating the stateful gates whose curve matters.
    // driver-bounded: O(languages) — one +inf boundary per lang
    val cuts = docs.select(col("lang")).distinct().as[String].collect()
      .map(_ -> ((Long.MaxValue, Long.MaxValue))).toMap
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab), cuts,
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
    val bench = docs.limit(0)
    // driver-bounded: O(1) — the id bounds defining the slices
    val bounds = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val lo = bounds.getLong(0)
    val hi = bounds.getLong(1)
    for (nb <- Seq(4, 16, 64)) {
      val dir = Files.createTempDirectory(s"graft_curve_$nb").toString
      Files.createDirectories(Paths.get(s"$dir/in"))
      val meter = spark.sparkContext.longAccumulator(s"probe_input_$nb")
      val q = FunnelPipeline.start(spark,
        spark.readStream.schema(docs.schema).parquet(s"$dir/in"), dir,
        bench, vocab, cfg, probeMeter = Some(meter))
      val span = (hi - lo) / nb + 1
      val rows = try {
        (0 until nb).map { k =>
          val before = meter.value
          val t0 = System.nanoTime()
          docs.filter(col("doc_id") >= lo + k * span &&
              col("doc_id") < lo + (k + 1) * span)
            .coalesce(1).write.mode("append").parquet(s"$dir/in")
          q.processAllAvailable()
          (k, (System.nanoTime() - t0) / 1e9, meter.value - before)
        }
      } finally q.stop()
      val walls = rows.map(_._2)
      println(f"nb=$nb%-3d total=${walls.sum}%6.1fs " +
        f"first=${walls.head}%5.2fs last=${walls.last}%5.2fs " +
        f"median=${walls.sorted.apply(nb / 2)}%5.2fs " +
        s"probeRows=${rows.map(_._3).mkString(",")}")
      println(s"  per-trigger: " +
        walls.map(w => f"$w%.2f").mkString(", "))
    }
    spark.stop()
  }
}
