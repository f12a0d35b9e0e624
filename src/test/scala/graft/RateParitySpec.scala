package graft

import graft.operators.CoreOps
import graft.sources.Generators
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The continuous E4/E5 pipelines over the synthetic rate-source generator
  * must emit exactly what the batch cores emit on the same generated slice —
  * the end-to-end twin of the reference's generator-thread demos
  * (chapter3/WindowOperations.java:124-138, chapter3/WindowJoin.java:119-158).
  *
  * Strategy: the generator's fields are pure functions of the row index
  * (Generators.auditColumns), so a slice captured from the live rate stream
  * is reproducible as a bounded batch frame (auditBatch); streaming cores are
  * then replayed over the identical slice via MemoryStream, which (unlike the
  * never-exhausting rate source) is processAllAvailable-safe. */
class RateParitySpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  /** The bounded batch twin of auditRateStream: the identical records for
    * row indices [0, n). */
  private def auditBatch(n: Int): org.apache.spark.sql.DataFrame =
    Generators.auditColumns(spark.range(n).toDF("value"), 1700000000000L)

  test("rate-source records equal the bounded batch twin on the captured slice") {
    val q = Generators.auditRateStream(spark, rowsPerBatch = 40)
      .writeStream.outputMode("append").format("memory").queryName("rate_slice").start()
    try { // rate sources never exhaust: poll, never processAllAvailable
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("rate_slice").count() < 120 &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()
    val captured = spark.table("rate_slice").cache()
    val n = captured.agg(max("id")).as[Int].head() + 1
    assert(n >= 120 && captured.count() == n) // contiguous slice, no gaps
    val twin = auditBatch(n)
    assert(captured.exceptAll(twin).isEmpty && twin.exceptAll(captured).isEmpty,
      "captured stream slice differs from the deterministic batch twin")
  }

  private def slice(n: Int): Seq[(Int, String, String, Long)] =
    auditBatch(n)
      .select(col("id"), col("user"), col("operation"), col("timestamp"))
      .as[(Int, String, String, Long)].collect().toSeq

  test("streaming session summary equals the batch core on the generated slice (E4)") {
    val rows = slice(300)
    val input = MemoryStream[(Int, String, Long)]
    val stream = input.toDF().toDF("id", "user", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    val q = StreamOps.sessionSummary(stream, "user", "event_time", "1 second", "1 second")
      .writeStream.outputMode("append").format("memory").queryName("rate_sess").start()
    try {
      rows.grouped(100).foreach { chunk =>
        input.addData(chunk.map(r => (r._1, r._2, r._4)))
        q.processAllAvailable()
      }
      // a far-future sentinel pushes the watermark past every real session;
      // one more batch then flushes the final pending sessions
      val sentinelTs = rows.map(_._4).max + 3600000L
      input.addData((-1, "zz_sentinel", sentinelTs)); q.processAllAvailable()
      input.addData((-2, "zz_sentinel", sentinelTs + 1000)); q.processAllAvailable()
      val streamed = spark.table("rate_sess")
        .filter(col("user") =!= "zz_sentinel")
        .as[(String, Long, Long, Long)].collect().toSet
      val batch = CoreOps.sessionSummary(
          auditBatch(300)
            .withColumn("event_time", timestamp_millis(col("timestamp"))),
          "user", "event_time", "1 second")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed == batch,
        s"streamed-only=${streamed -- batch}, batch-only=${batch -- streamed}")
      // the slice must actually exercise session splits, not one blob per user
      assert(batch.size > 3, s"degenerate fixture: ${batch.size} sessions")
    } finally q.stop()
  }

  test("streaming windowed self-join equals the batch core on the generated slice (E5)") {
    val rows = slice(300)
    val input = MemoryStream[(Int, String, String, Long)]
    val stream = input.toDF().toDF("id", "user", "operation", "ts_ms")
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
    def side(df: org.apache.spark.sql.DataFrame, op: String) =
      df.filter(col("operation") === op)
        .select(col("user"), col("event_time"), col("id").as("event_id"))
    val joined = StreamOps.windowJoin(side(stream, "Create"), side(stream, "Delete"),
      "user", "event_time", "1 second", "10 seconds",
      Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("rate_join").start()
    try {
      rows.grouped(100).foreach { chunk =>
        input.addData(chunk); q.processAllAvailable()
      }
      val streamed = spark.table("rate_join")
        .as[(String, Long, Int, Int)].collect().toSet
      val batchAudit = auditBatch(300)
        .withColumn("event_time", timestamp_millis(col("timestamp")))
      val batch = CoreOps.windowJoin(side(batchAudit, "Create"), side(batchAudit, "Delete"),
          "user", "event_time", "10 seconds",
          Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
        .as[(String, Long, Int, Int)].collect().toSet
      assert(streamed == batch,
        s"streamed-only=${streamed -- batch}, batch-only=${batch -- streamed}")
      assert(batch.nonEmpty, "degenerate fixture: no join matches")
    } finally q.stop()
  }
}
