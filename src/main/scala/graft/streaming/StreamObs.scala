package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-ops observability: each live query's
  * `StreamingQueryProgress` history flattened into ONE queryable frame —
  * the run-time twin of the batch monitors (throughput, state size,
  * watermark lag, late-data drops), the table an ops dashboard reads
  * instead of scraping logs.
  *
  * Shape: `recentProgress` is driver-local and bounded by
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100 events per
  * query), so building the frame moves O(queries · 100) rows through the
  * driver — a metadata fold, never stream data. Metric semantics are
  * Spark's own (StreamingQueryProgress / StateOperatorProgress):
  * `state_rows` sums `numRowsTotal` across the query's stateful
  * operators, `rows_dropped_by_watermark` sums
  * `numRowsDroppedByWatermark` (the late-data side-output gauge),
  * `watermark` is the event-time watermark string (NULL until the first
  * watermark advances, and for stateless queries). Rates can be NaN on
  * an idle trigger — kept as emitted, this frame is observability, not
  * an oracle surface. */
object StreamObs {

  /** One row per (query, retained progress event). */
  final case class ProgressRow(
      query_name: String, batch_id: Long, trigger_ts: String,
      input_rows: Long, input_rows_per_sec: Double,
      processed_rows_per_sec: Double, batch_duration_ms: Long,
      state_rows: Long, state_rows_updated: Long,
      rows_dropped_by_watermark: Long, watermark: Option[String])

  /** Flatten one query's retained progress under a caller-chosen name. */
  private def progressRows(name: String,
                           q: StreamingQuery): Seq[ProgressRow] =
    q.recentProgress.toSeq.map { p =>
      ProgressRow(
        query_name = name,
        batch_id = p.batchId,
        trigger_ts = p.timestamp,
        input_rows = p.numInputRows,
        input_rows_per_sec = p.inputRowsPerSecond,
        processed_rows_per_sec = p.processedRowsPerSecond,
        batch_duration_ms =
          Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(0L),
        state_rows = p.stateOperators.map(_.numRowsTotal).sum,
        state_rows_updated = p.stateOperators.map(_.numRowsUpdated).sum,
        rows_dropped_by_watermark =
          p.stateOperators.map(_.numRowsDroppedByWatermark).sum,
        watermark = Option(p.eventTime.get("watermark")))
    }

  /** The dashboard table: every named query's progress history as one
    * DataFrame (schema pinned by StreamObsSpec). Query it like any other
    * frame — e.g. max state_rows per query, sum of watermark drops, p95
    * batch duration. */
  def progressFrame(spark: SparkSession,
                    queries: Seq[(String, StreamingQuery)]): DataFrame = {
    import spark.implicits._
    val all = queries.flatMap { case (n, q) => progressRows(n, q) }
    spark.createDataset(all).toDF()
  }
}
