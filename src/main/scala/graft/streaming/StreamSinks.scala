package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming sinks mirroring §2.2 of the survey. */
object StreamSinks {

  /** Console sink ≙ `.print()` (chapter2/KeyedStreamOperations.java:81). */
  def console(df: DataFrame, mode: String = "append"): StreamingQuery =
    df.writeStream.outputMode(mode).format("console").start()

  /** Row-format file sink ≙ StreamingFileSink.forRowFormat
    * (chapter2/BasicStreamingOperations.java:105-115). Spark's file sink is
    * exactly-once per partition file via the checkpoint + _spark_metadata
    * commit log. */
  def csv(df: DataFrame, path: String, checkpoint: String): StreamingQuery =
    df.writeStream.outputMode("append").format("csv")
      .option("path", path).option("checkpointLocation", checkpoint).start()

  /** Side-output twin (chapter2/StreamSplitAndMerge.java:68-102): one pass per
    * micro-batch, fanned out to two writers by predicate. The batch is
    * persisted so the source is read once per trigger, like the reference's
    * single ProcessFunction pass. */
  def split(df: DataFrame, pred: Column)(onMatch: DataFrame => Unit)
           (onRest: DataFrame => Unit): StreamingQuery =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val cached = batch.persist()
        // NULL predicates go to the rest side — !pred alone would drop them
        try {
          onMatch(cached.filter(pred))
          onRest(cached.filter(org.apache.spark.sql.functions.coalesce(
            !pred, org.apache.spark.sql.functions.lit(true))))
        }
        finally { cached.unpersist(); () }
    }.start()

  /** Side-effecting record-count observer ≙ the reference's pretty-printing
    * map stages (common/MapCountPrinter.java:26-32 and friends). Spark-native
    * form: `observe` attaches a named aggregate evaluated per micro-batch and
    * surfaced in StreamingQueryProgress.observedMetrics — observability
    * without a second pass over the data (the reference paid an extra map). */
  def observed(df: DataFrame, label: String): DataFrame =
    df.observe(s"graft_$label",
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("records"))
}
