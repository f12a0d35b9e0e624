package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch twins of the reference's keyed state machines (§2.9) and event-time /
  * late-data semantics (§2.10), expressed with window functions so they are
  * SQL-expressible for the DuckDB oracle. The streaming forms live in
  * graft.streaming (flatMapGroupsWithState).
  *
  * All window specs order by (ts, tiebreak) so results are deterministic under
  * any parallelism. Each operator needs exactly one shuffle (hash on the key)
  * followed by a per-partition sort — the same exchange Flink's keyBy does.
  */
object StatefulTwins {
  import CoreOps.ms

  /** Delete-interval alert (chapter5/StatefulOperations.java:83-128): per key,
    * remember the timestamp of the last "delete-class" event; if a new one
    * arrives within `thresholdMs`, emit (key, gap_ms). The Flink version keeps
    * one ValueState[Long] per key and only inspects delete events — the twin
    * filters to the delete subsequence first (filter pushed to the scan), then
    * lag() gives the previous state value. The "No-Alerts" sentinel tuple of
    * the reference exists only because Flink's map must emit exactly one
    * record; a filter after lag subsumes it (reference drops it at :129-143).
    */
  def intervalAlert(df: DataFrame, key: String, ts: String, tiebreak: String,
                    typeCol: String, deleteType: String, thresholdMs: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    df.filter(col(typeCol) === deleteType)
      .withColumn("prev_ms", lag(ms(col(ts)), 1).over(w))
      .withColumn("gap_ms", ms(col(ts)) - col("prev_ms"))
      .filter(col("prev_ms").isNotNull && col("gap_ms") < thresholdMs)
      .select(col(key), ms(col(ts)).as("ts_ms"), col("gap_ms"))
  }

  /** Per-key action-duration tracker
    * (chapter6_exercise/AnalyzeBrowserEvents.java:115-181). Reference keeps two
    * ValueStates (last action, its start ts) per user: on each event it emits
    * (user, lastAction, now - lastStart) unless the state is empty or the
    * current action is Login; a Logout clears the state (so the next event
    * sees empty state and emits nothing). State after event i is therefore
    * event i unless event i was a Logout — which makes lag() the exact twin:
    * emit at row i iff prev exists, prev.type != logoutType, cur.type !=
    * loginType. The events table has no login/logout; the query layer maps
    * loginType/logoutType onto two event_type values.
    */
  def actionDurations(df: DataFrame, key: String, ts: String, tiebreak: String,
                      typeCol: String, loginType: String, logoutType: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    df.withColumn("prev_type", lag(col(typeCol), 1).over(w))
      .withColumn("prev_ms", lag(ms(col(ts)), 1).over(w))
      .filter(col("prev_type").isNotNull &&
        col("prev_type") =!= logoutType && col(typeCol) =!= loginType)
      .select(col(key), col("prev_type").as("action"),
        (ms(col(ts)) - col("prev_ms")).as("duration_ms"))
  }

  /** Event-time horizon dedup — the batch twin of
    * StateMachines.keepFirstEventTime (the replay-deterministic form of
    * the dedup machines' processing-time TTL): per key, a row is
    * ADMITTED (`is_first`) iff it is the key's first row in
    * (ts, tiebreak) order or lies more than `horizonMs` after its
    * PREDECESSOR — the alert-suppression / re-admission rule. Every
    * event refreshes the horizon anchor (last SEEN, the TTL re-arm
    * rule), so the anchor is always the previous row's ts and lag() is
    * the machine's fold exactly — the same DuckDB oracle checks both
    * (q_dedup_horizon / q_dedup_horizon_stream). */
  def horizonKeepFirst(df: DataFrame, key: String, ts: String,
                       tiebreak: String, horizonMs: Long): DataFrame = {
    require(horizonMs > 0, s"horizonMs must be > 0, got $horizonMs")
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
    df.withColumn("_prev_ms", lag(ms(col(ts)), 1).over(w))
      .withColumn("is_first", col("_prev_ms").isNull ||
        ms(col(ts)) - col("_prev_ms") > horizonMs)
      .drop("_prev_ms")
  }

  /** Watermark / late-data twin (chapter4/EventTimeOperations.java:102-134,146):
    * the reference tags an event late when its event time is older than the
    * watermark = (max event time seen so far) - lateness. In arrival order
    * (`arrivalCol`, ties broken by `tiebreak`), that is a running max over all
    * *previous* rows. Returns the input plus `is_late`.
    *
    * A running max over a global order is the classic distributed prefix-scan:
    * a single `Window.orderBy` (no partitionBy) would funnel every row through
    * one task. Instead:
    *   1. bucket rows by arrival-time range (bounds from an O(1) aggregate, so
    *      bucketing is deterministic — no sampling);
    *   2. per-bucket running max via a hash-partitioned window (distributed);
    *   3. per-bucket maxima — O(nBuckets) rows — come to the driver, where the
    *      exclusive prefix max per bucket is computed and broadcast-joined back.
    * Every earlier bucket holds strictly smaller arrival times, so
    * max(local running max, prefix max of earlier buckets) = the exact running
    * max over all preceding rows. Driver traffic is O(buckets), never O(rows),
    * which holds at any scale (the streaming form instead uses withWatermark()
    * and reports drops via numRowsDroppedByWatermark). */
  def withLateFlag(df: DataFrame, ts: String, arrivalCol: String, tiebreak: String,
                   latenessMs: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val nBuckets = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val bucket = CoreOps.timeRangeBucket(df, col(arrivalCol).cast("long"), nBuckets)
      .getOrElse(return df.withColumn("is_late", lit(false)))
    val b = df.withColumn("_bucket", bucket)
    // exclusive prefix max across buckets, from an O(nBuckets) aggregate;
    // a bucket whose rows all have NULL event time contributes nothing to
    // the running max (max skips NULLs), so it is dropped here
    val bucketMax = b.groupBy(col("_bucket")).agg(max(ms(col(ts))).as("mx"))
      .collect().filter(!_.isNullAt(1))
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var running = Long.MinValue
    val prefix = bucketMax.map { case (bk, mx) =>
      val before = running; running = math.max(running, mx); (bk, before)
    }.filter(_._2 != Long.MinValue).toSeq
    val prefixDf = prefix.toDF("_bucket", "_earlier_max")
    val wLocal = Window.partitionBy(col("_bucket"))
      .orderBy(col(arrivalCol), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(prefixDf), Seq("_bucket"), "left")
      .withColumn("_prev_max", greatest(max(ms(col(ts))).over(wLocal), col("_earlier_max")))
      .withColumn("is_late",
        col("_prev_max").isNotNull && ms(col(ts)) < col("_prev_max") - latenessMs)
      .select(df.columns.map(col) :+ col("is_late"): _*)
  }
}
