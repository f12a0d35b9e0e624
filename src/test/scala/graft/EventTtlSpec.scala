package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Event-time horizon dedup — the REPLAY-DETERMINISTIC form of the dedup
  * machines' processing-time TTL (round-14's wall-clock horizons age
  * state by replay speed; these age it by EVENT time). The contract
  * under test: the same event sequence replayed under DIFFERENT
  * micro-batch groupings yields IDENTICAL keep/drop verdicts, because
  * the verdict is decided by event-time arithmetic in the walk and the
  * EventTimeTimeout timer is garbage collection only. */
class EventTtlSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // a modern epoch base: a row AT the initial watermark (0) would be
  // dropped as late before the walk ever saw it
  private val T0 = 1700000000000L
  // fingerprint A re-arrives inside (drop) and past (re-admit) the 1 s
  // horizon; B spans both of A's phases. In (ts, doc_id) order.
  private val seq6 = Seq(
    TimedHashedDoc("A", 1, "en", "a", T0),
    TimedHashedDoc("B", 2, "en", "b", T0 + 100L),
    TimedHashedDoc("A", 3, "en", "a", T0 + 500L),   // 500 after A@0: drop
    TimedHashedDoc("A", 4, "en", "a", T0 + 1600L),  // 1100 after A@500: admit
    TimedHashedDoc("A", 5, "en", "a", T0 + 1900L),  // 300 after A@1600: drop
    TimedHashedDoc("B", 6, "en", "b", T0 + 2000L))  // 1900 after B@100: admit
  private val expected6 = Map(1L -> true, 2L -> true, 3L -> false,
    4L -> true, 5L -> false, 6L -> true)

  private def runGrouped(groups: Seq[Seq[TimedHashedDoc]],
                         name: String): Map[Long, Boolean] = {
    val in = MemoryStream[TimedHashedDoc]
    val q = StateMachines.keepFirstEventTime(in.toDS(), 1000L, 0L)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      groups.foreach { g => in.addData(g: _*); q.processAllAvailable() }
      spark.table(name).as[TimedGatedDoc].collect()
        .map(d => d.doc_id -> d.is_first).toMap
    } finally q.stop()
  }

  test("keepFirstEventTime: the same sequence under three different batch " +
      "groupings (and one-shot batch mode) yields IDENTICAL keep/drop " +
      "verdicts — the horizon is event-time arithmetic, not a wall clock") {
    val oneBatch = runGrouped(Seq(seq6), "ettl_one")
    val perEvent = runGrouped(seq6.map(Seq(_)), "ettl_each")
    val split = runGrouped(Seq(seq6.take(3), seq6.drop(3)), "ettl_split")
    val batchMode = StateMachines.keepFirstEventTime(seq6.toDS(), 1000L, 0L)
      .collect().map(d => d.doc_id -> d.is_first).toMap
    assert(oneBatch == expected6, s"one-batch: $oneBatch")
    assert(perEvent == expected6, s"per-event: $perEvent")
    assert(split == expected6, s"split: $split")
    assert(batchMode == expected6, s"batch-mode: $batchMode")
    // and the machine equals the lag() twin on the same frame — the same
    // DuckDB oracle checks both registered queries
    val twin = graft.operators.StatefulTwins.horizonKeepFirst(
        seq6.toDF().withColumn("ts", timestamp_millis(col("tsMs"))),
        "th", "ts", "doc_id", 1000L)
      .select(col("doc_id"), col("is_first"))
      .as[(Long, Boolean)].collect().toMap
    assert(twin == expected6, s"lag twin: $twin")
  }

  test("keepFirstEventTime: expired state is GC'd when the watermark " +
      "passes lastSeen + horizon (the timer is garbage collection, " +
      "never the verdict)") {
    val in = MemoryStream[TimedHashedDoc]
    val q = StateMachines.keepFirstEventTime(in.toDS(), 1000L, 0L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ettl_gc").start()
    try {
      seq6.foreach { d => in.addData(d); q.processAllAvailable() }
      // two sentinel batches: the first advances the watermark far past
      // every timer target, the second fires the timers it armed
      in.addData(TimedHashedDoc("C", 7, "en", "c", T0 + 100000L))
      q.processAllAvailable()
      in.addData(TimedHashedDoc("C", 8, "en", "c", T0 + 100001L))
      q.processAllAvailable()
      val removed = Option(q.recentProgress).toSeq.flatten
        .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
      assert(removed >= 2, s"A and B never expired (removed=$removed)")
      // a dup of A arriving past the horizon after GC is re-admitted —
      // identical to what the arithmetic would decide with state present
      in.addData(TimedHashedDoc("A", 9, "en", "a", T0 + 100002L))
      q.processAllAvailable()
      val got = spark.table("ettl_gc").as[TimedGatedDoc].collect()
        .map(d => d.doc_id -> d.is_first).toMap
      assert(got(9L), s"post-GC re-admission failed: $got")
    } finally q.stop()
  }

  test("gram store fails LOUD when two DIFFERENT documents share a doc_id " +
      "in one batch (the id keys the store — a silent overwrite would " +
      "corrupt later verifies)") {
    val bad = Seq(
      BandProbe("0_y", 7, "en", "t1", is_first = true, carrier = true,
        Array(1L, 2L, 3L)),
      BandProbe("0_y", 7, "en", "t2", is_first = false, carrier = true,
        Array(9L, 8L, 7L, 6L)))
    val e = intercept[Exception] {
      StateMachines.bandKeepFirst(bad.toDS(), 0.5, 1000).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("share doc_id 7")),
      s"wrong failure: ${chain(e)}")
  }
}
