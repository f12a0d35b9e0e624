package graft

import graft.operators.StatefulTwins
import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming forms must emit exactly what the (oracle-checked) batch twins
  * emit on the same data — including state carried across micro-batches. */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def batchDf(events: Seq[KeyedEvent]) =
    events.toDF().withColumn("ts", timestamp_millis(col("tsMs")))

  test("intervalAlerts(streaming) == intervalAlert(batch twin), state spans batches") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "error"), KeyedEvent("1", 5000, 2, "error"),
      KeyedEvent("2", 2000, 3, "error"), KeyedEvent("1", 6000, 4, "view"))
    val batch2 = Seq( // user 2's second delete arrives a batch later: alert
      KeyedEvent("2", 7000, 5, "error"), KeyedEvent("1", 40000, 6, "error"))
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.intervalAlerts(input.toDS(), "error", 10000)
      .writeStream.outputMode("append").format("memory").queryName("ia_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ia_par").as[IntervalAlert].collect().toSet
      val twin = StatefulTwins.intervalAlert(batchDf(batch1 ++ batch2),
          "key", "ts", "tiebreak", "kind", "error", 10000)
        .select(col("key"), col("ts_ms"), col("gap_ms"))
        .as[IntervalAlert].collect().toSet
      assert(streamed == twin)
      assert(streamed.contains(IntervalAlert("2", 7000, 5000))) // the cross-batch alert
    } finally q.stop()
  }

  test("expandingAnomalies(streaming) == expandingAnomaly(batch twin), " +
      "moments span batches") {
    // alternating 10/12 prefix in batch 1; the spike arrives in batch 2,
    // judged against moments REMEMBERED from batch 1
    val batch1 = Seq(
      ValuedEvent("1", 0, 1, 10), ValuedEvent("1", 1, 2, 12),
      ValuedEvent("1", 2, 3, 10), ValuedEvent("1", 3, 4, 12),
      ValuedEvent("1", 4, 5, 10))
    val batch2 = Seq(
      ValuedEvent("1", 5, 6, 12), ValuedEvent("1", 6, 7, 100),
      ValuedEvent("2", 0, 8, 50)) // cold start: never flags
    val input = MemoryStream[ValuedEvent]
    val q = StateMachines.expandingAnomalies(input.toDS(), 3, 5)
      .writeStream.outputMode("append").format("memory")
      .queryName("ea_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ea_par").as[AnomalyFlag].collect().toSet
      val twin = graft.operators.CoreOps.expandingAnomaly(
          (batch1 ++ batch2).toDF()
            .withColumn("ts", timestamp_millis(col("tsMs"))).drop("tsMs"),
          "key", "ts", "tiebreak", "value", 3, 5)
        .select(col("key"), col("tiebreak"), col("anomaly_ms"),
          col("value"), col("n_prior"), col("z"))
        .as[AnomalyFlag].collect().toSet
      assert(streamed == twin)
      assert(streamed.map(f => (f.key, f.tiebreak)) == Set(("1", 7L)))
    } finally q.stop()
  }

  test("welchTTest and calibrationCurve run UNCHANGED on a stream " +
      "(complete mode): the final table equals the batch run") {
    val rows = Seq((true, 10L), (true, 20L), (false, 30L), (false, 40L),
      (false, 50L))
    val input = MemoryStream[(Boolean, Long)]
    val sdf = input.toDF().toDF("a", "c")
    val qw = graft.operators.CoreOps.welchTTest(sdf, col("a"), "c")
      .writeStream.outputMode("complete").format("memory")
      .queryName("wt_par").start()
    val qc = graft.operators.CoreOps.calibrationCurve(sdf, "c", col("a"),
        0L, 100L, 10)
      .writeStream.outputMode("complete").format("memory")
      .queryName("cc_par").start()
    try {
      input.addData(rows.take(2)); qw.processAllAvailable(); qc.processAllAvailable()
      input.addData(rows.drop(2)); qw.processAllAvailable(); qc.processAllAvailable()
      val batch = rows.toDF("a", "c")
      assert(spark.table("wt_par").collect().toSet ==
        graft.operators.CoreOps.welchTTest(batch, col("a"), "c")
          .collect().toSet)
      assert(spark.table("cc_par").collect().toSet ==
        graft.operators.CoreOps.calibrationCurve(batch, "c", col("a"),
          0L, 100L, 10).collect().toSet)
    } finally { qw.stop(); qc.stop() }
  }

  test("diffInDiff and cupedAdjustedDiff run UNCHANGED on a stream " +
      "(complete mode): the final table equals the batch run") {
    val rows = Seq((false, false, 0L, 2L), (false, false, 2L, 4L),
      (false, true, 2L, 6L), (false, true, 4L, 8L),
      (true, false, 0L, 1L), (true, false, 2L, 3L),
      (true, true, 6L, 5L), (true, true, 8L, 7L))
    val input = MemoryStream[(Boolean, Boolean, Long, Long)]
    val sdf = input.toDF().toDF("t", "p", "v", "y")
    val qd = graft.operators.CoreOps.diffInDiff(sdf, col("t"), col("p"), "v")
      .writeStream.outputMode("complete").format("memory")
      .queryName("did_par").start()
    val qc = graft.operators.CoreOps.cupedAdjustedDiff(sdf, col("t"),
        "v", "y")
      .writeStream.outputMode("complete").format("memory")
      .queryName("cuped_par").start()
    try {
      input.addData(rows.take(3)); qd.processAllAvailable(); qc.processAllAvailable()
      input.addData(rows.drop(3)); qd.processAllAvailable(); qc.processAllAvailable()
      val batch = rows.toDF("t", "p", "v", "y")
      assert(spark.table("did_par").collect().toSet ==
        graft.operators.CoreOps.diffInDiff(batch, col("t"), col("p"), "v")
          .collect().toSet)
      assert(spark.table("cuped_par").collect().toSet ==
        graft.operators.CoreOps.cupedAdjustedDiff(batch, col("t"), "v", "y")
          .collect().toSet)
    } finally { qd.stop(); qc.stop() }
  }

  test("transitionPairs(streaming) == batch lag twin, chain spans batches") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "a"), KeyedEvent("1", 2000, 2, "b"),
      KeyedEvent("2", 1500, 3, "x"))
    val batch2 = Seq( // user 1's chain continues from the remembered "b"
      KeyedEvent("1", 3000, 4, "c"), KeyedEvent("2", 4000, 5, "y"))
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.transitionPairs(input.toDS())
      .writeStream.outputMode("append").format("memory").queryName("tp_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("tp_par").as[TransitionPair].collect().toSet
      assert(streamed == Set(TransitionPair("1", "a", "b"),
        TransitionPair("1", "b", "c"), TransitionPair("2", "x", "y")))
      // aggregated, the streamed pairs ARE the batch transition matrix
      val fromStream = spark.table("tp_par")
        .groupBy("from_state", "to_state").count()
        .as[(String, String, Long)].collect().toSet
      val fromBatch = graft.operators.CoreOps.transitionMatrix(
          batchDf(batch1 ++ batch2), "key", "ts", "tiebreak", "kind")
        .select(col("from_state"), col("to_state"), col("n"))
        .as[(String, String, Long)].collect().toSet
      assert(fromStream == fromBatch)
    } finally q.stop()
  }

  test("actionDurations(streaming) == batch twin, logout clears state across batches") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "signup"), KeyedEvent("1", 3000, 2, "view"),
      KeyedEvent("1", 6000, 3, "purchase")) // logout-kind → clears state
    val batch2 = Seq(
      KeyedEvent("1", 9000, 4, "view"), // state empty → no emission
      KeyedEvent("1", 9500, 5, "click")) // prev=view → (view, 500)
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.actionDurations(input.toDS(), "signup", "purchase")
      .writeStream.outputMode("append").format("memory").queryName("ad_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ad_par").as[ActionDuration].collect().toSet
      val twin = StatefulTwins.actionDurations(batchDf(batch1 ++ batch2),
          "key", "ts", "tiebreak", "kind", "signup", "purchase")
        .select(col("key"), col("action"), col("duration_ms"))
        .as[ActionDuration].collect().toSet
      assert(streamed == twin)
      assert(streamed == Set(
        ActionDuration("1", "signup", 2000), ActionDuration("1", "view", 3000),
        ActionDuration("1", "view", 500)))
    } finally q.stop()
  }

  test("intervalJoin(stream-stream) == rangeJoin(batch) on the same slice, " +
      "matches spanning micro-batches") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "error"), KeyedEvent("1", 2500, 2, "view"),
      KeyedEvent("2", 3000, 3, "view"))
    val batch2 = Seq( // view at 9000 lands in no window; error at 6000 opens
      // one that catches user 2's click a batch later; 1000+5000=6000 is OUT
      KeyedEvent("1", 6000, 4, "view"), KeyedEvent("2", 6000, 5, "error"),
      KeyedEvent("2", 7000, 6, "click"))
    val windowMs = 5000L
    val input = MemoryStream[KeyedEvent]
    val pts = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val joined = StreamOps.intervalJoin(pts,
      pts.filter(col("kind") === "error"), "key", "ts", "1 second", windowMs,
      Seq("tiebreak" -> "point_id"), Seq("tiebreak" -> "anchor_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ij_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ij_par").select("point_id", "anchor_id")
        .as[(Long, Long)].collect().toSet
      val all = batchDf(batch1 ++ batch2)
      val iv = all.filter(col("kind") === "error").select(
        col("key"), col("tiebreak").as("anchor_id"),
        col("tsMs").as("s"), (col("tsMs") + windowMs).as("e"))
      val twin = graft.operators.CoreOps.rangeJoin(
          all.select(col("key"), col("ts"), col("tiebreak").as("point_id")),
          "ts", iv, "s", "e", windowMs, Seq("key"))
        .select("point_id", "anchor_id").as[(Long, Long)].collect().toSet
      assert(streamed == twin)
      assert(streamed.contains((6L, 5L))) // the cross-batch interval match
      assert(!streamed.contains((4L, 1L))) // half-open: ts == window end
      // fail-loud contract parity with rangeJoin's grainMs guard: a
      // zero/negative window must throw, not silently never match
      assertThrows[IllegalArgumentException](StreamOps.intervalJoin(pts,
        pts.filter(col("kind") === "error"), "key", "ts", "1 second", 0L,
        Seq("tiebreak" -> "point_id"), Seq("tiebreak" -> "anchor_id")))
    } finally q.stop()
  }

  test("asofJoinEachBatch(stream-static) == asofJoin(batch) regardless of batch split") {
    // left events arrive in two micro-batches; right is a static metadata
    // table. As-of is per-left-row vs the static right, so the union of the
    // per-batch outputs must equal the one-shot batch join bit-for-bit.
    val right = Seq((1L, 1000L, 100L), (1L, 5000L, 101L), (2L, 2000L, 102L))
      .toDF("k", "r_ms", "rid").withColumn("ts", timestamp_millis(col("r_ms")))
    val batch1 = Seq((1L, 1500L, 10L), (2L, 500L, 11L))
    val batch2 = Seq((1L, 6000L, 12L), (2L, 2000L, 13L))
    val input = MemoryStream[(Long, Long, Long)]
    val stream = input.toDF().toDF("k", "ms", "lid")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Option[Long], Option[Long])]
    val q = StreamOps.asofJoinEachBatch(stream, right, "k", "ts", Seq("r_ms", "rid")) {
      (out, _) => sink.synchronized {
        sink ++= out.select("lid", "r_ms", "rid")
          .as[(Long, Option[Long], Option[Long])].collect()
      }
    }.start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val batchAll = (batch1 ++ batch2).toDF("k", "ms", "lid")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      val expected = graft.operators.CoreOps
        .asofJoin(batchAll, right, "k", "ts", Seq("r_ms", "rid"))
        .select("lid", "r_ms", "rid")
        .as[(Long, Option[Long], Option[Long])].collect().toSet
      assert(sink.toSet == expected)
      assert(sink.size == 4) // no duplicate emissions across triggers
    } finally q.stop()
  }

  test("segmentJoinEachBatch(stream-static) == segmentJoin(batch) across " +
      "batch splits") {
    val registry = Seq((100L, "weekly report 2024"), (101L, "monthly digest"))
      .toDF("rid", "name")
    val batch1 = Seq((1L, "weekly report 2025"), (2L, "unrelated text here"))
    val batch2 = Seq((3L, "weekly report 2024"), (4L, "monthly digest!"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "head")
    val sink = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = StreamOps.segmentJoinEachBatch(stream, registry,
        "doc_id", "head", "rid", "name", 2) { (out, _) =>
      sink.synchronized {
        sink ++= out.as[(Long, Long, Long)].collect()
      }
    }.start()
    try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      val expected = graft.operators.Dedup.segmentJoin(
          (batch1 ++ batch2).toDF("doc_id", "head"), registry,
          "doc_id", "head", "rid", "name", 2)
        .as[(Long, Long, Long)].collect().toSet
      assert(sink.toSet == expected)
      assert(sink.toSet == Set((1L, 100L, 1L), (3L, 100L, 0L), (4L, 101L, 1L)))
    } finally q.stop()
  }

  test("latestState runs unchanged on a stream: complete-mode state table " +
      "== batch compaction, late rows lose across batches") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "a"), KeyedEvent("2", 2000, 2, "b"))
    val batch2 = Seq(
      KeyedEvent("1", 5000, 3, "c"),  // newer: replaces key 1's state
      KeyedEvent("2", 1500, 4, "d"))  // older than (2000, 2): must lose
    val input = MemoryStream[KeyedEvent]
    // the BATCH operator applied verbatim to a stream — max_by aggregation
    // is streaming-compatible, state is one row per key (bounded by key
    // cardinality, no watermark needed for correctness)
    val q = graft.operators.CoreOps
      .latestState(input.toDS().toDF(), Seq("key"), Seq("tsMs", "tiebreak"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("ls_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ls_par")
        .select("key", "tsMs", "tiebreak", "kind")
        .as[(String, Long, Long, String)].collect().toSet
      val twin = graft.operators.CoreOps
        .latestState((batch1 ++ batch2).toDF(), Seq("key"), Seq("tsMs", "tiebreak"))
        .select("key", "tsMs", "tiebreak", "kind")
        .as[(String, Long, Long, String)].collect().toSet
      assert(streamed == twin)
      assert(streamed == Set(("1", 5000L, 3L, "c"), ("2", 2000L, 2L, "b")))
    } finally q.stop()
  }

  test("windowedDriftEachBatch finalizes windows == categoricalDriftByGroup " +
      "on the same slice") {
    val ref = Seq("a", "b").toDF("kind") // 50/50 baseline mix
    val batch1 = Seq( // window [0,3s): a×2, b×1
      KeyedEvent("1", 1000, 1, "a"), KeyedEvent("2", 1500, 2, "a"),
      KeyedEvent("1", 2500, 3, "b"))
    val batch2 = Seq(
      KeyedEvent("3", 9000, 4, "b"), // window [9,12s): b only
      KeyedEvent("1", 20000, 5, "a")) // watermark past both windows
    val input = MemoryStream[KeyedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val out = scala.collection.mutable.Set
      .empty[(Long, Long, Long, Long, Option[Double])]
    val q = StreamOps.windowedDriftEachBatch(stream, ref, "kind", "ts",
        "1 second", "3 seconds") { (df, _) =>
        out ++= df.as[(Long, Long, Long, Long, Option[Double])].collect()
      }.start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    // the batch twin over the finalized slice, grouped by window start
    val twin = operators.CoreOps.categoricalDriftByGroup(
        batchDf(batch1 ++ batch2).filter(col("tsMs") < 12000)
          .withColumn("w", col("tsMs") - col("tsMs") % 3000),
        "w", "kind", ref)
      .as[(Long, Long, Long, Long, Option[Double])].collect().toSet
    assert(out.toSet == twin && twin.size == 2)
    // hand check: [9,12s) is pure b vs a 50/50 baseline -> TVD 1/2
    assert(out.toSet.contains((9000L, 1L, 2L, 2L, Some(0.5))))
  }

  test("windowedHeavyHitters finalizes windows == batch per-window sketch, " +
      "cross-batch cell merge included") {
    val batch1 = Seq( // window [0,3s): a×2, b×1 — split across batches
      KeyedEvent("a", 1000, 1, "x"), KeyedEvent("b", 1500, 2, "x"))
    val batch2 = Seq(
      KeyedEvent("a", 2500, 3, "x"), // lands back in [0,3s): merge, not replace
      KeyedEvent("c", 9000, 4, "x"), // window [9,12s)
      KeyedEvent("a", 20000, 5, "x")) // watermark past both windows
    val candidates = Seq("a", "b", "zzz") // zzz: absent key → CMS est 0 here
    val input = MemoryStream[KeyedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedHeavyHitters(stream, "key", "ts", "1 second",
        "3 seconds", candidates, 3, 16)
      .writeStream.outputMode("append").format("memory")
      .queryName("whh_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("whh_par")
        .as[(Long, String, Long)].collect().toSet
      // the batch twin: identical sketch + probe per tumbling window over
      // the union — the oracle-checked shape of q_heavy_hitters, windowed
      val cms = graft.expressions.CountMinExpressions
      val expected = batchDf(batch1 ++ batch2)
        .groupBy(window(col("ts"), "3 seconds"))
        .agg(cms.cmsTable(col("key"), 3, 16).as("t"))
        .select(unix_millis(col("window.start")).as("w"),
          explode(array(candidates.map(c => struct(lit(c).as("k"),
            cms.cmsMin(col("t"), lit(c), 3, 16).as("e"))): _*)).as("hh"))
        .select(col("w"), col("hh.k"), col("hh.e"))
        .as[(Long, String, Long)].collect().toSet
      // only finalized windows stream out: [0,3s) and [9,12s), not [18,21s)
      val finalized = expected.filter(_._1 < 12000)
      assert(streamed == finalized)
      assert(streamed.contains((0L, "a", 2L))) // merged across micro-batches
      assert(streamed.contains((0L, "b", 1L)))
      assert(streamed.filter(_._2 == "zzz").forall(_._3 == 0L))
      assertThrows[IllegalArgumentException](StreamOps.windowedHeavyHitters(
        stream, "key", "ts", "1 second", "3 seconds", Nil, 3, 16))
    } finally q.stop()
  }

  test("the CMS aggregate merges across micro-batches == one batch sketch") {
    // complete-mode streaming aggregation exercises partial buffers +
    // element-wise merge across triggers; the table must equal the batch
    // sketch over the union — the "mergeable profile" property
    val batch1 = Seq("a", "b", "a"); val batch2 = Seq("c", "a", "b")
    val input = MemoryStream[String]
    val agg = input.toDF().toDF("k").agg(
      graft.expressions.CountMinExpressions.cmsTable(col("k"), 3, 16).as("t"))
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("cms_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("cms_par").select("t")
        .as[Seq[Long]].collect().head
      val batch = (batch1 ++ batch2).toDF("k").agg(
          graft.expressions.CountMinExpressions.cmsTable(col("k"), 3, 16))
        .as[Seq[Long]].collect().head
      assert(streamed == batch)
      assert(streamed.sum == 3L * 6) // every row increments one cell per hash row
    } finally q.stop()
  }

  test("funnelStages(streaming) completes across batches, emits once, in order only") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "view"), KeyedEvent("1", 2000, 2, "click"),
      KeyedEvent("2", 1000, 3, "purchase"), // out of order: must not count
      KeyedEvent("3", 1000, 4, "view"))
    val batch2 = Seq(
      KeyedEvent("1", 3000, 5, "purchase"),  // completes user 1 cross-batch
      KeyedEvent("1", 4000, 6, "purchase"),  // after completion: no re-emit
      KeyedEvent("2", 2000, 7, "view"), KeyedEvent("2", 3000, 8, "click"),
      KeyedEvent("3", 500, 9, "click"))      // arrives late AND earlier: skipped
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.funnelStages(input.toDS(), Seq("view", "click", "purchase"))
      .writeStream.outputMode("append").format("memory").queryName("fn_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("fn_par").as[FunnelCompletion].collect().toSeq
      assert(got == Seq(FunnelCompletion("1", Seq(1000L, 2000L, 3000L))))
    } finally q.stop()
  }

  test("chunk and redactPii run unchanged on a stream (stateless map parity)") {
    val rows1 = Seq((1L, "t0 t1 t2 t3 t4 mail a@b.co"), (2L, ""))
    val rows2 = Seq((3L, "x y z"))
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    // the operators are pure map stages, so the SAME code object accepts a
    // streaming frame — no twin needed
    val chunked = graft.operators.TextOps.chunk(stream, "doc_id", "text", 3, 2)
    val redacted = graft.operators.TextOps.redactPii(stream, "doc_id", "text")
    val q1 = chunked.writeStream.format("memory").queryName("chunk_sink")
      .outputMode("append").start()
    val q2 = redacted.writeStream.format("memory").queryName("redact_sink")
      .outputMode("append").start()
    try {
      input.addData(rows1); q1.processAllAvailable(); q2.processAllAvailable()
      input.addData(rows2); q1.processAllAvailable(); q2.processAllAvailable()
      val all = (rows1 ++ rows2).toDF("doc_id", "text")
      val expChunks = graft.operators.TextOps.chunk(all, "doc_id", "text", 3, 2)
        .as[(Long, Long, Long, String)].collect().toSet
      val gotChunks = spark.table("chunk_sink")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(gotChunks == expChunks)
      val expRed = graft.operators.TextOps.redactPii(all, "doc_id", "text")
        .as[(Long, Long, Long, String)].collect().toSet
      val gotRed = spark.table("redact_sink")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(gotRed == expRed)
    } finally { q1.stop(); q2.stop() }
  }

  test("state TTL expires idle keys and leaves live keys' emission unchanged") {
    // With ProcessingTimeTimeout the engine keeps constructing wall-clock
    // batches, so processAllAvailable never latches "no new data" — the test
    // synchronizes by polling the memory sink / progress metrics instead.
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.intervalAlerts(input.toDS(), "error", 3600000,
        stateTtlMs = Some(300L))
      .writeStream.outputMode("append").format("memory").queryName("ia_ttl").start()
    def awaitAlerts(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("ia_ttl").count() < n &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(spark.table("ia_ttl").count() >= n, s"timed out waiting for $n alerts")
    }
    def awaitRemovals(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def removed = Option(q.recentProgress).toSeq.flatten
        .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
      while (removed < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(removed >= n, s"timed out waiting for $n state removals")
    }
    try {
      // phase 1+2 back-to-back (within TTL): consecutive deletes alert normally
      input.addData(KeyedEvent("A", 1000, 1, "error"), KeyedEvent("B", 1000, 2, "error"))
      input.addData(KeyedEvent("A", 1200, 3, "error"), KeyedEvent("B", 1300, 4, "error"))
      awaitAlerts(2)
      // phase 3: go idle past the TTL; the wall-clock batches fire both
      // keys' timers and remove their state
      Thread.sleep(1000)
      awaitRemovals(2)
      // phase 4: both keys' next delete finds EMPTY state → no alert; the
      // immediately-following phase-5 deletes alert off the fresh state
      input.addData(KeyedEvent("A", 1400, 5, "error"), KeyedEvent("B", 1500, 6, "error"))
      input.addData(KeyedEvent("A", 1450, 7, "error"), KeyedEvent("B", 1550, 8, "error"))
      awaitAlerts(4)
      val alerts = spark.table("ia_ttl").as[IntervalAlert].collect().toSet
      // had the state survived the idle gap, phase 4 would have alerted with
      // ts 1400/1500 (gaps 200) — their absence is the expiry proof
      assert(alerts == Set(
        IntervalAlert("A", 1200, 200), IntervalAlert("B", 1300, 300),
        IntervalAlert("A", 1450, 50), IntervalAlert("B", 1550, 50)), s"got $alerts")
    } finally q.stop()
  }

  test("dedup TTL: an idle fingerprint AND an idle band bucket expire, so " +
      "an exact dup and a near-dup arriving past the horizon are " +
      "re-admitted; inside the horizon both still drop") {
    import graft.streaming.{BandProbe, HashedDoc}
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def doc(id: Long, text: String) = HashedDoc(
      // the machine only needs th to be the content fingerprint — any
      // deterministic digest works for the test
      java.security.MessageDigest.getInstance("MD5").digest(text.getBytes)
        .map("%02x".format(_)).mkString, id, "en", text)
    val input = MemoryStream[HashedDoc]
    // the horizon must comfortably exceed the trigger gap between doc 1's
    // batch and doc 2's under a LOADED box (parallel suites): 2 s, not a
    // few hundred ms — a too-tight horizon expires doc 1 before doc 2's
    // batch runs and the drop below can never happen (observed flake)
    val q = StateMachines.keepFirst(input.toDS(), stateTtlMs = Some(2000L))
      .writeStream.outputMode("append").format("memory")
      .queryName("kf_ttl").start()
    def await(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("kf_ttl").count() < n &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(spark.table("kf_ttl").count() >= n, s"timed out waiting for $n")
    }
    def awaitRemovals(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def removed = Option(q.recentProgress).toSeq.flatten
        .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
      while (removed < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(removed >= n, s"timed out waiting for $n state removals")
    }
    try {
      input.addData(doc(1, base))
      input.addData(doc(2, base)) // inside the horizon: dropped
      await(2)
      Thread.sleep(2500) // sleep past the 2 s horizon
      awaitRemovals(1) // the idle fingerprint expired
      input.addData(doc(3, base)) // past the horizon: re-admitted as first
      await(3)
      val got = spark.table("kf_ttl").as[GatedDoc].collect()
        .map(g => g.doc_id -> g.is_first).toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> true), s"got $got")
    } finally q.stop()

    // the band machine, same horizon semantics per BUCKET (and per gram
    // entry — the doc-keyed store expires independently; either expiry
    // alone already re-admits, see bandKeepFirst's TTL contract)
    val probes = MemoryStream[BandProbe]
    def probe(id: Long, bucket: String, sh: Array[Long]) =
      BandProbe(bucket, id, "en", "t", is_first = true, carrier = true, sh)
    // the cross-batch dup catch needs doc 1's bucket AND gram entries
    // alive when doc 2's batch runs; micro-batches are ~300 ms apart
    // unloaded but a box running parallel suites can stall a trigger for
    // seconds (observed: a 2 s horizon expired doc 1 before doc 2's
    // batch, so the slim dup row never appeared) — 6 s buys the slack,
    // and the expiry phase just sleeps past it
    val q2 = StateMachines.bandKeepFirst(probes.toDS(), 0.5, 1000,
        stateTtlMs = Some(6000L))
      .writeStream.outputMode("append").format("memory")
      .queryName("bk_ttl").start()
    def await2(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("bk_ttl").count() < n &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(spark.table("bk_ttl").count() >= n, s"timed out waiting for $n")
    }
    def awaitRemovals2(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def removed = Option(q2.recentProgress).toSeq.flatten
        .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
      while (removed < n && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(removed >= n, s"timed out waiting for $n state removals")
    }
    try {
      probes.addData(probe(1, "0_7", Array(1L, 2L, 3L)))
      await2(1) // doc 1's batch commits before doc 2 arrives: the dup
      // catch below is genuinely CROSS-batch (probe + gram store), and
      // its verified slim row lands next to doc 2's carrier (3 rows)
      probes.addData(probe(2, "0_7", Array(1L, 2L, 3L, 4L))) // jacc 0.75
      await2(3)
      Thread.sleep(7000) // sleep past the 6 s horizon
      awaitRemovals2(1) // the idle bucket (and gram entries) expired
      probes.addData(probe(3, "0_7", Array(1L, 2L, 3L))) // re-admitted
      await2(4)
      // per-doc verdict = OR over the doc's carrier + slim rows (the
      // funnel's collapse contract)
      val got = spark.table("bk_ttl").as[BandVerdict].collect()
        .groupMapReduce(_.doc_id)(_.near_dup)(_ || _)
      assert(got == Map(1L -> false, 2L -> true, 3L -> false), s"got $got")
    } finally q2.stop()
  }

  test("a TTL'd machine in batch mode emits exactly the no-TTL rows (oracle safety)") {
    val events = Seq(
      KeyedEvent("1", 1000, 1, "error"), KeyedEvent("1", 5000, 2, "error"),
      KeyedEvent("2", 2000, 3, "error"), KeyedEvent("2", 7000, 4, "error"))
    val ds = events.toDS()
    val withTtl = StateMachines.intervalAlerts(ds, "error", 10000,
      stateTtlMs = Some(60000L)).collect().toSet
    val without = StateMachines.intervalAlerts(ds, "error", 10000).collect().toSet
    assert(withTtl == without && withTtl.nonEmpty)
    val adTtl = StateMachines.actionDurations(ds, "signup", "purchase",
      stateTtlMs = Some(60000L)).collect().toSet
    val adPlain = StateMachines.actionDurations(ds, "signup", "purchase").collect().toSet
    assert(adTtl == adPlain)
    // the walk machines added since: same batch-mode TTL-transparency
    val tbTtl = StateMachines.tokenBucket(ds, 2, 1L, 1L,
      stateTtlMs = Some(60000L)).collect().toSet
    assert(tbTtl == StateMachines.tokenBucket(ds, 2, 1L, 1L).collect().toSet)
    val beTtl = StateMachines.burstEnds(ds, 10L, 100L,
      stateTtlMs = Some(60000L)).collect().toSet
    assert(beTtl == StateMachines.burstEnds(ds, 10L, 100L).collect().toSet)
    val t2Ttl = StateMachines.transitionPairs2(ds,
      stateTtlMs = Some(60000L)).collect().toSet
    assert(t2Ttl == StateMachines.transitionPairs2(ds).collect().toSet)
    val am = StateMachines.asofEvents(
      ds.toDF().filter(col("tiebreak") % 2 === 1), col("key"), col("tsMs"),
      col("tiebreak"),
      ds.toDF().filter(col("tiebreak") % 2 === 0), col("key"), col("tsMs"),
      col("tiebreak"))
    val amTtl = StateMachines.asofMatches(am,
      stateTtlMs = Some(60000L)).collect().toSet
    assert(amTtl == StateMachines.asofMatches(am).collect().toSet
      && amTtl.nonEmpty)
    // the Holt machine added this round: same TTL-transparency
    val vds = Seq(ValuedEvent("1", 0, 1, 10), ValuedEvent("1", 1, 2, 20),
      ValuedEvent("2", 0, 3, 7)).toDS()
    val hTtl = StateMachines.holtSnapshots(vds, 1, 2, 1, 2, 10L,
      stateTtlMs = Some(60000L)).collect().toSet
    assert(hTtl == StateMachines.holtSnapshots(vds, 1, 2, 1, 2, 10L)
      .collect().toSet && hTtl.nonEmpty)
    // the KMV sketch machine: same TTL-transparency
    val kTtl = StateMachines.kmvSnapshots(vds, 2,
      stateTtlMs = Some(60000L)).collect().toSet
    assert(kTtl == StateMachines.kmvSnapshots(vds, 2).collect().toSet
      && kTtl.nonEmpty)
    // the SPRT machine: same TTL-transparency
    val spTtl = StateMachines.sprtDecisions(ds, "error", 1000000L,
      -1000000L, 1500000L, -1500000L, stateTtlMs = Some(60000L))
      .collect().toSet
    assert(spTtl == StateMachines.sprtDecisions(ds, "error", 1000000L,
      -1000000L, 1500000L, -1500000L).collect().toSet && spTtl.nonEmpty)
  }

  test("tokenBucket state TTL: an expired idle key re-initializes to a " +
      "FULL bucket (fresh-key semantics, not a stale balance)") {
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.tokenBucket(input.toDS(), 1, 1L, 1000000L,
        stateTtlMs = Some(2000L)) // ~0 refill: only expiry restores budget
      .writeStream.outputMode("append").format("memory")
      .queryName("tb_ttl").start()
    def awaitRows(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (spark.table("tb_ttl").count() < n &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(spark.table("tb_ttl").count() >= n, s"timed out waiting for $n")
    }
    def awaitRemovals(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def removed = Option(q.recentProgress).toSeq.flatten
        .flatMap(p => p.stateOperators.map(_.numRowsRemoved)).sum
      while (removed < n && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(removed >= n, s"timed out waiting for $n state removals")
    }
    try {
      // capacity 1, negligible refill, ONE invocation: the first event
      // admits and drains, the second is rejected off the stored balance
      input.addData(KeyedEvent("k", 1000, 1, "a"),
        KeyedEvent("k", 2000, 2, "a"))
      awaitRows(2)
      // idle past the TTL: the wall-clock batches fire the timer
      Thread.sleep(3000); awaitRemovals(1)
      // the next event finds EMPTY state → full bucket again, admits —
      // and with a surviving stale balance it would have been rejected
      input.addData(KeyedEvent("k", 3000, 3, "a"))
      awaitRows(3)
      val got = spark.table("tb_ttl").as[ThrottleDecision]
        .collect().map(d => d.tiebreak -> d.admitted).toMap
      assert(got == Map(1L -> true, 2L -> false, 3L -> true))
    } finally q.stop()
  }

  test("asofMatches: cross-batch latest-right state, same-ts rights build " +
      "before lefts probe, behind-frontier left gets NULL not a future " +
      "match; batch mode == the one-shot replay") {
    val input = MemoryStream[AsofEvent]
    val q = StateMachines.asofMatches(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("asof_par").start()
    val batch1 = Seq(
      AsofEvent("k", 1000, 10, isLeft = false), // right builds
      AsofEvent("k", 1000, 11, isLeft = true),  // same-ts left: matches it
      AsofEvent("k", 500, 12, isLeft = true))   // before any right: NULL
    val batch2 = Seq(
      AsofEvent("k", 3000, 13, isLeft = false), // newer right supersedes
      AsofEvent("k", 4000, 14, isLeft = true))  // matches the 3000 right
    val batch3 = Seq(
      AsofEvent("k", 2000, 15, isLeft = true))  // behind frontier ALONE:
                                                // the stored right (3000)
                                                // is FROM ITS FUTURE →
                                                // NULL, never 3000
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      input.addData(batch3); q.processAllAvailable()
      val got = spark.table("asof_par").as[AsofMatch].collect().toSet
      assert(got == Set(
        AsofMatch("k", 11, 1000, Some(1000L), Some(10L)),
        AsofMatch("k", 12, 500, None, None),
        AsofMatch("k", 14, 4000, Some(3000L), Some(13L)),
        AsofMatch("k", 15, 2000, None, None)))
      // batch-mode replay of batch1 alone reproduces its decisions
      val replay = StateMachines.asofMatches(batch1.toDS()).collect().toSet
      assert(replay == got.filter(_.tiebreak <= 12))
    } finally q.stop()
  }

  test("eventTimeTumblingCount drops late rows past the watermark and reports them") {
    val input = MemoryStream[(Long, Timestamp)]
    val df = input.toDF().toDF("event_id", "ts")
    val q = StreamOps.eventTimeTumblingCount(df, "ts", "0 seconds", "10 seconds")
      .writeStream.outputMode("update").format("memory").queryName("wm_cnt").start()
    try {
      input.addData((1L, new Timestamp(100000)), (2L, new Timestamp(101000)))
      q.processAllAvailable() // watermark after this batch: 101s
      input.addData((3L, new Timestamp(5000)), (4L, new Timestamp(102000)))
      q.processAllAvailable() // 5s row is far older than the watermark → dropped
      val dropped = q.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 1, s"expected >=1 dropped row, got $dropped")
      val windows = spark.table("wm_cnt").select("window_start_ms")
        .as[Long].collect().toSet
      assert(windows == Set(100000L)) // no window materialized for the late 5s row
    } finally q.stop()
  }

  test("keyed running totals in update mode refresh per micro-batch (E2 shape)") {
    val input = MemoryStream[KeyedEvent]
    val totals = StreamOps.keyedRunningTotal(
      input.toDF().withColumn("value", col("tsMs").cast("double")), "key", "value", "total")
    val q = totals.writeStream.outputMode("update").format("memory")
      .queryName("e2_totals").start()
    try {
      input.addData(KeyedEvent("a", 10, 1, "x"), KeyedEvent("a", 20, 2, "x"),
        KeyedEvent("b", 5, 3, "x"))
      q.processAllAvailable()
      def latest = spark.table("e2_totals").groupBy("key")
        .agg(org.apache.spark.sql.functions.last("total").as("total"))
        .as[(String, Double)].collect().toMap
      assert(latest == Map("a" -> 30.0, "b" -> 5.0))
      input.addData(KeyedEvent("a", 100, 4, "x")) // state carries: a → 130
      q.processAllAvailable()
      val rows = spark.table("e2_totals").as[(String, Double)].collect()
      assert(rows.contains(("a", 130.0)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("Kafka-string records parse and aggregate in a continuous pipeline (E4 shape)") {
    // the reference consumes quoted-CSV strings from Kafka; same records via
    // MemoryStream exercise the identical parse + windowed-count pipeline
    val input = MemoryStream[String]
    val parsed = graft.sources.ReferenceData.parseAuditLines(
      input.toDF().toDF("value"), "value")
    val counts = parsed.groupBy("user").count()
    val q = counts.writeStream.outputMode("complete").format("memory")
      .queryName("kafka_parse").start()
    try {
      input.addData(graft.sources.Generators.auditKafkaValues(12, seed = 3).map(_._2): _*)
      q.processAllAvailable()
      val got = spark.table("kafka_parse").as[(String, Long)].collect().toMap
      assert(got.values.sum == 12)
      assert(got.keySet.subsetOf(Set("Tom", "Harry", "Bob")))
    } finally q.stop()
  }

  test("file-monitor CSV source picks up files incrementally (E1 shape)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_audit_stream")
    def writeFile(name: String, rows: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), rows.mkString("\n"))
    writeFile("audit_0.csv", "\"0\",\"Harry\",\"SalesRep\",\"Modify\",\"1712637005879\",\"5\",\"3\"")
    val st = graft.sources.ReferenceData.auditFileStream(spark, dir.toString, 1)
    val q = st.groupBy("user").count()
      .writeStream.outputMode("complete").format("memory").queryName("audit_cnt").start()
    try {
      q.processAllAvailable()
      assert(spark.table("audit_cnt").as[(String, Long)].collect().toSet ==
        Set(("Harry", 1L)))
      writeFile("audit_1.csv",
        "\"1\",\"Tom\",\"Customer\",\"Create\",\"1712637006000\",\"2\",\"1\"",
        "\"2\",\"Harry\",\"Customer\",\"Query\",\"1712637007000\",\"1\",\"2\"")
      q.processAllAvailable() // the monitor sees the new file without restart
      assert(spark.table("audit_cnt").as[(String, Long)].collect().toSet ==
        Set(("Harry", 2L), ("Tom", 1L)))
    } finally q.stop()
  }

  test("split sink fans one micro-batch out to both sides exactly once") {
    val input = MemoryStream[KeyedEvent]
    val a = scala.collection.mutable.ArrayBuffer.empty[String]
    val b = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = StreamSinks.split(input.toDF(), col("kind") === "error") { m =>
      a ++= m.select("key").as[String](org.apache.spark.sql.Encoders.STRING).collect()
    } { r =>
      b ++= r.select("key").as[String](org.apache.spark.sql.Encoders.STRING).collect()
    }
    try {
      input.addData(KeyedEvent("1", 1, 1, "error"), KeyedEvent("2", 2, 2, "view"),
        KeyedEvent("3", 3, 3, "error"))
      q.processAllAvailable()
      assert(a.sorted == Seq("1", "3") && b.sorted == Seq("2"))
    } finally q.stop()
  }

  test("sessionFunnelStages(streaming) == sessionize∘funnel(batch), " +
      "sessions and funnel progress span batches") {
    val gap = 10000L
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "view"), KeyedEvent("1", 2000, 2, "click"),
      KeyedEvent("2", 1000, 3, "view"), KeyedEvent("2", 2000, 4, "click"),
      KeyedEvent("2", 3000, 5, "purchase")) // "2:1" completes in batch 1
    val batch2 = Seq(
      KeyedEvent("1", 3000, 6, "purchase"),  // completes "1:1" CROSS-BATCH
      KeyedEvent("1", 50000, 7, "view"),     // silence gap → session "1:2"
      KeyedEvent("1", 51000, 8, "click"),
      KeyedEvent("1", 52000, 9, "purchase"), // completes "1:2"
      KeyedEvent("2", 40000, 10, "purchase"),// new session, no view: nothing
      KeyedEvent("3", 1000, 11, "view"), KeyedEvent("3", 2000, 12, "click"))
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.sessionFunnelStages(input.toDS(),
        Seq("view", "click", "purchase"), gap)
      .writeStream.outputMode("append").format("memory")
      .queryName("sf_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("sf_par").as[FunnelCompletion].collect()
        .map(c => (c.key, c.times(0), c.times(1), c.times(2))).toSet
      // the batch composition the oracle checks: sessionize then funnel
      val sess = graft.operators.CoreOps.sessionize(
          batchDf(batch1 ++ batch2), "key", "ts", "tiebreak", gap)
        .withColumn("skey", concat_ws(":", col("key"), col("session_seq")))
      val twin = graft.operators.CoreOps.funnel(sess, "skey", "ts",
          Seq(col("kind") === "view", col("kind") === "click",
            col("kind") === "purchase"))
        .as[(String, Long, Long, Long)].collect().toSet
      assert(streamed == twin)
      assert(streamed == Set(
        ("1:1", 1000L, 2000L, 3000L),
        ("1:2", 50000L, 51000L, 52000L),
        ("2:1", 1000L, 2000L, 3000L)))
    } finally q.stop()
  }

  test("transitionPairs2(streaming): last-two state spans batches; a key " +
      "with fewer than three events emits nothing") {
    val batch1 = Seq(
      KeyedEvent("1", 1000, 1, "a"), KeyedEvent("1", 2000, 2, "b"))
    val batch2 = Seq(
      KeyedEvent("1", 3000, 3, "c"),  // (a,b)→c needs state from batch 1
      KeyedEvent("1", 4000, 4, "a"),
      KeyedEvent("2", 1000, 5, "x"), KeyedEvent("2", 2000, 6, "y"))
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.transitionPairs2(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("t2_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("t2_par").as[Transition2].collect().toSet
      assert(got == Set(
        Transition2("1", "a", "b", "c"), Transition2("1", "b", "c", "a")))
    } finally q.stop()
  }

  test("streakEnds(streaming): a gap closes the run exactly once across " +
      "batches; the open run never emits; == completedStreaks(batch)") {
    // tsMs carries the DAY index. user 1: days 1,2 | gap | 4 | gap | 9
    // (open). user 2: 5 then 6 — one unbroken open run, nothing emits.
    val batch1 = Seq(
      KeyedEvent("1", 1, 1, "a"), KeyedEvent("1", 2, 2, "a"),
      KeyedEvent("2", 5, 3, "a"))
    val batch2 = Seq(
      KeyedEvent("1", 4, 4, "a"),  // closes (1,2) CROSS-BATCH
      KeyedEvent("1", 9, 5, "a"),  // closes (4,4)
      KeyedEvent("2", 6, 6, "a"),  // extends, no emit
      KeyedEvent("1", 2, 7, "a"))  // behind the frontier: no-op
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.streakEnds(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("se_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("se_par").as[StreakEnd].collect().toSet
      assert(streamed == Set(
        StreakEnd("1", 1L, 2L, 2L), StreakEnd("1", 4L, 4L, 1L)))
      // batch twin over the same days (ts = day · 86400000 ms)
      val twin = graft.operators.CoreOps.completedStreaks(
          (batch1 ++ batch2).toDF()
            .withColumn("ts", timestamp_millis(col("tsMs") * 86400000L)),
          "key", "ts")
        .as[(String, Long, Long, Long)].collect().toSet
      assert(twin == streamed.map(s => (s.key, s.start_day, s.end_day, s.len)))
    } finally q.stop()
  }

  test("ewmaSnapshots(streaming): the recurrence spans batches and emits " +
      "one current snapshot per key per batch; final == batch-mode run") {
    // α = 1/2, valueScale 10 for hand-checkable integers.
    // key 1: 10, 20 in batch 1 → s = ((1·20·10)+(1·100))/2 = 150
    //        then 30 in batch 2 → s = ((300)+(150))/2 = 225
    val batch1 = Seq(ValuedEvent("1", 0, 1, 10), ValuedEvent("1", 1, 2, 20))
    val batch2 = Seq(ValuedEvent("1", 2, 3, 30), ValuedEvent("2", 0, 4, 7))
    val input = MemoryStream[ValuedEvent]
    val q = StateMachines.ewmaSnapshots(input.toDS(), 1, 2, 10L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ew_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ew_par").as[EwmaSnapshot].collect().toSet
      assert(streamed == Set(
        EwmaSnapshot("1", 2L, 1L, 150L),   // batch-1 snapshot
        EwmaSnapshot("1", 3L, 2L, 225L),   // cross-batch continuation
        EwmaSnapshot("2", 1L, 0L, 70L)))   // cold start: s₁ = v·scale
      // batch mode: whole history in one invocation ⇒ final snapshots only
      val finals = StateMachines.ewmaSnapshots(
        (batch1 ++ batch2).toDS(), 1, 2, 10L).collect().toSet
      assert(finals == Set(EwmaSnapshot("1", 3L, 2L, 225L),
        EwmaSnapshot("2", 1L, 0L, 70L)))
    } finally q.stop()
  }

  test("ewmaSnapshots orders within an invocation by (tsMs, tiebreak) and " +
      "truncates toward zero like the oracle's //") {
    // out-of-order arrival inside one batch must not change the walk
    val evs = Seq(ValuedEvent("k", 5, 9, 3), ValuedEvent("k", 1, 1, 10))
    val out = StateMachines.ewmaSnapshots(evs.toDS(), 1, 2, 1L)
      .collect().toSet
    // ordered walk: s₁ = 10, s₂ = (3 + 10) / 2 = 6 (trunc)
    assert(out == Set(EwmaSnapshot("k", 2L, 5L, 6L)))
  }

  test("holtSnapshots(streaming): level + trend span batches; final == " +
      "batch-mode run; a cold start has zero trend and forecast = level") {
    // α = 1/2, β = 1/2, valueScale 10.
    // key 1: v=10 → l=100, b=0; v=20 → pred=100,
    //   l=(200+100)/2=150, b=((150−100)+0)/2=25  (batch 1)
    // then v=30 → pred=175, l=(300+175)/2=237, b=((237−150)+25)/2=56
    val batch1 = Seq(ValuedEvent("1", 0, 1, 10), ValuedEvent("1", 1, 2, 20))
    val batch2 = Seq(ValuedEvent("1", 2, 3, 30), ValuedEvent("2", 0, 4, 7))
    val input = MemoryStream[ValuedEvent]
    val q = StateMachines.holtSnapshots(input.toDS(), 1, 2, 1, 2, 10L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ho_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ho_par").as[HoltSnapshot].collect().toSet
      assert(streamed == Set(
        HoltSnapshot("1", 2L, 1L, 150L, 25L, 175L),
        HoltSnapshot("1", 3L, 2L, 237L, 56L, 293L),
        HoltSnapshot("2", 1L, 0L, 70L, 0L, 70L)))
      val finals = StateMachines.holtSnapshots(
        (batch1 ++ batch2).toDS(), 1, 2, 1, 2, 10L).collect().toSet
      assert(finals == Set(HoltSnapshot("1", 3L, 2L, 237L, 56L, 293L),
        HoltSnapshot("2", 1L, 0L, 70L, 0L, 70L)))
    } finally q.stop()
  }

  test("holtWintersSnapshots(streaming): seasonal vector spans batches; " +
      "final == batch-mode run; forecast books the NEXT slot's seasonal") {
    // m = 2, α = β = γ = 1/2, valueScale 10. Hand walk for key 1:
    //   n1: l=100 b=0 s=[0,0]
    //   n2 (slot 1): l=150 b=25 s=[0,25]; forecast slot 0 -> 175
    //   n3 (slot 0): l=237 b=56 s=[31,25]; forecast slot 1 -> 237+56+25=318
    // (level/trend match the plain Holt walk because both touched slots
    // were still 0 when read — the seasonal shows up ONLY in the
    // n3 forecast, which is exactly the cross-batch state property)
    val batch1 = Seq(ValuedEvent("1", 0, 1, 10), ValuedEvent("1", 1, 2, 20))
    val batch2 = Seq(ValuedEvent("1", 2, 3, 30), ValuedEvent("2", 0, 4, 7))
    val input = MemoryStream[ValuedEvent]
    val q = StateMachines.holtWintersSnapshots(input.toDS(), 2,
        1, 2, 1, 2, 1, 2, 10L)
      .writeStream.outputMode("append").format("memory")
      .queryName("hw_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("hw_par").as[HwSnapshot].collect().toSet
      assert(streamed == Set(
        HwSnapshot("1", 2L, 1L, 150L, 25L, 175L),
        HwSnapshot("1", 3L, 2L, 237L, 56L, 318L),
        HwSnapshot("2", 1L, 0L, 70L, 0L, 70L)))
      val finals = StateMachines.holtWintersSnapshots(
        (batch1 ++ batch2).toDS(), 2, 1, 2, 1, 2, 1, 2, 10L)
        .collect().toSet
      assert(finals == Set(HwSnapshot("1", 3L, 2L, 237L, 56L, 318L),
        HwSnapshot("2", 1L, 0L, 70L, 0L, 70L)))
    } finally q.stop()
  }

  test("tokenBucket(streaming): budget spans batches, refills by event " +
      "time, clamps behind-frontier deltas; == batch-mode replay") {
    // capacity 2 tokens, refill 1 micro-token per ms (1 token per 1e6 ms)
    val batch1 = Seq(
      KeyedEvent("1", 0L, 1, "a"),        // full bucket: admit, 1e6 left
      KeyedEvent("1", 10L, 2, "a"),       // +10µ refill: admit, 10µ left
      KeyedEvent("1", 20L, 3, "a"))       // +10µ: 20µ < 1e6 ⇒ REJECT
    val batch2 = Seq(
      KeyedEvent("1", 1000020L, 4, "a"),  // admits after the walk below
      KeyedEvent("1", 999L, 5, "a"),      // sorts FIRST in this invocation:
                                          // Δ = 999−20 refills 979µ, reject
      KeyedEvent("2", 0L, 6, "a"))        // fresh key: full bucket
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.tokenBucket(input.toDS(), 2, 1L, 1L)
      .writeStream.outputMode("append").format("memory")
      .queryName("tb_par").start()
    val batch3 = Seq(
      KeyedEvent("1", 100L, 7, "a")) // behind frontier ALONE: Δ clamps to 0
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      input.addData(batch3); q.processAllAvailable()
      val streamed = spark.table("tb_par").as[ThrottleDecision]
        .collect().toSet
      assert(streamed == Set(
        ThrottleDecision("1", 1, 0L, true, 1000000L),
        ThrottleDecision("1", 2, 10L, true, 10L),
        ThrottleDecision("1", 3, 20L, false, 20L),
        ThrottleDecision("1", 5, 999L, false, 999L),
        ThrottleDecision("1", 4, 1000020L, true, 20L),
        ThrottleDecision("2", 6, 0L, true, 1000000L),
        ThrottleDecision("1", 7, 100L, false, 20L))) // no refill from the past
      // batch-mode replay of batch 1 alone reproduces its decisions
      val batchRun = StateMachines.tokenBucket(batch1.toDS(), 2, 1L, 1L)
        .collect().toSet
      assert(batchRun == streamed.filter(_.tiebreak <= 3))
    } finally q.stop()
  }

  test("tokenBucket(streaming): a behind-frontier arrival cannot rewind " +
      "the refill clock — the next in-order event is not double-credited") {
    // capacity 2 tokens, 1 micro-token per ms. Walk: t=1000 admits
    // (lastMs 1000, avail 1e6); a LATE t=0 in the next batch admits off
    // the stored balance with Δ clamped to 0 (avail 0) — and must NOT
    // move lastMs back to 0; the t=2000 event then refills only
    // 2000−1000 = 1000µ. A rewound clock would credit 2000µ — refill
    // for a span the bucket already lived through.
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.tokenBucket(input.toDS(), 2, 1L, 1L)
      .writeStream.outputMode("append").format("memory")
      .queryName("tb_mono").start()
    try {
      input.addData(Seq(KeyedEvent("k", 1000L, 1, "a")))
      q.processAllAvailable()
      input.addData(Seq(KeyedEvent("k", 0L, 2, "a")))
      q.processAllAvailable()
      input.addData(Seq(KeyedEvent("k", 2000L, 3, "a")))
      q.processAllAvailable()
      val got = spark.table("tb_mono").as[ThrottleDecision]
        .collect().map(d => d.tiebreak -> d).toMap
      assert(got(1L) == ThrottleDecision("k", 1, 1000L, true, 1000000L))
      assert(got(2L) == ThrottleDecision("k", 2, 0L, true, 0L))
      assert(got(3L) == ThrottleDecision("k", 3, 2000L, false, 1000L))
    } finally q.stop()
  }

  test("ohlcBars runs verbatim on a stream (complete mode): a late-batch " +
      "earlier row reopens the bar, a later row moves the close") {
    val batch1 = Seq(
      ValuedEvent("k", 1000, 1, 10), ValuedEvent("k", 2000, 2, 30))
    val batch2 = Seq(
      ValuedEvent("k", 500, 3, 7),   // earlier arrival → new open
      ValuedEvent("k", 2500, 4, 20)) // later → new close
    val input = MemoryStream[ValuedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = graft.operators.CoreOps.ohlcBars(stream, "key", "ts", "tiebreak",
        "value", 10000L)
      .writeStream.outputMode("complete").format("memory")
      .queryName("ohlc_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ohlc_par")
        .as[(String, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      val twin = graft.operators.CoreOps.ohlcBars(
          (batch1 ++ batch2).toDF()
            .withColumn("ts", timestamp_millis(col("tsMs"))),
          "key", "ts", "tiebreak", "value", 10000L)
        .as[(String, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSet
      assert(streamed == twin)
      assert(streamed == Set(("k", 0L, 7L, 30L, 7L, 20L, 4L, 67L)))
    } finally q.stop()
  }

  test("windowedQuantileProfile finalizes windows == hand-computed " +
      "sketch-exact percentiles (small windows keep the sketch exact)") {
    val batch1 = Seq(
      ValuedEvent("1", 1000, 1, 10), ValuedEvent("1", 1500, 2, 20),
      ValuedEvent("1", 2500, 3, 30)) // window [0,3s): n=3
    val batch2 = Seq( // watermark past 3s finalizes [0,3s); then past 12s
      ValuedEvent("1", 9000, 4, 5),
      ValuedEvent("1", 20000, 5, 7))
    val input = MemoryStream[ValuedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedQuantileProfile(stream, "value", "ts",
        "1 second", "3 seconds", Seq(0.5, 0.95))
      .writeStream.outputMode("append").format("memory")
      .queryName("wq_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("wq_par")
        .as[(Long, Long, Long, Long)].collect().toSet
      // [18,21s) stays open (watermark 19s < 21s) — append emits it later
      assert(got == Set((0L, 3L, 20L, 30L), (9000L, 1L, 5L, 5L)))
    } finally q.stop()
  }

  test("windowedEntropy finalizes windows with the exact quantized-log " +
      "entropy; distribution state spans batches") {
    val batch1 = Seq(
      KeyedEvent("u", 1000, 1, "a"), KeyedEvent("u", 1500, 2, "a"),
      KeyedEvent("u", 2500, 3, "b")) // window [0,3s): {a:2, b:1}
    val batch2 = Seq(
      KeyedEvent("u", 2900, 4, "b"), // SAME window, next batch: {a:2, b:2}
      KeyedEvent("u", 20000, 5, "c")) // watermark jumps, [0,3s) finalizes
    val input = MemoryStream[KeyedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedEntropy(stream, "kind", "ts",
        "3 seconds", "1 second")
      .writeStream.outputMode("append").format("memory")
      .queryName("we_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("we_par")
        .as[(Long, Long, Long, Long, Double)].collect().toSet
      def qlog(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
      val hs = 4L * qlog(4) - (2L * qlog(2) + 2L * qlog(2))
      assert(got == Set((0L, 4L, 2L, hs, hs.toDouble / (4d * 1e6))))
    } finally q.stop()
  }

  test("sprtDecisions(streaming): the LLR walk crosses across batches — " +
      "the decision needs batch-1 state; a decided key is frozen; both " +
      "thresholds reachable") {
    // ±1e6 increments, thresholds ±2.5e6 → any third same-direction
    // event decides
    val batch1 = Seq(
      KeyedEvent("k", 0, 1, "buy"), KeyedEvent("k", 1000, 2, "buy"),
      KeyedEvent("z", 0, 3, "skip"), KeyedEvent("z", 1000, 4, "skip"))
    val batch2 = Seq(
      KeyedEvent("k", 2000, 5, "buy"),  // crosses H1 iff llr=2e6 survived
      KeyedEvent("k", 3000, 6, "buy"),  // post-decision: frozen, no row
      KeyedEvent("z", 2000, 7, "skip")) // crosses H0
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.sprtDecisions(input.toDS(), "buy",
        1000000L, -1000000L, 2500000L, -2500000L)
      .writeStream.outputMode("append").format("memory")
      .queryName("sprt_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("sprt_par").as[SprtDecision].collect().toSet
      assert(got == Set(
        SprtDecision("k", 5L, 2000L, 3L, 3000000L, "accept_h1"),
        SprtDecision("z", 7L, 2000L, 3L, -3000000L, "accept_h0")))
      // one-shot batch run over everything = the same two decisions
      val oneShot = StateMachines.sprtDecisions(
        (batch1 ++ batch2).toDS(), "buy",
        1000000L, -1000000L, 2500000L, -2500000L).collect().toSet
      assert(oneShot == got)
    } finally q.stop()
  }

  test("windowedKmvDistinct finalizes each window's k-minima sketch; " +
      "cross-batch in-window arrivals merge into the same sketch the " +
      "batch run builds") {
    val batch1 = Seq(
      ValuedEvent("u", 1000, 1, 11), ValuedEvent("u", 1500, 2, 22),
      ValuedEvent("u", 2500, 3, 11)) // [0,3s): distinct {11, 22}
    val batch2 = Seq(
      ValuedEvent("u", 2900, 4, 33), // SAME window, next batch
      ValuedEvent("u", 20000, 5, 99)) // watermark jump finalizes [0,3s)
    val input = MemoryStream[ValuedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedKmvDistinct(stream, "value", "ts",
        "3 seconds", "1 second", 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("kmvw_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("kmvw_par")
        .as[(Long, Long, Long)].collect().toSet
      def h(v: Long): Long = graft.expressions.Md5Hash.first32(
        org.apache.spark.unsafe.types.UTF8String.fromString(v.toString))
      // the finalized window saw 3 distinct values across two batches;
      // the sketch is the 2 smallest hashes, est = (1·2^32) div h2
      val h2 = Seq(h(11), h(22), h(33)).sorted.apply(1)
      assert(got == Set((0L, 2L, 4294967296L / h2)))
    } finally q.stop()
  }

  test("windowedKlDrift finalizes windows scored against the plan-literal " +
      "baseline; an on-mix window scores ~0, a skewed one positive") {
    val batch1 = Seq(
      KeyedEvent("u", 1000, 1, "a"), KeyedEvent("u", 1500, 2, "b"),
      KeyedEvent("u", 2500, 3, "a")) // window [0,3s): {a:2, b:1}
    val batch2 = Seq(KeyedEvent("u", 20000, 4, "a")) // finalizes [0,3s)
    val ref = Seq("a", "a", "b").toDF("cat") // baseline mix {a:2, b:1}
    val input = MemoryStream[KeyedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedKlDrift(stream, "kind", "ts",
        "3 seconds", "1 second", ref, "cat")
      .writeStream.outputMode("append").format("memory")
      .queryName("kl_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("kl_par")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      def qlog(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
      // smoothed: cp' = {a:3, b:2}, cq' = {a:3, b:2}, k=2, tp=tq=3
      // identical smoothed sides => every term qlog(m)-qlog(m) = 0
      val trm = 3L * (qlog(3 * 5) - qlog(3 * 5)) + 2L * (qlog(2 * 5) - qlog(2 * 5))
      assert(trm == 0L)
      assert(got == Set((0L, 2L, 3L, 3L, 0L, 0.0)))
    } finally q.stop()
  }

  test("windowedHellinger finalizes windows scored against the " +
      "plan-literal baseline; an identical mix scores exactly 0, a " +
      "disjoint one exactly 1") {
    val batch1 = Seq(
      KeyedEvent("u", 1000, 1, "a"), KeyedEvent("u", 1500, 2, "b"),
      KeyedEvent("u", 2500, 3, "a"), // window [0,3s): {a:2, b:1}
      KeyedEvent("u", 4000, 4, "c")) // window [3s,6s): {c:1} — disjoint
    val batch2 = Seq(KeyedEvent("u", 20000, 5, "a")) // finalizes both
    val ref = Seq("a", "a", "b").toDF("cat") // baseline mix {a:2, b:1}
    val input = MemoryStream[KeyedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedHellinger(stream, "kind", "ts",
        "3 seconds", "1 second", ref, "cat")
      .writeStream.outputMode("append").format("memory")
      .queryName("hw_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("hw_par")
        .as[(Long, Long, Long, Long, Long, Double)].collect().toSet
      // [0,3s): identical mix — bc = floor(√4·1e6) + floor(√1·1e6) =
      // 3e6 = √(3·3)·1e6 exactly ⇒ hellinger exactly 0.0
      // [3s,6s): {c:1} vs {a:2,b:1} — no shared category ⇒ bc 0,
      // hellinger exactly 1.0; the union category set has 3 entries
      assert(got == Set(
        (0L, 2L, 3L, 3L, 3000000L, 0.0),
        (3000L, 3L, 1L, 3L, 0L, 1.0)))
    } finally q.stop()
  }

  test("windowedJsd finalizes windows scored against the plan-literal " +
      "baseline; an identical mix scores exactly 0, a disjoint one ~ln 2") {
    val batch1 = Seq(
      KeyedEvent("u", 1000, 1, "a"), KeyedEvent("u", 1500, 2, "b"),
      KeyedEvent("u", 2500, 3, "a"), // window [0,3s): {a:2, b:1}
      KeyedEvent("u", 4000, 4, "c")) // window [3s,6s): {c:1} — disjoint
    val batch2 = Seq(KeyedEvent("u", 20000, 5, "a")) // finalizes both
    val ref = Seq("a", "a", "b").toDF("cat") // baseline mix {a:2, b:1}
    val input = MemoryStream[KeyedEvent]
    val stream = input.toDF().withColumn("ts", timestamp_millis(col("tsMs")))
    val q = StreamOps.windowedJsd(stream, "kind", "ts",
        "3 seconds", "1 second", ref, "cat")
      .writeStream.outputMode("append").format("memory")
      .queryName("jw_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val got = spark.table("jw_par")
        .as[(Long, Long, Long, Long, Long, Long, Double)].collect()
        .map(r => r._1 -> r).toMap
      // [0,3s): identical mix — every term qlog(2cT)−qlog(2cT) = 0
      assert(got(0L) == ((0L, 2L, 3L, 3L, 0L, 0L, 0.0)))
      // [3s,6s): disjoint — JSD = ln 2 within the quantization band
      val d = got(3000L)
      assert(d._2 == 3L && d._3 == 1L && d._4 == 3L)
      assert(math.abs(d._7 - math.log(2.0)) < 2e-6)
    } finally q.stop()
  }

  test("burstEnds: hysteresis opens at lo, survives to hi, closes ONCE " +
      "across batches; the open final burst never emits; behind-frontier " +
      "arrivals are no-ops") {
    // lo = 10, hi = 100
    val batch1 = Seq(
      KeyedEvent("1", 0, 1, "a"),    // first event
      KeyedEvent("1", 5, 2, "a"),    // gap 5 <= lo: burst opens at 0, n=2
      KeyedEvent("1", 80, 3, "a"))   // gap 75 <= hi: continues, n=3
    val batch2 = Seq(
      KeyedEvent("1", 300, 4, "a"),  // gap 220 > hi: CLOSES (0, 80, 3)
      KeyedEvent("1", 50, 5, "a"),   // behind frontier: no-op
      KeyedEvent("1", 305, 6, "a"),  // gap 5 <= lo: NEW burst opens at 300
      KeyedEvent("2", 0, 7, "a"), KeyedEvent("2", 50, 8, "a")) // gap 50 > lo: never opens
    val input = MemoryStream[KeyedEvent]
    val q = StateMachines.burstEnds(input.toDS(), 10L, 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("bu_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("bu_par").as[BurstEnd].collect().toSet
      assert(streamed == Set(BurstEnd("1", 0L, 80L, 3L)))
      // batch-mode replay of the full IN-ORDER history (event 5 sorts
      // between 80 and 300 there, extending the burst to 4 events)
      val ordered = (batch1 ++ batch2).sortBy(_.tsMs)
      val replay = StateMachines.burstEnds(ordered.toDS(), 10L, 100L)
        .collect().toSet
      assert(replay == Set(BurstEnd("1", 0L, 80L, 4L)))
    } finally q.stop()
  }

  test("pageHinkley: the walk and its reset span micro-batches, and the " +
      "streamed alarms equal a sequential fold of the same history") {
    // stable prefix in batch 1; the level shift arrives in batch 2 and
    // must alarm against state REMEMBERED from batch 1
    val batch1 = (1 to 6).map(i => ValuedEvent("1", i.toLong, i.toLong, 10L))
    val batch2 = (7 to 9).map(i => ValuedEvent("1", i.toLong, i.toLong, 200L)) ++
      Seq(ValuedEvent("2", 1L, 10L, 500L)) // cold key: never alarms alone
    val input = MemoryStream[ValuedEvent]
    val q = StateMachines.pageHinkley(input.toDS(), 0L, 100L)
      .writeStream.outputMode("append").format("memory")
      .queryName("ph_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("ph_par").as[PhAlarm].collect().toSet
      // sequential fold of the identical arithmetic
      def fold(vs: Seq[ValuedEvent]): Seq[PhAlarm] = {
        var (n, s, m, mn) = (0L, 0L, 0L, 0L)
        vs.sortBy(e => (e.tsMs, e.tiebreak)).flatMap { e =>
          n += 1; s += e.value; m = m + e.value - s / n
          mn = math.min(mn, m)
          if (m - mn > 100L) {
            val a = PhAlarm(e.key, e.tiebreak, e.tsMs, n, m, mn)
            n = 0; s = 0; m = 0; mn = 0
            Some(a)
          } else None
        }
      }
      val expect = (batch1 ++ batch2).groupBy(_.key).toSeq
        .flatMap { case (_, vs) => fold(vs) }.toSet
      assert(streamed == expect)
      assert(streamed.nonEmpty && streamed.forall(_.key == "1"))
    } finally q.stop()
  }

  test("latestSnapshots(streaming) == latestState(batch twin): the winner " +
      "survives across batches, late arrivals lose, NULL payloads carry") {
    val batch1 = Seq(
      PayloadEvent("1", 5L, 1L, Some("edit"), Some(1.5)),
      PayloadEvent("1", 3L, 2L, Some("view"), None))
    val batch2 = Seq(
      PayloadEvent("1", 4L, 3L, Some("late"), Some(9.9)), // older: loses
      PayloadEvent("2", 7L, 4L, None, Some(2.0)))
    val input = MemoryStream[PayloadEvent]
    val q = StateMachines.latestSnapshots(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ls_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val emitted = spark.table("ls_par").as[LatestSnapshot].collect().toSeq
      // one snapshot per touched key per batch: key 1 twice (identical —
      // the late row lost), key 2 once
      assert(emitted.size == 3)
      val finalPerKey = emitted.groupBy(_.key).map { case (_, snaps) =>
        snaps.maxBy(s => (s.last_ms, s.tiebreak)) }.toSet
      val twin = graft.operators.CoreOps.latestState(
          (batch1 ++ batch2).toDF(), Seq("key"), Seq("tsMs", "tiebreak"))
        .select(col("key"), col("tsMs").as("last_ms"), col("tiebreak"),
          col("kind"), col("value"))
        .as[LatestSnapshot].collect().toSet
      assert(finalPerKey == twin)
      assert(twin == Set(
        LatestSnapshot("1", 5L, 1L, Some("edit"), Some(1.5)),
        LatestSnapshot("2", 7L, 4L, None, Some(2.0))))
    } finally q.stop()
  }

  test("kmvSnapshots(streaming): the final cross-batch sketch equals the " +
      "one-shot batch run, and is ARRIVAL-ORDER independent (k-minima are " +
      "a set); duplicates bump n_events but never the sketch") {
    // k=2 with 4 distinct values per key forces evictions; key 2 stays
    // under k (exact estimate = m)
    val batch1 = Seq(
      ValuedEvent("1", 0, 1, 11), ValuedEvent("1", 1, 2, 22),
      ValuedEvent("1", 2, 3, 11), // duplicate: n_events only
      ValuedEvent("2", 0, 4, 7))
    val batch2 = Seq(
      ValuedEvent("1", 3, 5, 33), ValuedEvent("1", 4, 6, 44),
      ValuedEvent("2", 1, 7, 7)) // duplicate
    val all = batch1 ++ batch2
    val input = MemoryStream[ValuedEvent]
    val q = StateMachines.kmvSnapshots(input.toDS(), 2)
      .writeStream.outputMode("append").format("memory")
      .queryName("kmv_par").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val finalPerKey = spark.table("kmv_par").as[KmvSnapshot].collect()
        .groupBy(_.key).map(_._2.maxBy(_.n_events)).toSet
      val oneShot = StateMachines.kmvSnapshots(all.toDS(), 2)
        .collect().toSet
      val reversed = StateMachines.kmvSnapshots(
          all.reverse.map(e => e.copy(tsMs = 100 - e.tsMs)).toDS(), 2)
        .collect().toSet
      assert(finalPerKey == oneShot)
      assert(reversed == oneShot)
      val k2 = oneShot.find(_.key == "2").get
      assert((k2.n_events, k2.n_sketch, k2.est_distinct) == ((2L, 1L, 1L)))
      assert(oneShot.find(_.key == "1").get.n_events == 5L)
      assert(oneShot.find(_.key == "1").get.n_sketch == 2L)
    } finally q.stop()
  }

  // ── the PRODUCTION funnel (FunnelPipeline): state-store gate 1,
  // bucket-keyed band-index state machine gate 2, durable stage/export stores ──

  private val fpBase =
    "the quick brown fox jumps over the lazy dog again and again"
  private val fpDocs = Seq(
    (1L, "en", fpBase),                                // kept
    (2L, "en", fpBase + " extra"),                     // near-dup of 1 (same slice at nb=3)
    (3L, "en", "completely different words here body text"), // kept
    (4L, "en", fpBase),                                // exact dup of 1, LATER slice
    (5L, "en", "another unrelated document body entirely fresh"), // kept
    (6L, "en", null.asInstanceOf[String]),             // no text -> not ingested
    (7L, "en", fpBase + " with more tacked on")        // near-dup of 1, LATER slice
  )
  private def fpConfig = {
    // trivial frozen artifacts: zero weights score
    // everything 500000 (pred true); single-char inventory segments any
    // word; a +inf boundary keeps every scored doc — gates 3-5 pass all,
    // isolating the two genuinely STATEFUL gates
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    (vocab, FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab),
      Map("en" -> ((Long.MaxValue, Long.MaxValue))),
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L))
  }

  test("FunnelPipeline: the card is slice-invariant, the restored-state " +
      "gates catch an exact dup and a near-dup arriving in LATER batches, " +
      "and per-batch stage rows account one file at a time") {
    val docs = fpDocs.toDF("doc_id", "lang", "text")
    val bench = docs.filter(col("doc_id") < 0) // empty benchmark
    val (vocab, cfg) = fpConfig
    def run(nb: Int): (String, Seq[(Long, String, Long, Option[Long])]) = {
      val dir = java.nio.file.Files.createTempDirectory("graft_fp").toString
      FunnelPipeline.runSliced(spark, docs, bench, vocab, cfg, nb, dir)
      (dir, FunnelPipeline.stageCard(spark, dir)
        .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1))
    }
    val (_, whole) = run(1)
    // nb=3 over ids 1..7: span = 3 → slices {1,2,3}, {4,5,6}, {7} — the
    // exact dup (4) and one near-dup (7) arrive AFTER their originals,
    // so dropping them requires the keep-first GroupState and the band
    // index to carry across micro-batches
    val (dir3, split) = run(3)
    assert(whole == split, s"slice-variant funnel: $whole vs $split")
    assert(whole.map(r => (r._2, r._3)) == Seq(
      ("ingested", 6L), ("exact_dedup", 5L), ("near_dedup", 3L),
      ("decontaminated", 3L), ("quality_kept", 3L), ("ppl_head", 3L)),
      s"got $whole")
    // one stage-store directory per FILE, each accounting only its slice
    val perBatch = spark.read.parquet(s"$dir3/stages")
      .filter(col("stage") === "ingested")
      .select(col("b"), col("n_docs")).as[(Int, Long)].collect().toMap
    assert(perBatch == Map(0 -> 3L, 1 -> 2L, 2 -> 1L), s"got $perBatch")
    // and the physical corpus holds exactly the survivors, shard-partitioned
    val corpus = spark.read.parquet(s"$dir3/corpus")
      .select(col("doc_id")).as[Long].collect().toSet
    assert(corpus == Set(1L, 3L, 5L), s"got $corpus")
  }

  test("FunnelPipeline.compactStores (ONLINE, mid-ingest) folds the " +
      "per-trigger stage deltas into the consolidated base, GCs " +
      "superseded offsets, leaves the card byte-identical, and a " +
      "near-dup of PRE-COMPACTION history is still dropped by a " +
      "post-compaction restart") {
    val docs = Seq(
      (1L, "en", fpBase),
      (2L, "en", "completely different words here body text"),
      (3L, "en", "another unrelated document body entirely fresh"),
      (4L, "en", "a fourth standalone body of words entirely its own"))
      .toDF("doc_id", "lang", "text")
    val bench = docs.filter(col("doc_id") < 0)
    val (vocab, cfg0) = fpConfig
    // compact every 2 batches, LIVE — batch 2 folds {0,1}, so the run
    // itself exercises the between-triggers invocation the old offline
    // compactIndex could not support
    val cfg = cfg0.copy(compactEvery = 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_fpc").toString
    FunnelPipeline.runSliced(spark, docs, bench, vocab, cfg, 4, dir)
    def deltaCount(store: String): Int =
      new java.io.File(s"$dir/$store")
        .listFiles().count(f => f.isDirectory && f.getName.startsWith("b="))
    // batch 2 folded stages {0,1}; batch 3's delta is still trailing
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/stages_base/_UPTO")))
    assert(deltaCount("stages") < 4, s"got ${deltaCount("stages")} deltas")
    // offsets GC kept only ids >= fold point - 1; another offline pass
    // tightens both stores to the trailing minimum
    FunnelPipeline.compactStores(spark, dir, 4L)
    assert(deltaCount("stages") == 0, s"got ${deltaCount("stages")} deltas")
    assert(deltaCount("offsets") == 1, s"got ${deltaCount("offsets")}")
    def card(): Seq[(Long, String, Long, Option[Long])] =
      FunnelPipeline.stageCard(spark, dir)
        .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(card().map(r => (r._2, r._3)) == Seq(
      ("ingested", 4L), ("exact_dedup", 4L), ("near_dedup", 4L),
      ("decontaminated", 4L), ("quality_kept", 4L), ("ppl_head", 4L)),
      s"got ${card()}")
    // resume ingest post-compaction: a near-dup of doc 1 (whose band-
    // bucket state lives only in the checkpoint now) must still be
    // caught, and the new batch's stage rows must sum ON TOP of the
    // consolidated base
    Seq((9L, "en", fpBase + " with more tacked on"),
        (10L, "en", "genuinely novel words appear in this one"))
      .toDF("doc_id", "lang", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val q = FunnelPipeline.start(spark,
      spark.readStream.schema(docs.schema).parquet(s"$dir/in"), dir, bench,
      vocab, cfg)
    try q.processAllAvailable() finally q.stop()
    // 6 ingested total; no exact dups; doc 9 dropped at near-dedup
    assert(card().map(r => (r._2, r._3)) == Seq(
      ("ingested", 6L), ("exact_dedup", 6L), ("near_dedup", 5L),
      ("decontaminated", 5L), ("quality_kept", 5L), ("ppl_head", 5L)),
      s"got ${card()}")
  }

  test("FunnelPipeline bootstrap: a pipeline started WITHOUT its " +
      "checkpoint but seeded from the already-ingested corpus drops an " +
      "exact dup AND a near-dup of history, and its card equals the full " +
      "run's trailing per-batch stage rows (new arrivals only)") {
    val history = Seq(
      (1L, "en", fpBase),
      (2L, "en", "completely different words here body text"),
      (3L, "en", "another unrelated document body entirely fresh"))
    val fresh = Seq(
      (5L, "en", fpBase),                        // exact dup of history
      (6L, "en", fpBase + " extra"),             // near-dup of history
      (7L, "en", "genuinely novel words appear in this one"))
    val (vocab, cfg) = fpConfig
    val bench = history.toDF("doc_id", "lang", "text")
      .filter(col("doc_id") < 0)
    // the reference run: one pipeline over BOTH slices (ids 1-3 land in
    // batch 0, ids 5-7 in batch 1 under runSliced's span arithmetic)
    val fullDir = java.nio.file.Files.createTempDirectory("graft_fb1").toString
    FunnelPipeline.runSliced(spark,
      (history ++ fresh).toDF("doc_id", "lang", "text"), bench, vocab, cfg,
      2, fullDir)
    val wantNew = spark.read.parquet(s"$fullDir/stages")
      .filter(col("b") === 1)
      .select(col("stage_idx"), col("stage"), col("n_docs"),
        col("n_tokens"))
      .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(wantNew.map(r => (r._2, r._3)) == Seq(
      ("ingested", 3L), ("exact_dedup", 2L), ("near_dedup", 1L),
      ("decontaminated", 1L), ("quality_kept", 1L), ("ppl_head", 1L)),
      s"full run's trailing batch surprised: $wantNew")
    // the bootstrapped run: FRESH dir (no checkpoint), history installed
    // as initial state only, the new slice as the only streamed file
    val dir = java.nio.file.Files.createTempDirectory("graft_fb2").toString
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    fresh.toDF("doc_id", "lang", "text").coalesce(1)
      .write.mode("append").parquet(s"$dir/in")
    val schema = fresh.toDF("doc_id", "lang", "text").schema
    val q = FunnelPipeline.start(spark,
      spark.readStream.schema(schema).parquet(s"$dir/in"), dir, bench,
      vocab, cfg,
      bootstrap = Some(history.toDF("doc_id", "lang", "text")))
    try q.processAllAvailable() finally q.stop()
    val got = FunnelPipeline.stageCard(spark, dir)
      .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got == wantNew,
      s"bootstrapped card diverged from the full run's trailing batch: " +
        s"$got vs $wantNew")
    // the export is RE-BASED: only the new survivor, position 1
    val export = FunnelPipeline.exportManifest(spark, dir)
      .select(col("doc_id"), col("pos")).as[(Long, Long)].collect().toSeq
    assert(export == Seq((7L, 1L)), s"got $export")
  }

  test("FunnelPipeline: an empty corpus yields the all-zero six-row card " +
      "with NULL token mass and an empty manifest (no crash, no rows)") {
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val (vocab, cfg) = fpConfig
    val dir = java.nio.file.Files.createTempDirectory("graft_fpe").toString
    FunnelPipeline.runSliced(spark, docs, docs, vocab, cfg, 2, dir)
    val card = FunnelPipeline.stageCard(spark, dir)
      .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(card.map(r => (r._3, r._4)) == Seq.fill(6)((0L, None)),
      s"got $card")
    assert(FunnelPipeline.exportManifest(spark, dir).count() == 0L)
  }

  test("FunnelPipeline: the incremental shard export equals the " +
      "from-scratch manifest at every trigger boundary") {
    // distinct texts: every doc survives all five gates
    val docs = (1L to 9L).map(i => (i, "en",
      s"unique document number word$i with body words alpha$i beta$i " +
        s"gamma$i delta$i")).toDF("doc_id", "lang", "text")
    val bench = docs.filter(col("doc_id") < 0)
    val (vocab, cfg0) = fpConfig
    val cfg = cfg0.copy(packTokens = 7L) // small packs exercise the math
    val dir = java.nio.file.Files.createTempDirectory("graft_fpx").toString
    FunnelPipeline.runSliced(spark, docs, bench, vocab, cfg, 3, dir)
    val got = spark.read.parquet(s"$dir/export")
      .select(col("b").cast("long"), col("doc_id"), col("shard"),
        col("pos"), col("n_tokens"), col("pack_first"), col("pack_last"),
        col("offset_in_pack"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got.map(_._2).sorted == (1L to 9L), s"missing docs: $got")
    // independent brute force: per shard, order by (batch, md5 key,
    // doc_id) and replay positions/offsets in plain Scala — for EVERY
    // batch prefix (positions of earlier batches must be final the
    // moment they are written, not retroactively consistent)
    val ok = docs.select(col("doc_id"),
        graft.expressions.Md5Expressions.md5Long(col("doc_id")
          .cast("string")).as("ok"))
      .as[(Long, Long)].collect().toMap
    for (prefix <- 1 to 3) {
      val rows = got.filter(_._1 < prefix)
      val expected = rows.groupBy(_._3).flatMap { case (_, members) =>
        val sorted = members.sortBy(m => (m._1, ok(m._2), m._2))
        var pos = 0L; var excl = 0L
        sorted.map { m =>
          pos += 1; val e = excl; excl += m._5
          (m._1, m._2, m._3, pos, m._5,
            e / 7L, (e + m._5 - 1) / 7L, e % 7L)
        }
      }.toSet
      assert(rows.toSet == expected,
        s"prefix $prefix: ${rows.toSet.diff(expected)} vs " +
          s"${expected.diff(rows.toSet)}")
    }
  }
}
