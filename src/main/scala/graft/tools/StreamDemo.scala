package graft.tools

import graft.sources.ReferenceData
import graft.streaming.{StateMachines, StreamOps, StreamSinks}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}

/** End-to-end streaming demo ≙ the reference's E1 + E8 pipelines: feed the
  * reference's own CSV records through the file-monitor source one file at a
  * time (like datasource/FileStreamDataGenerator.java), run the windowed
  * count and the stateful session analysis continuously, print each
  * micro-batch. Usage: runMain graft.tools.StreamDemo [srcDir]. */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val srcDir = if (args.nonEmpty) args(0)
      else "src/test/resources/fixtures/raw_browser_events"
    val spark = graft.Session.local(4)

    val watched = Files.createTempDirectory("graft_stream_demo")
    val stream = ReferenceData.browserFileStream(spark, watched.toString, 1)

    // E1 shape: global tumbling count on event time (the record's own ts),
    // with a per-batch record-count observer (the MapCountPrinter twin)
    val counts = StreamOps.eventTimeTumblingCount(
      StreamSinks.observed(ReferenceData.withEventTime(stream), "ingested"),
      "event_time", "2 seconds", "3 seconds")
    val q1 = counts.writeStream.outputMode("update").format("console")
      .option("truncate", false).start()

    // E8 shape: per-user action durations via keyed state
    val durations = StateMachines.actionDurations(
      StateMachines.keyedEvents(stream, col("user"), col("timestamp"),
        col("id"), col("action")), "Login", "Logout")
    val q2 = StreamSinks.console(durations.toDF())

    // staged conversion funnel, continuously: users who Login, then view a
    // video, then log out — completion emits once per user
    val funnels = StateMachines.funnelStages(
      StateMachines.keyedEvents(stream, col("user"), col("timestamp"),
        col("id"), col("action")), Seq("Login", "ViewVideo", "Logout"))
    val q2b = StreamSinks.console(funnels.toDF())

    // cross-batch Markov transitions, continuously: each user's action
    // chain continues from the one remembered kind per key
    val transitions = StateMachines.transitionPairs(
      StateMachines.keyedEvents(stream, col("user"), col("timestamp"),
        col("id"), col("action")))
    val q2c = StreamSinks.console(transitions.toDF())

    // replay the fixture files into the watched dir like the generator
    // thread — in numeric index order (Files.list has no ordering guarantee,
    // and cross-batch arrival order affects the state machines' output)
    val listing = Files.list(Paths.get(srcDir))
    val files = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.filter(_.toString.endsWith(".csv")).toSeq
        .sortBy(p => p.getFileName.toString.replaceAll("[^0-9]", "").toLong)
    } finally listing.close()
    // drain after EVERY file: copies in one burst share an mtime, and the
    // file source then orders them lexicographically (10 before 2), which
    // would reintroduce out-of-order arrival the generator never produced
    var n = 0
    files.foreach { f =>
      Files.copy(f, watched.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING)
      n += 1
      q1.processAllAvailable(); q2.processAllAvailable()
      q2b.processAllAvailable(); q2c.processAllAvailable()
    }
    q1.processAllAvailable(); q2.processAllAvailable()
    q2b.processAllAvailable(); q2c.processAllAvailable()
    val observed = q1.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("graft_ingested")).map(_.getLong(0))).sum
    println(s"[demo] streamed $n files from $srcDir through 4 continuous queries" +
      s" (observer counted $observed ingested records)")
    q1.stop(); q2.stop(); q2b.stop(); q2c.stop()

    // E8 at the curation tier, PRODUCTION form: the composed five-gate
    // funnel over a file-monitored doc directory — keep-first GroupState
    // (checkpoint-restored), bucket-keyed band-index GroupState, durable stage/
    // export stores; one doc file per trigger, dups arriving in later
    // files dropped by the carried state
    {
      import spark.implicits._
      val base = "the quick brown fox jumps over the lazy dog again and again"
      val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
      val cfg = graft.streaming.FunnelConfig(Array(0L, 0L, 0L),
        graft.operators.Unigram.zOf(vocab),
        Map("en" -> ((Long.MaxValue, Long.MaxValue))),
        3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
      val docs = Seq(
        (1L, "en", base),
        (2L, "en", "a completely different body of words right here"),
        (3L, "en", base),             // exact dup of 1, a later trigger
        (4L, "en", base + " extra"))  // near-dup of 1, a later trigger
        .toDF("doc_id", "lang", "text")
      val bench = docs.filter(col("doc_id") < 0)
      val dir = Files.createTempDirectory("graft_demo_funnel").toString
      graft.streaming.FunnelPipeline.runSliced(spark, docs, bench, vocab,
        cfg, 4, dir)
      println("[demo] production curation funnel, 4 file-monitored triggers:")
      graft.streaming.FunnelPipeline.stageCard(spark, dir)
        .orderBy("stage_idx").show(truncate = false)
    }

    // E4 + E5 shapes on the in-engine rate source: continuous session
    // summaries and a windowed Create↔Delete self-join over the synthetic
    // audit stream, with per-batch observed metrics. Rate sources never
    // exhaust, so the run is bounded by polling the observer, not by
    // processAllAvailable (RateParitySpec pins these pipelines' outputs
    // against the batch cores on the identical generated slice).
    val audit = graft.sources.Generators.auditRateStream(spark, rowsPerBatch = 50)
      .withColumn("event_time", timestamp_millis(col("timestamp")))
    val q3 = StreamOps.sessionSummary(
        StreamSinks.observed(audit, "audit_in"), "user", "event_time",
        "1 second", "2 seconds")
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    def side(op: String) = audit.filter(col("operation") === op)
      .select(col("user"), col("event_time"), col("id").as("event_id"))
    val q4 = StreamOps.windowJoin(side("Create"), side("Delete"),
        "user", "event_time", "1 second", "10 seconds",
        Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // streaming as-of join, stream-static form: every audit event picks up
    // the latest user-metadata snapshot at-or-before it per trigger
    import spark.implicits._
    val userMeta = Seq("Tom", "Harry", "Bob").zipWithIndex
      .map { case (u, i) => (u, 0L, s"tier_${i % 2}") }
      .toDF("user", "ms", "tier")
      .select(col("user"), timestamp_millis(col("ms")).as("event_time"), col("tier"))
    val asofRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q5 = StreamOps.asofJoinEachBatch(
      audit.select(col("user"), col("event_time"), col("id")),
      userMeta, "user", "event_time", Seq("tier")) { (out, _) =>
      asofRows.addAndGet(out.count())
    }.start()
    // stream-stream interval join, continuously: every Delete opens a 10s
    // incident window over the same user's events (state expires at
    // lateness + window — see StreamOps.intervalJoin)
    val q6 = StreamOps.intervalJoin(
        audit.select(col("user"), col("event_time"), col("id")),
        audit.filter(col("operation") === "Delete")
          .select(col("user"), col("event_time"), col("id")),
        "user", "event_time", "1 second", 10000,
        Seq("id" -> "event_id"), Seq("id" -> "incident_id"))
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // windowed heavy hitters, continuously: one Count-Min sketch per open
    // 5s window (fixed d·w state however many users appear), probed for the
    // known-user candidate list as the watermark closes each window
    val q7 = StreamOps.windowedHeavyHitters(
        audit.select(col("user"), col("event_time")),
        "user", "event_time", "1 second", "5 seconds",
        Seq("Tom", "Harry", "Bob"), d = 4, w = 64)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // upsert compaction, continuously: the BATCH latestState plan running
    // verbatim in update mode — current state per user, one row of state
    // per key however long the stream runs
    val q8 = graft.operators.CoreOps.latestState(
        audit.select(col("user"), unix_millis(col("event_time")).as("ms"),
          col("id"), col("operation")),
        Seq("user"), Seq("ms", "id"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("demo_state").start()
    // continuous fuzzy entity resolution: every micro-batch of user names
    // resolves against a small canonical registry within 1 edit
    val registry = Seq((1L, "Tommy"), (2L, "Harry"), (3L, "Bobby"))
      .toDF("rid", "name")
    val fuzzyRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q9 = StreamOps.segmentJoinEachBatch(
      audit.select(col("id"), col("user")), registry,
      "id", "user", "rid", "name", 1) { (out, _) =>
      fuzzyRows.addAndGet(out.count())
    }.start()
    // continuous drift monitor: each finalized 5s window's operation mix
    // scored (total-variation distance) against a static baseline mix
    val baseline = Seq("Create", "Modify", "Delete").toDF("operation")
    val driftRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val q10 = StreamOps.windowedDriftEachBatch(
      audit.select(col("operation"), col("event_time")), baseline,
      "operation", "event_time", "1 second", "5 seconds") { (out, _) =>
      driftRows.addAndGet(out.count())
    }.start()
    // continuous expanding-window anomaly flags: each user's duration is
    // judged against the running moments of everything BEFORE it — three
    // int64s of state per key however long the stream runs
    val q11 = StateMachines.expandingAnomalies(
        StateMachines.valuedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("duration")),
        3, 5)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous windowed quantile profile: per finalized 5s window, the
    // duration distribution as one fixed-size percentile sketch — the
    // streaming observability face of the stats tier
    val q12 = StreamOps.windowedQuantileProfile(
        audit.select(col("duration"), col("event_time")),
        "duration", "event_time", "1 second", "5 seconds",
        Seq(0.5, 0.95))
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous session-aware conversion funnel: per user, the session
    // index and funnel progress live in O(stages) state; a completion row
    // is (user:session, stage times)
    val q13 = StateMachines.sessionFunnelStages(
        StateMachines.keyedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("operation")),
        Seq("Create", "Modify", "Delete"), gapMs = 5000L)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous windowed diversity monitor: per finalized 5s window, the
    // operation-mix entropy — the whole distribution rides ONE
    // CategoryCountAgg through the single aggregation streaming allows
    val q14 = StreamOps.windowedEntropy(
        audit.select(col("operation"), col("event_time")),
        "operation", "event_time", "5 seconds", "1 second")
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous per-user rate limiting: token-bucket admit/reject by
    // event time (burst 3, ~1 token/sec) — one (lastMs, budget) state
    // pair per key however long the stream runs
    val q15 = StateMachines.tokenBucket(
        StateMachines.keyedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("operation")),
        capacityTokens = 3, refillNum = 1000L, refillDen = 1L)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous recency-weighted duration level per user (EWMA α=1/8):
    // one integer snapshot per key per micro-batch
    val q16 = StateMachines.ewmaSnapshots(
        StateMachines.valuedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("duration")),
        1, 8)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous bounded-symmetric drift: per finalized 5s window, the
    // Hellinger distance of the operation mix against the generator's
    // uniform baseline — one CategoryCountAgg aggregation, H ∈ [0,1]
    val q18 = StreamOps.windowedHellinger(
        audit.select(col("operation"), col("event_time")),
        "operation", "event_time", "5 seconds", "1 second",
        spark.createDataFrame(
          Seq("Create", "Modify", "Query", "Delete").map(Tuple1(_)))
          .toDF("operation"),
        "operation")
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // Holt level + trend beside q16's EWMA: the per-key one-step-ahead
    // forecast snapshot per micro-batch (integer recurrences, α=1/4 β=1/8)
    val q20 = StateMachines.holtSnapshots(
        StateMachines.valuedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("duration")),
        1, 4, 1, 8)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // the seasonal sibling beside q20: Holt-Winters books the recurring
    // per-slot component separately (period 4, event-count slots)
    val q21 = StateMachines.holtWintersSnapshots(
        StateMachines.valuedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("duration")),
        4, 1, 4, 1, 8, 1, 4)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // the bounded smoothing-free companion on the same shape: per
    // finalized 5s window, Jensen-Shannon divergence of the operation
    // mix against the generator's uniform baseline (JSD ≤ ln 2)
    val q19 = StreamOps.windowedJsd(
        audit.select(col("operation"), col("event_time")),
        "operation", "event_time", "5 seconds", "1 second",
        spark.createDataFrame(
          Seq("Create", "Modify", "Query", "Delete").map(Tuple1(_)))
          .toDF("operation"),
        "operation")
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous distinct-cardinality sketch per user: the KMV machine's
    // per-micro-batch estimate of how many distinct durations a key has
    // produced — k longs of state, arrival-order independent
    val q22 = StateMachines.kmvSnapshots(
        StateMachines.valuedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("duration")),
        16)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // per finalized 5s window, the KMV distinct-duration estimate — the
    // mergeable sketch as a windowed streaming aggregate (k longs per
    // open window)
    val q23 = StreamOps.windowedKmvDistinct(
        audit.select(col("duration"), col("event_time")),
        "duration", "event_time", "5 seconds", "1 second", 16)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // continuous sequential verdict per user: Wald's SPRT over
    // Query-vs-other operations — one frozen decision per key at the
    // first LLR threshold crossing
    // the constants DERIVE from the declared design (p0=0.2, p1=0.4,
    // α=β=0.05) — SprtDesignSpec pins the quantization identity
    val (sprtIncS, sprtIncF, sprtA, sprtB) =
      graft.streaming.SprtDesign.ppm(0.2, 0.4, 0.05, 0.05)
    val q24 = StateMachines.sprtDecisions(
        StateMachines.keyedEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("operation")),
        "Query", sprtIncS, sprtIncF, sprtA, sprtB)
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // upsert compaction as the STATE MACHINE (latestSnapshots): the
    // max-by fold emits each key's current winner per micro-batch in
    // append mode — the changelog feed where q8's complete mode re-emits
    // the whole table every trigger
    val q17 = StateMachines.latestSnapshots(
        StateMachines.payloadEvents(audit, col("user"),
          unix_millis(col("event_time")), col("id"), col("operation"),
          col("duration").cast("double")))
      .writeStream.outputMode("append").format("console")
      .option("truncate", false).start()
    // the TRAINED quality gate at ingest: each micro-batch scored under
    // frozen plan-literal ppm weights (label-free scoreUnlabeled), kept
    // rows counted — the fourth ingest gate beside contamination and the
    // two near-dup gates
    val gateKept = new java.util.concurrent.atomic.AtomicLong(0L)
    val gateSeen = new java.util.concurrent.atomic.AtomicLong(0L)
    // durations are 1..10 (Generators): the gate keeps dur >= 6 or so
    val q25 = StreamOps.scoreGateEachBatch(
      audit.select(col("id"), col("duration").cast("long").as("dur")),
      Seq("dur"), Array(-550000L, 100000L), Seq("id")) { (out, _) =>
      val kept = out.filter(col("pred")).count()
      gateKept.addAndGet(kept)
      gateSeen.addAndGet(out.count())
    }.start()
    def audited: Long = q3.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("graft_audit_in")).map(_.getLong(0))).sum
    val deadline = System.currentTimeMillis() + 30000
    while (audited < 500 && System.currentTimeMillis() < deadline) Thread.sleep(200)
    // NO processAllAvailable on a rate-source query — the source never
    // exhausts, so "drained" never arrives; the polled observer above
    // already bounded the run, and the state table is read mid-stream
    val stateRows = spark.table("demo_state").count()
    println(s"[demo] rate phase: observer counted $audited audit records through " +
      s"continuous session-window, stream-stream window-join, as-of join, " +
      s"interval-join, windowed heavy-hitter, upsert-compaction, fuzzy-" +
      s"resolve, windowed-drift, expanding-anomaly, windowed-quantile, " +
      s"session-funnel, windowed-entropy, token-bucket, EWMA and " +
      s"compaction-machine queries " +
      s"(${asofRows.get()} as-of rows, " +
      s"$stateRows state rows, ${fuzzyRows.get()} fuzzy matches, " +
      s"${driftRows.get()} drift rows, quality gate kept " +
      s"${gateKept.get()}/${gateSeen.get()})")
    // the ops dashboard: every live query's StreamingQueryProgress
    // history as ONE queryable frame (StreamObs; schema pinned in
    // StreamObsSpec) — throughput, state size, watermark, late drops
    val named = Seq("session_summary" -> q3, "window_join" -> q4,
      "interval_join" -> q6, "heavy_hitters" -> q7, "latest_state" -> q8,
      "expanding_anomaly" -> q11, "windowed_quantile" -> q12,
      "session_funnel" -> q13, "windowed_entropy" -> q14,
      "token_bucket" -> q15, "ewma" -> q16, "hellinger" -> q18,
      "jsd" -> q19, "holt" -> q20, "holt_winters" -> q21,
      "kmv_snapshots" -> q22, "windowed_kmv" -> q23, "sprt" -> q24,
      "latest_snapshots" -> q17)
    val obs = graft.streaming.StreamObs.progressFrame(spark, named)
    val rollup = obs.groupBy(col("query_name")).agg(
        sum(col("input_rows")).as("rows_in"),
        max(col("state_rows")).as("max_state_rows"),
        sum(col("rows_dropped_by_watermark")).as("late_drops"),
        max(col("batch_duration_ms")).as("max_batch_ms"))
      .orderBy(col("query_name"))
    println("[demo] streaming-ops dashboard (from StreamObs.progressFrame):")
    // driver-bounded: O(queries) dashboard rows
    rollup.collect().foreach(r => println(
      f"[demo]   ${r.getString(0)}%-18s rows_in=${r.getLong(1)}%-6d " +
        f"max_state_rows=${r.getLong(2)}%-5d late_drops=${r.getLong(3)}%-3d " +
        f"max_batch_ms=${r.getLong(4)}"))
    q3.stop(); q4.stop(); q5.stop(); q6.stop(); q7.stop(); q8.stop(); q9.stop()
    q10.stop(); q11.stop(); q12.stop(); q13.stop(); q14.stop(); q15.stop()
    q16.stop(); q17.stop(); q18.stop(); q19.stop(); q20.stop(); q21.stop()
    q22.stop(); q23.stop(); q24.stop(); q25.stop()
    spark.stop()
  }
}
