package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.types.StructType
import java.nio.file.Files

/** Checkpoint-restart recovery: for three representative state machines,
  * run a FILE-backed streaming query with a real on-disk
  * `checkpointLocation`, STOP it mid-stream, append more input files, and
  * restart the same query. The restarted run must (a) restore its
  * `GroupState` from the HDFS state store — batch-2 outputs below are
  * chosen so they are only correct if batch-1 state survived the restart
  * (a lost state would emit a visibly different row, never a missing
  * one) — and (b) keep the file sink exactly-once (no batch-1 row
  * duplicated or lost). The final output must equal an UNINTERRUPTED run
  * of the same machine over the same files byte for byte.
  *
  * This is the property MemoryStream parity cannot test: MemoryStream
  * state lives in the same JVM session, while a production stream
  * relies on HDFSStateStore serialization + the sink's commit log
  * across process generations. */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Append one JSON file-batch to a file-source directory. */
  private def appendJson[T: org.apache.spark.sql.Encoder](
      dir: String, rows: Seq[T]): Unit =
    rows.toDS().coalesce(1).write.mode("append").json(dir)

  /** Run `build` as a parquet-sink streaming query over `inDir` until all
    * currently-visible files are processed, then stop. Same (checkpoint,
    * out) across calls = one logical query across restarts. */
  private def runUntilDrained(inDir: String, schema: StructType, cp: String,
                              outDir: String)
                             (build: DataFrame => Dataset[_]): Unit = {
    val q = build(spark.readStream.schema(schema).json(inDir))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .format("parquet").option("path", outDir)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Drive the interrupted (stop + restart) and uninterrupted runs of one
    * machine over the same two file-batches; return (recovered rows,
    * uninterrupted rows) read back through the sinks' commit logs. */
  private def recoveredVsStraight[T: org.apache.spark.sql.Encoder](
      batch1: Seq[T], batch2: Seq[T])
      (build: DataFrame => Dataset[_]): (Set[String], Set[String]) = {
    val schema = implicitly[org.apache.spark.sql.Encoder[T]].schema
    val inDir = tmp("graft_rec_in")
    val cp = tmp("graft_rec_cp")
    val outDir = tmp("graft_rec_out")
    appendJson(inDir, batch1)
    runUntilDrained(inDir, schema, cp, outDir)(build) // generation 1
    appendJson(inDir, batch2)                          // arrives while DOWN
    runUntilDrained(inDir, schema, cp, outDir)(build) // generation 2
    val straightCp = tmp("graft_rec_cp2")
    val straightOut = tmp("graft_rec_out2")
    runUntilDrained(inDir, schema, straightCp, straightOut)(build)
    def rows(dir: String): Set[String] =
      spark.read.parquet(dir).collect().map(_.toString).toSet
    (rows(outDir), rows(straightOut))
  }

  test("asofMatches restores the stored right across a restart: a left " +
      "arriving after the stop matches a right seen before it") {
    val batch1 = Seq(
      AsofEvent("k", 1000, 10, isLeft = false),
      AsofEvent("k", 2000, 11, isLeft = true)) // matches right@1000
    val batch2 = Seq(
      AsofEvent("k", 3000, 12, isLeft = true), // ONLY matches if the
                                               // right@1000 was restored
      AsofEvent("z", 3000, 13, isLeft = true)) // cold key: NULL either way
    val (rec, straight) = recoveredVsStraight(batch1, batch2)(df =>
      StateMachines.asofMatches(df.as[AsofEvent]))
    assert(rec == straight)
    // a lost state would emit [k,12,3000,null,null]
    assert(rec.contains("[k,12,3000,1000,10]"),
      s"restored-state match missing from $rec")
    assert(rec.contains("[z,13,3000,null,null]"))
    assert(rec.size == 3) // one row per LEFT, none duplicated
  }

  test("holtSnapshots carries level+trend across a restart: the post-" +
      "restart snapshot continues the pre-stop trajectory") {
    val batch1 = Seq(
      ValuedEvent("k", 0, 1, 10), ValuedEvent("k", 1000, 2, 20))
    val batch2 = Seq(
      ValuedEvent("k", 2000, 3, 30)) // n_events=3 and its level/trend
                                     // are functions of batch-1 state
    val (rec, straight) = recoveredVsStraight(batch1, batch2)(df =>
      StateMachines.holtSnapshots(df.as[ValuedEvent], 1, 2, 1, 2))
    // holtSnapshots emits ONE snapshot per key per invocation, so the
    // interrupted run legitimately has one row per generation where the
    // straight run has one total — the recovery proof is that the FINAL
    // snapshot (n_events, level, trend, forecast after all 3 events) is
    // byte-identical: a lost state would restart the batch-2 generation
    // at n_events 1 with a zero trend
    assert(rec.filter(_.startsWith("[k,3,")) == straight,
      s"post-restart trajectory diverged: $rec vs $straight")
    assert(rec.size == 2) // one snapshot per generation, none duplicated
  }

  test("eventTimeTumblingCount restores window state AND the watermark " +
      "across a restart: a pre-stop window finalizes after the restart") {
    // tumbling 10s windows, zero lateness, one file per trigger so the
    // append-mode finalization cadence is identical in both runs.
    // Gen 1 ingests t=100s,101s,115s (nothing finalizes; watermark 115).
    // The restart ingests t=125s -> window [100,110) with COUNT 2 emits
    // NOW, which needs both the restored row state and the restored
    // watermark; then t=140s finalizes [110,120).
    import java.sql.Timestamp
    val schema = implicitly[org.apache.spark.sql.Encoder[(Long, Timestamp)]]
      .schema
    val inDir = tmp("graft_rec_win_in")
    val cp = tmp("graft_rec_win_cp")
    val outDir = tmp("graft_rec_win_out")
    def run(checkpoint: String, out: String): Unit = {
      val q = StreamOps.eventTimeTumblingCount(
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").json(inDir)
            .toDF("event_id", "ts"),
          "ts", "0 seconds", "10 seconds")
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .format("parquet").option("path", out)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    appendJson(inDir, Seq((1L, new Timestamp(100000)),
      (2L, new Timestamp(101000)), (3L, new Timestamp(115000))))
    run(cp, outDir)                                      // generation 1
    appendJson(inDir, Seq((4L, new Timestamp(125000))))  // while DOWN
    appendJson(inDir, Seq((5L, new Timestamp(140000))))
    run(cp, outDir)                                      // generation 2
    val straightCp = tmp("graft_rec_win_cp2")
    val straightOut = tmp("graft_rec_win_out2")
    run(straightCp, straightOut)
    def rows(dir: String): Set[String] =
      spark.read.parquet(dir).collect().map(_.toString).toSet
    val rec = rows(outDir)
    assert(rec == rows(straightOut))
    // the cross-restart finalization: [100,110) counted BOTH pre-stop rows
    // (a lost state would emit count 1 or nothing)
    assert(rec.exists(_.startsWith("[100000,2,")),
      s"window [100,110) lost its pre-stop rows: $rec")
    // [110,120) and [120,130) finalize too (the no-data cleanup batch);
    // [130,140) stays open — the watermark never passes its end
    assert(rec.size == 3, s"unexpected finalized windows: $rec")
  }

  test("tokenBucket restores the spent bucket across a restart: the " +
      "post-restart request is rejected on the remembered balance") {
    // capacity 2 tokens, refill 100 micro-tokens/ms = 0.1 token/s
    val batch1 = Seq(
      KeyedEvent("k", 0, 1, "req"),    // full bucket: admit, 1 token left
      KeyedEvent("k", 100, 2, "req"))  // refill 0.01: admit, ~0 left
    val batch2 = Seq(
      KeyedEvent("k", 200, 3, "req"))  // refill 0.01: REJECT — but a lost
                                       // state would re-init a FULL
                                       // bucket and admit
    val (rec, straight) = recoveredVsStraight(batch1, batch2)(df =>
      StateMachines.tokenBucket(df.as[KeyedEvent], 2, 100, 1))
    assert(rec == straight)
    val batch2Row = rec.find(_.startsWith("[k,3,200,")).get
    assert(batch2Row.contains("false"),
      s"restart re-initialized the bucket (admitted): $batch2Row")
    assert(rec.size == 3)
  }

  test("kmvSnapshots restores the k-minima set across a restart: a " +
      "post-restart duplicate leaves the sketch unchanged, which only a " +
      "restored state can know") {
    val batch1 = Seq(
      ValuedEvent("k", 0, 1, 11), ValuedEvent("k", 1000, 2, 22),
      ValuedEvent("k", 2000, 3, 33))
    val batch2 = Seq(
      ValuedEvent("k", 3000, 4, 11)) // duplicate of a batch-1 value: the
                                     // final sketch must NOT move, and
                                     // n_events must continue at 4 — a
                                     // lost state would emit n_events 1
                                     // with a 1-element sketch
    val (rec, straight) = recoveredVsStraight(batch1, batch2)(df =>
      StateMachines.kmvSnapshots(df.as[ValuedEvent], 2))
    // one snapshot per generation; the FINAL (n_events=4) row must be
    // byte-identical to the uninterrupted run's single row
    assert(rec.filter(_.startsWith("[k,4,")) == straight,
      s"post-restart sketch diverged: $rec vs $straight")
    assert(rec.size == 2)
  }

  test("FunnelPipeline: a restart restores the keep-first GroupState, the " +
      "bucket-keyed band-index GroupState, and the durable stage/export " +
      "stores — ON THE ROCKSDB PROVIDER — an exact dup and a near-dup of " +
      "PRE-STOP originals arriving while DOWN are still dropped, and the " +
      "card equals an uninterrupted run") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val batch1 = Seq(
      (1L, "en", base),
      (2L, "en", "completely different words here body text"),
      (3L, "en", "another unrelated document body entirely fresh"))
    val batch2 = Seq( // arrives while the pipeline is DOWN
      (4L, "en", base),                         // exact dup of doc 1: drop
                                                // needs the RESTORED
                                                // fingerprint GroupState
      (5L, "en", base + " with more tacked on"), // near-dup of doc 1: drop
                                                 // needs the restored
                                                 // band-bucket GroupState
      (6L, "en", "a third standalone body of words entirely"))
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    // statePartitions = 3 deliberately differs from the session's conf:
    // generation 2's drain below proves the checkpoint-pinned count (not
    // the restarting session's setting) is what the restart resumes on
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab),
      Map("en" -> ((Long.MaxValue, Long.MaxValue))),
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L,
      statePartitions = Some(3))
    val bench = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val schema = batch1.toDF("doc_id", "lang", "text").schema
    def drain(dir: String): Unit = { // one process generation
      val q = FunnelPipeline.start(spark,
        spark.readStream.schema(schema).parquet(s"$dir/in"), dir, bench,
        vocab, cfg)
      try q.processAllAvailable() finally q.stop()
    }
    def addFile(dir: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    def card(dir: String): Seq[(Long, String, Long, Option[Long])] =
      FunnelPipeline.stageCard(spark, dir)
        .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    val dir = tmp("graft_fprec")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    addFile(dir, batch1)
    drain(dir)           // generation 1, then STOP
    addFile(dir, batch2) // lands while down
    drain(dir)           // generation 2: same checkpoint + stores
    val recovered = card(dir)
    val straightDir = tmp("graft_fprec2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$straightDir/in"))
    addFile(straightDir, batch1); addFile(straightDir, batch2)
    drain(straightDir)   // uninterrupted twin over the same files
    assert(recovered == card(straightDir),
      s"recovered card diverged: $recovered vs ${card(straightDir)}")
    assert(recovered.map(r => (r._2, r._3)) == Seq(
      ("ingested", 6L), ("exact_dedup", 5L), ("near_dedup", 4L),
      ("decontaminated", 4L), ("quality_kept", 4L), ("ppl_head", 4L)),
      s"got $recovered")
    // the recovery above ran on the RocksDB state store: FunnelPipeline
    // pins the provider at first start and the checkpoint's offset
    // metadata carries it into every later generation — so this restart
    // proof IS the RocksDB restart proof, not the default provider's
    val offsets0 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/checkpoint/offsets/0"))
    assert(offsets0.contains("RocksDBStateStoreProvider"),
      s"funnel checkpoint not pinned to RocksDB: $offsets0")
    // the statePartitions pin is ALSO in the offset metadata — the
    // restart above resumed on 3 state-store partitions even though the
    // restarting session's own shuffle setting differs (this is the
    // cross-generation proof the FunnelConfig scaladoc promises)
    assert(offsets0.contains("\"spark.sql.shuffle.partitions\":\"3\""),
      s"funnel checkpoint not pinned to 3 state partitions: $offsets0")
    // and the session conf was restored after start() — the pin must not
    // leak onto unrelated queries in this session
    assert(!spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")),
      "FunnelPipeline.start leaked the RocksDB provider conf")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "3",
      "FunnelPipeline.start leaked the statePartitions pin onto the session")
    // the export positions also continued across the restart
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val manifest = FunnelPipeline.exportManifest(spark, dir)
    val perShard = manifest.groupBy(col("shard"))
      .agg(max(col("pos")).as("mx"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect()
    assert(perShard.forall(r => r._2 == r._3),
      s"positions not dense per shard after restart: ${perShard.toSeq}")
    assert(manifest.count() == 4L)
  }

  test("FunnelPipeline bootstrap + restart: generation 1 starts from " +
      "SEEDED state (no checkpoint); generation 2 restarts on the live " +
      "checkpoint — which now holds both the seed AND generation 1's " +
      "arrivals — and drops dups/near-dups of BOTH") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val history = Seq(
      (1L, "en", base),
      (2L, "en", "completely different words here body text"))
    val gen1 = Seq(
      (5L, "en", "a brand new body of words arriving on the stream"))
    val gen2 = Seq( // arrives while DOWN, replayed by generation 2
      (6L, "en", base),                         // exact dup of HISTORY
      (7L, "en", base + " extra"),              // near-dup of HISTORY
      (8L, "en", gen1.head._3),                 // exact dup of GEN-1 arrival
      (9L, "en", gen1.head._3 + " extra"),      // near-dup of GEN-1 arrival
      (10L, "en", "wholly fresh words that survive the gates"))
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab),
      Map("en" -> ((Long.MaxValue, Long.MaxValue))),
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
    val bench = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val schema = gen1.toDF("doc_id", "lang", "text").schema
    val dir = tmp("graft_fboot")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    def addFile(rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    def drain(): Unit = {
      // the SAME bootstrap arg both generations — generation 2's live
      // checkpoint must override it (Spark's initial-state contract);
      // were the seed re-applied verbatim, gen-1's arrival (doc 5) would
      // be forgotten and docs 8/9 would sail through
      val q = FunnelPipeline.start(spark,
        spark.readStream.schema(schema).parquet(s"$dir/in"), dir, bench,
        vocab, cfg,
        bootstrap = Some(history.toDF("doc_id", "lang", "text")))
      try q.processAllAvailable() finally q.stop()
    }
    addFile(gen1)
    drain() // generation 1: seeded start
    addFile(gen2)
    drain() // generation 2: restart on the live checkpoint
    val card = FunnelPipeline.stageCard(spark, dir)
      .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    // 6 streamed docs; 6 and 8 drop at gate 1 (one vs history's seed, one
    // vs gen-1's own state), 7 and 9 drop at gate 2 likewise; 5 and 10
    // survive
    assert(card.map(r => (r._2, r._3)) == Seq(
      ("ingested", 6L), ("exact_dedup", 4L), ("near_dedup", 2L),
      ("decontaminated", 2L), ("quality_kept", 2L), ("ppl_head", 2L)),
      s"got $card")
    val kept = FunnelPipeline.exportManifest(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"))
      .as[Long].collect().toSet
    assert(kept == Set(5L, 10L), s"got $kept")
  }

  test("FunnelPipeline: a crash in the WORST window — export and offsets " +
      "written, stages commit marker not — replays the batch idempotently: " +
      "no double counts, no duplicate export rows, card equals a clean run") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "en", "completely different words here body text"),
      (3L, "en", "another unrelated document body entirely fresh"),
      (4L, "en", "a fourth standalone body of words entirely its own"))
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab),
      Map("en" -> ((Long.MaxValue, Long.MaxValue))),
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
    val bench = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val schema = docs.take(1).toDF("doc_id", "lang", "text").schema
    def addFile(dir: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    def drain(dir: String): Unit = {
      val q = FunnelPipeline.start(spark,
        spark.readStream.schema(schema).parquet(s"$dir/in"), dir, bench,
        vocab, cfg)
      try q.processAllAvailable() finally q.stop()
    }
    val dir = tmp("graft_fpcrash")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    addFile(dir, docs.take(2))
    drain(dir) // batch 0 commits cleanly
    addFile(dir, docs.drop(2))
    FunnelPipeline.failBeforeCommitOnce = Some(1L) // arm the crash
    try {
      val failed = intercept[Exception] { drain(dir) }
      // the injected message may be wrapped by the streaming engine
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(chain(failed).exists(_.contains("injected crash")),
        s"unexpected failure: ${chain(failed)}")
      // batch 1's side stores landed, its commit marker did not
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/export/b=1")))
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/stages/b=1/_SUCCESS")))
    } finally FunnelPipeline.failBeforeCommitOnce = None
    drain(dir) // recovery generation: foreachBatch replays batch 1
    def card(d: String): Seq[(Long, String, Long, Option[Long])] =
      FunnelPipeline.stageCard(spark, d)
        .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    val straightDir = tmp("graft_fpcrash2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$straightDir/in"))
    addFile(straightDir, docs.take(2)); addFile(straightDir, docs.drop(2))
    drain(straightDir)
    assert(card(dir) == card(straightDir),
      s"replayed card diverged: ${card(dir)} vs ${card(straightDir)}")
    assert(card(dir).head._3 == 4L) // all four docs counted exactly once
    // the export store holds each survivor exactly once, positions dense
    val export = FunnelPipeline.exportManifest(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSeq
    assert(export.sorted == Seq(1L, 2L, 3L, 4L), s"got $export")
  }

  test("FunnelPipeline bounded catch-up: a restart behind a 5-file backlog " +
      "under Trigger.AvailableNow + maxFilesPerTrigger=1 drains it in one " +
      "bounded trigger PER FILE (never one giant batch), stops by itself " +
      "when caught up, still drops dups/near-dups of pre-stop history, " +
      "and the card equals an uninterrupted run") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    def fresh(id: Long) =
      (id, "en", (1 to 8).map(j => s"cu${id}word$j").mkString(" "))
    val live = Seq(fresh(1).copy(_3 = base), fresh(2), fresh(3))
    val backlog = Seq(
      (4L, "en", base),           // exact dup of PRE-STOP doc 1: drop
      (5L, "en", base + " extra"), // near-dup of pre-stop doc 1: drop
      fresh(6), fresh(7), fresh(8))
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab),
      Map("en" -> ((Long.MaxValue, Long.MaxValue))),
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
    val bench = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val schema = live.toDF("doc_id", "lang", "text").schema
    def addFile(dir: String, rows: Seq[(Long, String, String)]): Unit =
      rows.toDF("doc_id", "lang", "text").coalesce(1)
        .write.mode("append").parquet(s"$dir/in")
    def card(dir: String): Seq[(Long, String, Long, Option[Long])] =
      FunnelPipeline.stageCard(spark, dir)
        .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    def batches(dir: String): Int = {
      val r = java.nio.file.Paths.get(s"$dir/stages")
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(r)
      try l.iterator().asScala.count(
        _.getFileName.toString.startsWith("b="))
      finally l.close()
    }
    val dir = tmp("graft_fpcu")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    // generation 1: live ingest, then STOP
    addFile(dir, live)
    val q1 = FunnelPipeline.start(spark,
      spark.readStream.schema(schema).parquet(s"$dir/in"), dir, bench,
      vocab, cfg)
    try q1.processAllAvailable() finally q1.stop()
    val preBatches = batches(dir)
    // a 5-file backlog lands while DOWN
    backlog.foreach(d => addFile(dir, Seq(d)))
    // generation 2: CATCH-UP MODE — the source bounds each trigger at one
    // file and AvailableNow stops the query once the backlog is drained
    val q2 = FunnelPipeline.start(spark,
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$dir/in"),
      dir, bench, vocab, cfg,
      trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    try assert(q2.awaitTermination(120000),
      "AvailableNow catch-up did not stop by itself")
    finally q2.stop()
    assert(batches(dir) - preBatches == backlog.size,
      s"backlog not drained one bounded trigger per file: " +
        s"${batches(dir) - preBatches} new batches for ${backlog.size} files")
    // verdicts right across the downtime: dup + near-dup of doc 1 dropped
    val got = card(dir)
    assert(got.map(r => (r._2, r._3)) == Seq(
      ("ingested", 8L), ("exact_dedup", 7L), ("near_dedup", 6L),
      ("decontaminated", 6L), ("quality_kept", 6L), ("ppl_head", 6L)),
      s"got $got")
    // and the card equals an uninterrupted live run over the same files
    val straightDir = tmp("graft_fpcu2")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$straightDir/in"))
    addFile(straightDir, live); backlog.foreach(d => addFile(straightDir, Seq(d)))
    val q3 = FunnelPipeline.start(spark,
      spark.readStream.schema(schema).parquet(s"$straightDir/in"),
      straightDir, bench, vocab, cfg)
    try q3.processAllAvailable() finally q3.stop()
    assert(got == card(straightDir),
      s"catch-up card diverged: $got vs ${card(straightDir)}")
  }

  test("intervalAlerts restarts a checkpoint written by its earlier " +
      "groupByKey(_.key) form with the state intact: a Delete 1,500 ms " +
      "after a pre-restart Delete alerts") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
      OutputMode}
    // the keyed walk before it grouped by the key column: a per-row key
    // lambda, the same state type and no timeout
    def byKeyLambda(events: Dataset[KeyedEvent], deleteKind: String,
                    thresholdMs: Long): Dataset[IntervalAlert] =
      events.groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[KeyedEvent], state: GroupState[LastSeen]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[IntervalAlert]
          var last = state.getOption
          it.toArray.sortBy(e => (e.tsMs, e.tiebreak)).foreach { e =>
            if (e.kind == deleteKind) {
              last.foreach { prev =>
                val gap = e.tsMs - prev.tsMs
                if (gap < thresholdMs) out += IntervalAlert(key, e.tsMs, gap)
              }
              last = Some(LastSeen(e.kind, e.tsMs))
            }
          }
          last.foreach(state.update)
          out.iterator
      }
    val schema = Encoders.product[KeyedEvent].schema
    val inDir = tmp("graft_rec_ia_in")
    val cp = tmp("graft_rec_ia_cp")
    val outDir = tmp("graft_rec_ia_out")
    appendJson(inDir, Seq(KeyedEvent("u", 1000, 1, "Delete"),
      KeyedEvent("v", 1000, 2, "Login")))
    runUntilDrained(inDir, schema, cp, outDir)(df =>
      byKeyLambda(df.as[KeyedEvent], "Delete", 2000))
    appendJson(inDir, Seq(KeyedEvent("u", 2500, 3, "Delete"),
      KeyedEvent("w", 2500, 4, "Delete"))) // cold key: nothing to pair
    runUntilDrained(inDir, schema, cp, outDir)(df =>
      StateMachines.intervalAlerts(df.as[KeyedEvent], "Delete", 2000))
    val rows = spark.read.parquet(outDir).collect().map(_.toString).toSet
    // a lost or unreadable state would emit nothing for u
    assert(rows == Set("[u,2500,1500]"), s"got $rows")
  }
}
