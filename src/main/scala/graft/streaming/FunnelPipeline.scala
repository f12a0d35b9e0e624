package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.StateMachines.BandBucketSeed
import graft.operators.{CoreOps, Dedup, LogReg, TextOps, Unigram}
import java.nio.file.{Files, Paths, StandardCopyOption}

/** The curation funnel's gate artifacts and parameters, frozen at pipeline
  * construction — the way a production ingest ships calibration-corpus
  * artifacts (classifier weights, tokenizer inventory + normalizer, the
  * per-language perplexity boundary) rather than re-deriving them on the
  * stream. `cutNppByLang` maps lang → (npp, doc_id) of the LAST head/middle
  * doc: boundary membership IS tercile membership, because the kept docs
  * are a prefix of each language's total (npp, doc_id) order.
  *
  * `maxBucket` is the fail-loud bound on one band bucket's membership
  * (StateMachines.bandKeepFirst). What actually fills a bucket: the
  * MinHash band signature space at `mhRows` rows is ~(2³¹)^rows, so
  * CHANCE collisions are vanishingly rare for rows ≥ 2 (expected
  * n²/2 · (2³¹)^-rows ≪ 1 below 10⁹ docs) — a bucket's size therefore
  * tracks the corpus's LARGEST NEAR-DUP CLUSTER (boilerplate, templates),
  * not the corpus size or the banding. The default is
  * `FunnelConfig.maxBucketFor(1024)` = 4096: a 4× safety margin over a
  * generous 1k-member boilerplate cluster. Cost anchors per member: the
  * bucket stores 8 B (ids only — gram sets live once per doc in the gram
  * store), so the largest state value is ~32 KB and per-arrival verify
  * work is ≤ maxBucket gram probes. (Round 14's flat 100,000 default
  * guarded a state value of tens of MB and 10⁵ verifies per arrival —
  * an order of magnitude past where banding has already degenerated.)
  * A corpus with genuinely larger duplicate clusters should raise it
  * DELIBERATELY (4× its largest expected cluster) — the machine fails
  * loud naming the hot bucket, never silently.
  *
  * `compactEvery` > 0 folds the durable stage store and GCs superseded
  * offsets every that many batches, ONLINE (0 disables — compactStores
  * can still run offline).
  *
  * `statePartitions` pins the stateful operators' state-store partition
  * count for THIS query at FIRST start (None inherits the session's
  * `spark.sql.shuffle.partitions`). Spark records the count in the
  * checkpoint's offset metadata, so every restart resumes on the pinned
  * value regardless of the restarting session's conf — and it CANNOT be
  * changed after the first start without discarding the checkpoint
  * (Spark's own state-partitioning contract). Sizing: each stateful
  * operator opens one store per partition per trigger, and every store
  * pays a fixed open/commit overhead regardless of how few rows it
  * touches (measured via `BenchProfile _build:funnel_pipeline`:
  * 3 operators × 32 stores at ~80 rows each were
  * commit-overhead-bound). Pick the partition count
  * from TARGET STATE SIZE (~0.5–2 GB of state per store is comfortable
  * for RocksDB), not from the session's CPU-oriented shuffle setting —
  * a 100 TB deployment wants hundreds of partitions, a bench-scale
  * corpus single digits. */
case class FunnelConfig(weights: Array[Long], zQ: Long,
                        cutNppByLang: Map[String, (Long, Long)],
                        mhK: Int, mhBands: Int, mhRows: Int,
                        minJaccard: Double, winnowW: Int,
                        minContainment: Double, tokCap: Long,
                        uniW: Int, uniL: Int,
                        shardCount: Long, packTokens: Long,
                        maxBucket: Int = FunnelConfig.maxBucketFor(1024),
                        compactEvery: Int = 16,
                        statePartitions: Option[Int] = None)

object FunnelConfig {
  /** The bucket cap for a corpus whose largest expected near-dup cluster
    * is `maxDupCluster` docs: 4× headroom over the cluster (chance
    * collisions are negligible at mhRows ≥ 2 — see the case-class
    * scaladoc), floored at the machine's own minimum of 2. */
  private def maxBucketFor(maxDupCluster: Int): Int = {
    require(maxDupCluster >= 1,
      s"maxDupCluster must be >= 1, got $maxDupCluster")
    math.max(2, 4 * maxDupCluster)
  }
}

/** The PRODUCTION form of the composed five-gate curation funnel — the
  * reference's E8 move (compose the whole chapter into one program,
  * chapter6_exercise/AnalyzeBrowserEvents.java:28) with E6/E7's durability
  * lesson applied (exactly-once sink, chapter4/EventTimeOperations.java:206;
  * restorable keyed state, chapter5/StatefulOperations.java:83-128): every
  * piece of pipeline state survives the process, and every piece of
  * per-trigger state is LOOKED UP by key, never rescanned.
  *
  * One streaming query, three chained keyed state machines (all
  * flatMapGroupsWithState in Append mode — the combination Spark's
  * unsupported-operations checker explicitly allows), then foreachBatch:
  *
  *   - gate 1 (exact dedup keep-first): StateMachines.keepFirst — one
  *     boolean of GroupState per content fingerprint, restored from
  *     `checkpoint/` across restarts; O(batch) work per trigger.
  *   - gate 2 (near-dup keep-first): StateMachines.bandKeepFirst — the
  *     band index AS keyed state, split across two machines so the
  *     verify payload is stored ONCE per doc: the bucket machine holds
  *     one GroupState entry per MinHash band bucket with member doc IDS
  *     ONLY (fail-loud `maxBucket` cap) and emits cross-batch candidate
  *     probes; the doc-keyed gram machine stores each doc's distinct
  *     shingle-hash set once and verifies the probes against it. A
  *     trigger reads exactly the buckets + members its batch touches —
  *     probe input is O(batch + collisions) in both WORK and IO, never
  *     O(corpus). (Round 13 kept the index in per-trigger parquet
  *     deltas and re-read ALL of them every trigger — quadratic scan IO
  *     across an ingest; round 14 moved it into keyed state but stored
  *     each doc's gram set once PER BAND — measured ≈870 B/doc/version,
  *     an ×bands duplication this split removes.)
  *   - gates 3-5 (decontamination / trained quality / perplexity): per-row
  *     against frozen artifacts inside foreachBatch.
  *   - stage accounting: ONE aggregate per trigger reshaped to six rows
  *     and written under `stages/b=<batchId>` — no driver-side counters,
  *     no collect; the six-row card is a sum over the store, so a restart
  *     loses nothing.
  *   - training export: survivors append to the shard manifest under
  *     `export/b=<batchId>` with per-shard positions CONTINUED across
  *     triggers (cumulative per-shard offsets under `offsets/`), and the
  *     physical corpus lands via CorpusLayout.writePartitioned under
  *     `corpus/b=<batchId>/shard=<s>/` — the incremental form of
  *     q_shard_manifest (within-shard order = (arrival batch, md5 key),
  *     vs the batch manifest's global md5 order; the slice-deterministic
  *     replay makes that order oracle-checkable, q_shard_manifest_stream).
  *
  * State store provider: `start` pins RocksDB
  * (spark.sql.streaming.stateStore.providerClass) for the query — both
  * machines' state grows with the corpus (distinct fingerprints; band
  * bucket members), which at 100 TB is far past what the default
  * HDFS-backed provider's all-in-executor-memory maps can hold. The
  * provider is captured in the checkpoint's offset metadata at first
  * start, so restarts resume on RocksDB regardless of session conf.
  *
  * Exactly-once: foreachBatch re-runs an uncommitted batch with the SAME
  * batchId after a failure; every per-batch directory write is
  * mode("overwrite") into a batchId-named path, and the `stages/` write
  * commits the batch LAST — a batch whose stages directory exists is
  * complete and skipped verbatim on replay, so a crash between writes
  * redoes (idempotently) rather than duplicates. The keyed state of both
  * machines versions with the batchId in the checkpoint, so a replayed
  * batch probes exactly the pre-batch state again.
  *
  * Correctness gate: the accumulated card equals q_curation_funnel's
  * batch oracle (the SAME DuckDB SQL) under an id-ascending replay, where
  * keep-first ≡ min-id canonical and the bucket-keyed probe verifies
  * exactly the pairs the batch LSH all-pairs run verifies.
  */
object FunnelPipeline {

  private def committed(dir: String, bid: Long): Boolean =
    Files.exists(Paths.get(s"$dir/stages/b=$bid/_SUCCESS"))

  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val ShufflePartitionsKey = "spark.sql.shuffle.partitions"
  private val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ChangelogKey = "spark.sql.streaming.stateStore.rocksdb" +
    ".changelogCheckpointing.enabled"

  /** TEST-ONLY fault injection: when set, processBatch throws ONCE right
    * after the given batch id's export/offsets writes land but BEFORE the
    * stages commit marker — the worst crash window (side stores written,
    * batch uncommitted). RecoverySpec uses it to prove the replay
    * contract: foreachBatch re-runs the batch with the SAME id, every
    * per-batch directory is overwritten idempotently, and nothing
    * double-counts. Never set outside tests. */
  @volatile private[graft] var failBeforeCommitOnce: Option[Long] = None

  /** Start the composed funnel over any streaming frame with columns
    * (doc_id, lang, text). `bench` is the static decontamination
    * benchmark; `vocab` the frozen unigram inventory. All pipeline state
    * lives under `dir` (checkpoint with both machines' keyed state,
    * stage/export/offset stores) — restart with the same `dir` to
    * resume. `probeMeter` (tests) gauges gate-2 probe input.
    *
    * `bootstrap`: an ALREADY-INGESTED corpus frame (doc_id, lang, text)
    * whose dedup state seeds both machines before the first batch — the
    * rebuild path when a pipeline must start without its checkpoint
    * (state lost, or re-banding/re-fingerprinting invalidated it): dups
    * and near-dups of the bootstrap corpus drop exactly as if the old
    * checkpoint had survived. Bootstrap docs do NOT flow through the
    * gates — they are state only, so the stage card and the export count
    * NEW arrivals exclusively (history was already accounted/exported by
    * the pipeline being replaced). Ignored on a restart that still holds
    * checkpoint state (Spark's initial-state contract). */
  def start(spark: SparkSession, stream: DataFrame, dir: String,
            bench: DataFrame, vocab: DataFrame, cfg: FunnelConfig,
            probeMeter: Option[org.apache.spark.util.LongAccumulator] = None,
            bootstrap: Option[DataFrame] = None,
            trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : StreamingQuery = {
    require(cfg.mhBands > 0 && cfg.mhRows > 0 && cfg.mhK > 0,
      s"need positive MinHash params, got k=${cfg.mhK} bands=${cfg.mhBands} " +
        s"rows=${cfg.mhRows}")
    require(cfg.shardCount > 0 && cfg.packTokens > 0,
      s"need positive shardCount/packTokens, got ${cfg.shardCount}/" +
        s"${cfg.packTokens}")
    import spark.implicits._
    // frozen static artifacts, materialized ONCE for the query's lifetime
    val benchS = bench.localCheckpoint(true)
    val vocabS = vocab.localCheckpoint(true)
    val cuts = cfg.cutNppByLang.toSeq.map { case (l, (n, d)) => (l, n, d) }
      .toDF("lang", "_cut_npp", "_cut_id").localCheckpoint(true)
    val hashed = stream.filter(col("text").isNotNull)
      .select(TextOps.fingerprint(col("text")).as("th"),
        col("doc_id").cast("long").as("doc_id"), col("lang"), col("text"))
      .as[HashedDoc]
    // gate 1, then the band explosion feeding gate 2: each doc fans out to
    // its mhBands bucket rows. Band 0 is the doc's CARRIER (payload +
    // gram set for the doc-keyed store); the other bands ship null
    // payload, so text crosses the keyed exchange once per doc, the gram
    // set ×bands (it is every band row's verify input), and the gram
    // machine collapses the carrier back to ONE payload row per doc.
    val gated = bootstrap match {
      case Some(hist) =>
        StateMachines.keepFirstSeeded(hashed,
          hist.filter(col("text").isNotNull)
            .select(TextOps.fingerprint(col("text")).as("th"))
            .distinct().as[String])
      case None => StateMachines.keepFirst(hashed)
    }
    val probes = gated.toDF()
      .transform(withSignatures(_, cfg))
      .select(posexplode(array(bucketColumns(cfg): _*)).as(Seq("_band", "bucket")),
        col("doc_id"), col("lang"), col("text"), col("is_first"), col("sh"))
      .select(col("bucket"), col("doc_id"),
        when(col("_band") === 0, col("lang")).as("lang"),
        when(col("_band") === 0, col("text")).as("text"),
        col("is_first"), (col("_band") === 0).as("carrier"), col("sh"))
      .as[BandProbe]
    val verdicts = bootstrap match {
      case Some(hist) => StateMachines.bandKeepFirstSeeded(probes,
        cfg.minJaccard, cfg.maxBucket, bandSeeds(hist, cfg),
        gramSeeds(hist, cfg), probeMeter)
      case None => StateMachines.bandKeepFirst(probes, cfg.minJaccard,
        cfg.maxBucket, probeMeter)
    }
    // pin RocksDB for THIS query: the conf is read when the stream
    // execution is constructed (inside .start(), synchronously) and then
    // persisted in the checkpoint's offset metadata, so restoring the
    // session conf afterwards cannot race the query and restarts resume
    // on RocksDB even from a session that never set it. The set/restore
    // window IS session-global, though: an unrelated streaming query
    // started CONCURRENTLY on this session during .start() would capture
    // the RocksDB provider into its own checkpoint — start() assumes
    // single-threaded query starts (the house convention); a deployment
    // starting queries concurrently should give the funnel its own
    // spark.newSession()
    val prevProvider = spark.conf.getOption(ProviderKey)
    val prevChangelog = spark.conf.getOption(ChangelogKey)
    val prevShuffle = spark.conf.getOption(ShufflePartitionsKey)
    // state-store partition count, pinned the same way as the provider:
    // read at stream-execution construction (inside .start()), recorded
    // in the checkpoint's offset metadata, honored by every restart —
    // see FunnelConfig.statePartitions for the sizing argument. The pin
    // governs the streaming query end to end, INCLUDING plans derived
    // from the foreachBatch `batch` frame (bound to the query's cloned
    // session); frames built from the outer session keep its setting.
    // SINGLE-THREADED-START assumption: these are session-conf mutations
    // restored in the finally below, so another streaming query started
    // CONCURRENTLY on the same SparkSession during this window would
    // capture the RocksDB provider / partition pin in its own checkpoint.
    // Start funnel queries one at a time, or from an isolated
    // spark.newSession(), if concurrent starts are ever needed.
    cfg.statePartitions.foreach(n =>
      spark.conf.set(ShufflePartitionsKey, n.toString))
    spark.conf.set(ProviderKey, RocksDbProvider)
    // changelog checkpointing: a commit uploads the batch's CHANGES (an
    // append-only changelog file) instead of snapshotting every store's
    // full SST set synchronously — snapshots move to the background
    // maintenance thread. With three stateful operators × the state
    // partition count, synchronous per-batch snapshots are the dominant
    // commit cost (measured via `BenchProfile _build:funnel_pipeline`:
    // commitTimeMs was ~3× allUpdatesTimeMs per trigger); a changelog
    // commit is O(batch changes), the scale-correct shape for
    // corpus-sized state. Restart compatibility is Spark's own: the
    // checkpoint records per-version format and replays changelogs over
    // the last background snapshot.
    spark.conf.set(ChangelogKey, "true")
    try {
      val writer = verdicts.toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$dir/checkpoint")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          processBatch(spark, batch, bid, dir, benchS, vocabS, cuts, cfg)
        }
      // bounded catch-up: a restart behind a backlog passes
      // Trigger.AvailableNow (and bounds each trigger at the SOURCE with
      // maxFilesPerTrigger / maxOffsetsPerTrigger on `stream`) so the
      // backlog drains in bounded batches — state, memory, and the
      // exactly-once commit protocol all see ordinary-sized triggers
      // instead of one giant batch — then stops when caught up
      trigger.map(writer.trigger).getOrElse(writer).start()
    } finally {
      prevProvider match {
        case Some(v) => spark.conf.set(ProviderKey, v)
        case None    => spark.conf.unset(ProviderKey)
      }
      prevChangelog match {
        case Some(v) => spark.conf.set(ChangelogKey, v)
        case None    => spark.conf.unset(ChangelogKey)
      }
      if (cfg.statePartitions.isDefined) prevShuffle match {
        case Some(v) => spark.conf.set(ShufflePartitionsKey, v)
        case None    => spark.conf.unset(ShufflePartitionsKey)
      }
    }
  }

  /** The staged signature columns — `_hs` (raw shingle hashes), `sh`
    * (distinct, the exact-verify payload), `sig` (the MinHash signature) —
    * shared by the live stream side and the bootstrap seed builder so
    * the two stagings can never diverge. */
  private def withSignatures(df: DataFrame, cfg: FunnelConfig): DataFrame =
    df.withColumn("_hs", Dedup.shingleHashes(col("text"), cfg.mhK))
      .withColumn("sh", array_distinct(col("_hs")))
      .withColumn("sig", Dedup.minhashFromHashes(col("_hs"),
        cfg.mhBands * cfg.mhRows))

  /** One band-bucket string per band from the staged `sig` column. */
  private def bucketColumns(cfg: FunnelConfig)
      : Seq[org.apache.spark.sql.Column] =
    (0 until cfg.mhBands).map { bnd =>
      concat(lit(s"${bnd}_"), concat_ws(",",
        (0 until cfg.mhRows).map(j =>
          col("sig")(bnd * cfg.mhRows + j).cast("string")): _*))
    }

  /** The bootstrap corpus staged for seeding: (doc_id, sh) for every doc
    * with a non-empty gram set, under the SAME staging expressions the
    * live stream uses (so seed and stream can never diverge). */
  private def seedStaged(docs: DataFrame, cfg: FunnelConfig): DataFrame =
    withSignatures(docs.filter(col("text").isNotNull)
        .select(col("doc_id").cast("long").as("doc_id"), col("text")), cfg)
      .filter(size(col("sh")) > 0)

  /** Per-bucket membership seeds (ids only) for bandKeepFirstSeeded,
    * derived from an already-ingested corpus frame (doc_id, lang, text).
    * Docs with empty gram sets are excluded (bandKeepFirst never stores
    * them — they cannot verify under minJaccard > 0); a bucket past
    * `cfg.maxBucket` fails loudly HERE, before any state is installed.
    * The gram sets seed the doc-keyed store separately (gramSeeds). */
  private def bandSeeds(docs: DataFrame,
                        cfg: FunnelConfig): Dataset[BandBucketSeed] = {
    val guard = assert_true(size(col("ids")) <= cfg.maxBucket,
      concat(lit("bandSeeds: bucket '"), col("bucket"),
        lit(s"' holds more than maxBucket=${cfg.maxBucket} members — " +
          "re-band or raise maxBucket deliberately")))
    seedStaged(docs, cfg).select(col("doc_id"),
        explode(array(bucketColumns(cfg): _*)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(guard.isNull)
      .as[BandBucketSeed](StateMachines.bandSeedEnc)
  }

  /** Per-doc gram-store seeds for bandKeepFirstSeeded's second machine:
    * one row per bootstrap doc with its distinct shingle-hash set.
    * Duplicate doc_ids with IDENTICAL content collapse to one row (an
    * already-deduped corpus re-listed is fine); conflicting contents
    * under one id fail loud — the id keys the store, exactly the gram
    * machine's own contract. */
  private def gramSeeds(docs: DataFrame,
                        cfg: FunnelConfig): Dataset[graft.streaming.GramSeed] = {
    val guard = assert_true(col("_nd") === 1,
      concat(lit("gramSeeds: doc_id "), col("gkey"),
        lit(" carries conflicting gram sets in the bootstrap corpus — " +
          "ids must be stable per content")))
    seedStaged(docs, cfg)
      .groupBy(col("doc_id").as("gkey"))
      .agg(first(col("sh")).as("sh"), countDistinct(col("sh")).as("_nd"))
      .filter(guard.isNull)
      .select(col("gkey"), col("sh"))
      .as[graft.streaming.GramSeed](StateMachines.gramSeedEnc)
  }

  /** One trigger: per-doc collapse of the gate-1/2 verdicts → gates 3-5
    * flags → stage rows → export, every write an idempotent overwrite of
    * a batchId-named directory, stages last (the commit marker). */
  private def processBatch(spark: SparkSession, batch: DataFrame, bid: Long,
                           dir: String, bench: DataFrame, vocab: DataFrame,
                           cuts: DataFrame, cfg: FunnelConfig): Unit = {
    if (committed(dir, bid)) return // fully processed before a restart
    // label each phase's jobs (guide §1.5) — the UI/profiler attribution
    // for a trigger's chain of small actions; thread-local, so it scopes
    // to this foreachBatch invocation
    def label(phase: String): Unit =
      spark.sparkContext.setJobDescription(s"funnel b=$bid: $phase")
    if (cfg.compactEvery > 0 && bid > 0 && bid % cfg.compactEvery == 0) {
      label("store compaction")
      compactStores(spark, dir, bid) // touches only batch ids < bid
    }
    // collapse the gate-2 output to one row per doc: the payload lives on
    // the doc's single carrier row; near_dup is an OR over the carrier
    // and the slim dup rows (other buckets' intra hits + verified
    // probes). Exactly ONE carrier per doc is the gram machine's
    // invariant (it merges exact redeliveries and fails loud on
    // conflicting contents under one id) — asserted here so a regression
    // can never silently merge two documents into one verdict row
    val guard = assert_true(col("_nc") === 1,
      concat(lit("curation funnel: doc_id "), col("doc_id"),
        lit(" produced "), col("_nc"),
        lit(" carrier rows in one batch (exactly 1 expected)")))
    val b = batch.groupBy(col("doc_id"))
      .agg(max(when(col("carrier"), col("lang"))).as("lang"),
        max(when(col("carrier"), col("text"))).as("text"),
        max(when(col("carrier"), col("is_first"))).as("is_first"),
        max(col("near_dup")).as("_d2"),
        sum(when(col("carrier"), lit(1L)).otherwise(lit(0L))).as("_nc"))
      .filter(guard.isNull)
      .drop("_nc")

    // ── gate flags over the ingested slice ──
    label("gates 1-2 collapse + tokenize (s0)")
    val s0 = b
      .withColumn("_nt",
        size(TextOps.tokens(lower(col("text")))).cast("long"))
      .filter(col("_nt") > 0L)
      .localCheckpoint(true) // gates 3-4 and the flag frame all read it
    label("gates 3-4 flags (flagged)")
    // gates 3-4 run over GATE-2 SURVIVORS only (round-16, guide §1.2
    // "don't compute things you throw away"): their flags `_d3`/`_k4`
    // are consumed exclusively inside `_s3 = _s2 && _d3 isNull` and
    // `_s4 = _s3 && _k4` below, so a row with `_s2` false contributes
    // the same stage-card and export output whether or not it was
    // winnowed/scored — restricting the input is output-identical and
    // is the shape that matters at 100 TB, where an ingest's dup share
    // (everything gate 2 drops) would otherwise pay the two text passes
    val s2surv = s0.filter(col("is_first") && !col("_d2"))
    // gate 3: benchmark containment, per-row vs the frozen benchmark
    val cont = Dedup.contaminationPairs(s2surv, bench, "doc_id", "text",
        cfg.mhK, cfg.winnowW, cfg.minContainment)
      .filter(col("doc_id") =!= col("bench_id"))
      .select(col("doc_id")).distinct()
      .withColumn("_d3", lit(true))
    // gate 4: the trained classifier under frozen ppm weights, map-only.
    // `_nt` IS size(tokens(lower(text))) (computed once into the s0
    // checkpoint), so x_len reuses it instead of re-tokenizing; only the
    // distinct-token count still needs the token array
    val feats = s2surv
      .withColumn("_ndk", size(array_distinct(
        TextOps.tokens(lower(col("text"))))).cast("long"))
      .withColumn("x_len", least(col("_nt"), lit(cfg.tokCap)))
      .withColumn("x_div", expr("(_ndk * 100) div _nt"))
    val scored = LogReg.scoreUnlabeled(feats, Seq("x_len", "x_div"),
        cfg.weights, Seq("doc_id"))
      .filter(col("pred")).select(col("doc_id"))
      .withColumn("_k4", lit(true))
    val flagged = s0
      .join(cont, Seq("doc_id"), "left")
      .join(scored, Seq("doc_id"), "left")
      .withColumn("_s1", col("is_first")) // gate 1: the keyed state machine
      .withColumn("_s2", col("_s1") && !col("_d2")) // gate 2: band machine
      .withColumn("_s3", col("_s2") && col("_d3").isNull)
      .withColumn("_s4", col("_s3") && coalesce(col("_k4"), lit(false)))
      .localCheckpoint(true) // feeds the ppl gate, the agg, the export
    // gate 5: exact µnat NLL under the frozen inventory, Viterbi over the
    // SURVIVORS' OWN words (identical membership, far less DP)
    label("gate 5 perplexity (withPpl)")
    val cand5 = flagged.filter(col("_s4"))
      .select(col("doc_id"), col("lang"), col("text"))
    val seg = Unigram.viterbi(Unigram.words(cand5, "text", cfg.uniW),
        vocab, cfg.zQ, cfg.uniW, cfg.uniL)
      .select(col("word"), col("n_pieces"), col("best_qll"))
    val pplKeep = cand5.select(col("doc_id"), col("lang"),
        explode(filter(split(lower(col("text")), "[^a-z]+"),
          w => w =!= "" && length(w) <= cfg.uniW)).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("_n"))
      .join(seg, Seq("word"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(expr("(-sum(_n * best_qll)) div sum(_n * n_pieces)").as("_npp"))
      .join(broadcast(cuts), Seq("lang"), "left")
      .filter(col("_cut_npp").isNotNull &&
        (col("_npp") < col("_cut_npp") ||
          (col("_npp") === col("_cut_npp") &&
            col("doc_id") <= col("_cut_id"))))
      .select(col("doc_id")).withColumn("_k5", lit(true))
    val withPpl = flagged.join(pplKeep, Seq("doc_id"), "left")
      .withColumn("_s5", col("_s4") && coalesce(col("_k5"), lit(false)))
      .localCheckpoint(true) // the stage agg AND the export read it

    // ── training export: positions continued across triggers ──
    label("export rank + manifest")
    val surv = withPpl.filter(col("_s5"))
      .select(col("doc_id"), col("_nt")) // the manifest needs nothing else
      .withColumn("_ok", graft.expressions.Md5Expressions.md5Long(
        col("doc_id").cast("string")))
      .withColumn("shard", col("_ok") % cfg.shardCount)
      .withColumn("_one", lit(1L))
    // one eager frame for the whole export tier (round-16): the ranked
    // window flows STRAIGHT into the manifest columns — the old separate
    // `ranked` checkpoint bought nothing once the offsets fold (bt) reads
    // per-shard count/token sums that the manifest rows carry verbatim —
    // and the previous batch's offsets (O(shardCount) rows, always tiny)
    // ride a broadcast instead of a shuffled join
    val ranked = CoreOps.orderedPrefixSumsKeyed(surv, col("shard"),
      col("_ok"), "doc_id", Seq("_one" -> "_bpos", "_nt" -> "_btok"))
    val offSchema = "shard BIGINT, n_docs BIGINT, n_tokens BIGINT"
    // schema pinned: the per-trigger read-back must never pay (or drift
    // under) footer inference — the layout is this file's own contract
    val prevOff =
      if (Files.exists(Paths.get(s"$dir/offsets/b=${bid - 1}")))
        spark.read.schema(offSchema).parquet(s"$dir/offsets/b=${bid - 1}")
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(offSchema))
    val manifest = ranked
      .join(broadcast(prevOff.select(col("shard"), col("n_docs").as("_pd"),
        col("n_tokens").as("_pt"))), Seq("shard"), "left")
      .withColumn("pos", coalesce(col("_pd"), lit(0L)) + col("_bpos"))
      .withColumn("_excl",
        coalesce(col("_pt"), lit(0L)) + col("_btok") - col("_nt"))
      .select(col("doc_id"), col("shard"), col("pos"),
        col("_nt").as("n_tokens"),
        expr(s"_excl div ${cfg.packTokens}").as("pack_first"),
        expr(s"(_excl + _nt - 1) div ${cfg.packTokens}").as("pack_last"),
        expr(s"_excl % ${cfg.packTokens}").as("offset_in_pack"))
      // export write + corpus join + the offsets fold all read it
      .localCheckpoint(true)
    // one file: the manifest delta is O(batch survivors) rows and is
    // read back whole by exportManifest — small-files hygiene (guide §6)
    label("export manifest write")
    manifest.coalesce(1).write.mode("overwrite").parquet(s"$dir/export/b=$bid")
    // the physical corpus: hive shard directories, in-shard position order
    label("corpus write")
    graft.sources.CorpusLayout.writePartitioned(
      withPpl.filter(col("_s5"))
        .select(col("doc_id"), col("lang"), col("text"),
          col("_nt").as("n_tokens"))
        .join(manifest.select(col("doc_id"), col("shard"), col("pos")),
          Seq("doc_id")),
      s"$dir/corpus/b=$bid", Seq("shard"), Seq("pos"))
    // per-shard batch totals off the CHECKPOINTED manifest (1:1 with the
    // ranked rows, n_tokens = _nt verbatim) — the ranked window never
    // re-executes and needs no checkpoint of its own
    label("offsets fold")
    val bt = manifest.groupBy(col("shard"))
      .agg(count(lit(1)).as("_bd"), sum(col("n_tokens")).as("_bt"))
    prevOff.join(bt, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("_bd"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)) + coalesce(col("_bt"), lit(0L)))
          .as("n_tokens"))
      .coalesce(1) // O(shardCount) rows — one file, read back every trigger
      .write.mode("overwrite").parquet(s"$dir/offsets/b=$bid")

    failBeforeCommitOnce.filter(_ == bid).foreach { _ =>
      failBeforeCommitOnce = None
      throw new IllegalStateException(
        s"injected crash before the stages commit of batch $bid (test hook)")
    }

    // ── stage accounting: ONE aggregate, reshaped relationally (no
    // driver-side counters, no collect), written LAST = the commit ──
    label("stage card commit")
    val flags = Seq(lit(true), col("_s1"), col("_s2"), col("_s3"),
      col("_s4"), col("_s5"))
    val aggs = flags.zipWithIndex.flatMap { case (f, i) =>
      Seq(count(when(f, lit(1))).as(s"_c$i"),
        sum(when(f, col("_nt"))).as(s"_t$i"))
    }
    val stacked = stageNames.zipWithIndex.map { case (nm, i) =>
      struct(lit(i.toLong).as("stage_idx"), lit(nm).as("stage"),
        col(s"_c$i").as("n_docs"), col(s"_t$i").as("n_tokens"))
    }
    withPpl.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(stacked: _*)).as("_s")).select(col("_s.*"))
      .write.mode("overwrite").parquet(s"$dir/stages/b=$bid")
  }

  private val stageNames = Seq("ingested", "exact_dedup", "near_dedup",
    "decontaminated", "quality_kept", "ppl_head")

  /** ONLINE maintenance for the funnel's durable per-trigger stores — the
    * small-files failure CorpusLayout's scaladoc warns about, applied to
    * pipeline STATE directories (the gate-2 band index that used to be
    * the main offender now lives in the checkpoint's keyed state store
    * and needs no compaction at all):
    *
    *   - `stages/`: every committed `b=<id>` delta with id < `upToBid`
    *     folds into the six-row consolidated card under `stages_base/`
    *     (rows carry no batch ids; a sidecar `_UPTO` file (underscore-prefixed: invisible to the parquet reader, like _SUCCESS) records the
    *     highest folded id so the card reads base ∪ deltas AFTER it).
    *     After N triggers the card read is O(1) directories + the
    *     trailing ≤ compactEvery deltas instead of O(N) directories.
    *   - `offsets/`: every `b=<id>` snapshot with id < `upToBid` − 1 is
    *     superseded garbage (processBatch only ever reads the previous
    *     batch's) and is deleted.
    *
    * LIVE-safe: processBatch invokes this at the START of batch
    * `upToBid`, so every touched id is strictly below the in-flight one
    * and already committed (stages is the commit marker). Crash-safe at
    * every point by an atomic-rename swap: the new base materializes
    * fully under `stages_base_tmp`, the old base (if any) moves aside to
    * `stages_base_old`, the tmp moves in, and only then do the old base
    * and the folded deltas delete — `rawStages` prefers `stages_base`,
    * falls back to `stages_base_old`, and filters deltas by the base's
    * recorded UPTO, so every crash window reads a complete, duplicate-
    * free view, and re-running heals (heal() below rolls an interrupted
    * swap back or forward before starting a new one). */
  private[graft] def compactStores(spark: SparkSession, dir: String,
                                   upToBid: Long): Unit = {
    heal(dir)
    // ── offsets GC: ids < upToBid − 1 are never read again ──
    listDeltas(s"$dir/offsets").filter(_ < upToBid - 1)
      .foreach(bid => deleteTree(Paths.get(s"$dir/offsets/b=$bid")))
    // ── stages fold ──
    val prevUpTo = readUpTo(s"$dir/stages_base")
    val deltas = listDeltas(s"$dir/stages").filter(_ < upToBid)
    if (deltas.nonEmpty) {
      val upTo = deltas.max
      val fold = rawStages(spark, dir)
        .filter(col("_b") <= upTo) // deltas later than upToBid stay put
        .groupBy(col("stage_idx"), col("stage"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .coalesce(1)
        .localCheckpoint(true) // materialize before any directory moves
      fold.write.mode("overwrite").parquet(s"$dir/stages_base_tmp")
      Files.writeString(Paths.get(s"$dir/stages_base_tmp/_UPTO"),
        upTo.toString)
      if (Files.exists(Paths.get(s"$dir/stages_base")))
        Files.move(Paths.get(s"$dir/stages_base"),
          Paths.get(s"$dir/stages_base_old"),
          StandardCopyOption.ATOMIC_MOVE)
      Files.move(Paths.get(s"$dir/stages_base_tmp"),
        Paths.get(s"$dir/stages_base"), StandardCopyOption.ATOMIC_MOVE)
      deleteTree(Paths.get(s"$dir/stages_base_old"))
      deltas.foreach(bid => deleteTree(Paths.get(s"$dir/stages/b=$bid")))
      // self-check, cheap and loud: the new base must cover strictly more
      // batches than the old one (a regression here corrupts the card)
      require(prevUpTo.forall(_ < upTo), s"stages fold went backwards: " +
        s"$prevUpTo -> $upTo")
    }
  }

  /** Roll an interrupted compactStores swap back (tmp unswapped: drop it;
    * base missing but old present: restore old) or forward (base and old
    * both present: finish the deletes). Idempotent. */
  private def heal(dir: String): Unit = {
    val base = Paths.get(s"$dir/stages_base")
    val old = Paths.get(s"$dir/stages_base_old")
    val tmp = Paths.get(s"$dir/stages_base_tmp")
    if (!Files.exists(base) && Files.exists(old))
      Files.move(old, base, StandardCopyOption.ATOMIC_MOVE)
    deleteTree(old)
    deleteTree(tmp)
    readUpTo(s"$dir/stages_base").foreach { upTo =>
      listDeltas(s"$dir/stages").filter(_ <= upTo)
        .foreach(bid => deleteTree(Paths.get(s"$dir/stages/b=$bid")))
    }
  }

  private def readUpTo(baseDir: String): Option[Long] = {
    val p = Paths.get(s"$baseDir/_UPTO")
    if (Files.exists(p)) Some(Files.readString(p).trim.toLong) else None
  }

  private def listDeltas(root: String): Seq[Long] = {
    val r = Paths.get(root)
    if (!Files.exists(r)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val listing = Files.list(r)
      try listing.iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("b="))
        .map(_.getFileName.toString.stripPrefix("b=").toLong)
        .toList
      finally listing.close()
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.iterator().asScala.toList.reverse
        .foreach(Files.deleteIfExists(_))
      finally walk.close()
    }

  /** Every stage row the store holds — consolidated base (preferring the
    * live `stages_base`, falling back to `stages_base_old` mid-swap) plus
    * the deltas after the base's recorded UPTO — with `_b` = the delta's
    * batch id (base rows read as -1: already folded). */
  private def rawStages(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq(col("stage_idx"), col("stage"), col("n_docs"),
      col("n_tokens"))
    val baseDir =
      if (Files.exists(Paths.get(s"$dir/stages_base"))) Some(s"$dir/stages_base")
      else if (Files.exists(Paths.get(s"$dir/stages_base_old")))
        Some(s"$dir/stages_base_old")
      else None
    val upTo = baseDir.flatMap(readUpTo).getOrElse(-1L)
    val hasDeltas = listDeltas(s"$dir/stages").exists(_ > upTo)
    val deltas =
      if (hasDeltas)
        Some(spark.read.parquet(s"$dir/stages")
          .filter(col("b") > upTo)
          .select(cols :+ col("b").cast("long").as("_b"): _*))
      else None
    val base = baseDir.map(d => spark.read.parquet(d)
      .select(cols :+ lit(-1L).as("_b"): _*))
    (base, deltas) match {
      case (Some(b), Some(d)) => b.unionByName(d)
      case (Some(b), None)    => b
      case (None, Some(d))    => d
      case (None, None)       => spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType.fromDDL(
          "stage_idx BIGINT, stage STRING, n_docs BIGINT, " +
            "n_tokens BIGINT, _b BIGINT"))
    }
  }

  /** The six-row data card accumulated across every committed trigger —
    * a sum over the durable stage store (consolidated base + trailing
    * deltas), so it reads the same after a crash/restart — or mid-
    * compaction — as after an uninterrupted run. Empty stages carry
    * NULL token mass (SQL sum-over-nothing), matching the batch oracle.
    *
    * Concurrency: every CRASH window of a compaction swap reads
    * correctly (the base/old/UPTO protocol above), but a card read must
    * not RACE a LIVE compactStores on another thread — the swap may
    * delete `stages_base_old` or a folded delta after this reader
    * resolved its directory listing but before the scan, surfacing as a
    * FileNotFoundException (retry the read). In-pipeline callers are
    * safe by construction: processBatch compacts between triggers and
    * the card is read between triggers. */
  /** NOTE: reads the stage store non-transactionally — do not race a LIVE
    * compactStores/heal on the same dir (the atomic-rename swap can move
    * `stages_base` mid-listing and fail the read with a missing-directory
    * error; crash windows are covered, a concurrent reader is not). Every
    * in-repo caller reads between triggers, where processBatch guarantees
    * no compaction is in flight. */
  def stageCard(spark: SparkSession, dir: String): DataFrame =
    rawStages(spark, dir)
      .groupBy(col("stage_idx"), col("stage"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))

  /** The accumulated incremental training-export manifest — one row per
    * surviving doc with its shard, within-shard position (continued
    * across triggers), and packed-sequence coordinates. */
  def exportManifest(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/export")
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        col("pack_first"), col("pack_last"), col("offset_in_pack"))


  /** Drive the funnel from the FILE-MONITOR source over a deterministic
    * id-ascending slicing of a static corpus — the reference's actual
    * ingest shape (a continuously monitored directory,
    * chapter2/BasicStreamingOperations.java:56-62), and the replay that
    * makes the card and the incremental manifest oracle-checkable:
    * slice k holds doc_ids in [lo + k·span, lo + (k+1)·span) with
    * span = (hi − lo) div numBatches + 1, each slice lands as ONE file
    * written AFTER the previous slice drained, so batch k = slice k
    * exactly. No data moves through the driver — the slices are
    * filter+write jobs; the only driver traffic is the O(1) id-bounds
    * aggregate. Returns the pipeline directory (read the results via
    * stageCard / exportManifest). */
  def runSliced(spark: SparkSession, docs: DataFrame, bench: DataFrame,
                vocab: DataFrame, cfg: FunnelConfig, numBatches: Int,
                dir: String): String = {
    require(numBatches >= 1, s"need numBatches >= 1, got $numBatches")
    val in = s"$dir/in"
    Files.createDirectories(Paths.get(in))
    val src = docs.select(col("doc_id").cast("long").as("doc_id"),
      col("lang"), col("text"))
    // driver-bounded: O(1) — the two id bounds defining the slices
    val bounds = src.agg(min(col("doc_id")), max(col("doc_id"))).head()
    val q = start(spark,
      spark.readStream.schema(src.schema).parquet(in), dir, bench, vocab,
      cfg)
    try {
      if (bounds.isNullAt(0)) { // empty corpus: one empty slice file
        src.limit(0).coalesce(1).write.mode("append").parquet(in)
        q.processAllAvailable()
      } else {
        val lo = bounds.getLong(0)
        val span = (bounds.getLong(1) - lo) / numBatches + 1
        (0 until numBatches).foreach { k =>
          src.filter(col("doc_id") >= lo + k * span &&
              col("doc_id") < lo + (k + 1) * span)
            .coalesce(1).write.mode("append").parquet(in)
          q.processAllAvailable() // drain slice k before slice k+1 lands
        }
      }
    } finally q.stop()
    dir
  }
}
