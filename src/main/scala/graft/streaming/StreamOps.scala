package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.CoreOps

/** Streaming forms of the window pipelines — thin compositions over the SAME
  * Column cores as the batch twins (CoreOps), applied to `readStream` inputs.
  * The one genuinely streaming-only ingredient is the declarative watermark.
  */
object StreamOps {

  /** E6: event-time tumbling count under a watermark
    * (chapter4/EventTimeOperations.java:136-149). Rows later than
    * (max event time − lateness) are dropped; StreamingQueryProgress
    * .stateOperators.numRowsDroppedByWatermark is the declarative
    * counterpart of the reference's late-data side output (:146, :174-175),
    * with two differences:
    *  - the count aggregates partially before its state store, so the
    *    counter counts dropped partial-aggregate groups (per late window
    *    and partition), not events — the output, where every too-late event
    *    is missing from its window's count, is the per-event record; the
    *    same holds for every watermarked aggregate (keyedWindowCount too);
    *  - Spark filters late rows against the PREVIOUS batch's watermark, so
    *    a query's first data batch drops nothing, and a late row is dropped
    *    only once an earlier batch has moved the watermark past it.
    * Semantics delta vs the punctuated wall-clock watermark (:102-124)
    * documented in SURVEY §7.3.
    */
  def eventTimeTumblingCount(df: DataFrame, ts: String, lateness: String,
                             duration: String): DataFrame =
    CoreOps.tumblingCount(df.withWatermark(ts, lateness), ts, duration)

  /** E2: keyed running totals (chapter2/KeyedStreamOperations.java:76-78).
    * In streaming this is plain groupBy().sum() with an `update`-mode sink:
    * each micro-batch emits refreshed totals for keys it touched — per-batch
    * granularity instead of Flink's per-record emission (SURVEY §7.3 delta). */
  def keyedRunningTotal(df: DataFrame, key: String, value: String,
                        out: String): DataFrame =
    CoreOps.keyedSum(df, key, value, out)

  /** E4: keyed session-window summary (chapter3/WindowOperations.java:124-138)
    * — session_window works identically over a watermarked stream. */
  def sessionSummary(df: DataFrame, key: String, ts: String, lateness: String,
                     gap: String): DataFrame =
    CoreOps.sessionSummary(df.withWatermark(ts, lateness), key, ts, gap)

  /** Streaming exact dedup — the continuous twin of Dedup.exactDedup's
    * fingerprint groupBy: emits the FIRST occurrence of each key, drops
    * later duplicates. dropDuplicatesWithinWatermark expires a key's state
    * once the watermark passes its event time, so state stays bounded by the
    * lateness horizon — the property that matters on an unbounded 100 TB
    * stream, where plain dropDuplicates would grow state forever. The trade:
    * a duplicate arriving after its key's state expired is re-emitted
    * (exact-once dedup within the horizon, at-least-once beyond it); a
    * downstream batch Dedup.exactDedup pass compacts those if needed. */
  def dedupStream(df: DataFrame, keys: Seq[String], ts: String,
                  lateness: String): DataFrame =
    df.withWatermark(ts, lateness).dropDuplicatesWithinWatermark(keys)

  /** E5: windowed stream-stream equi-join (chapter3/WindowJoin.java:119-158).
    * Within a (key, window) bucket the output is the cartesian of matches —
    * identical to the batch twin (CoreOps.windowJoin). Both sides carry a
    * watermark, but it bounds nothing here: the join keys on the derived
    * window start (a field of `window(ts)`, which carries no event-time
    * watermark) and projects `ts` away, so Spark derives no state-eviction
    * predicate. The join state is never evicted and grows with the stream,
    * and a row later than the watermark still joins its window's matches.
    * perfbench's E5 reference pins this behaviour. */
  def windowJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
                 lateness: String, duration: String,
                 leftProj: Seq[(String, String)],
                 rightProj: Seq[(String, String)]): DataFrame =
    CoreOps.windowJoin(
      left.withWatermark(ts, lateness),
      right.withWatermark(ts, lateness), key, ts, duration, leftProj, rightProj)

  /** Continuous windowed distinct-key estimate — the streaming form of
    * q_window_users: per event-time window, an event count and an HLL++
    * distinct estimate under a watermark. The sketch is the point at
    * scale: exact count_distinct keeps the full key set per OPEN window in
    * the state store, while approx_count_distinct keeps one fixed-size
    * sketch per window regardless of key cardinality — the same
    * fixed-state argument as the CMS aggregate. Append mode emits each
    * window once, when the watermark closes it. At small per-window
    * cardinalities HLL++'s sparse mode is exact, which is what the parity
    * test pins against the batch distinct. */
  def windowedUsersApprox(df: DataFrame, key: String, ts: String,
                          lateness: String, duration: String,
                          rsd: Double = 0.05): DataFrame =
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), duration))
      .agg(count(lit(1)).as("n_events"),
        approx_count_distinct(col(key), rsd).as("n_keys_approx"))
      .select(CoreOps.ms(col("window.start")).as("window_start_ms"),
        col("n_events"), col("n_keys_approx"))

  /** Continuous windowed heavy hitters — CoreOps.heavyHittersCms composed
    * per event-time window under a watermark: ONE Count-Min table (d·w
    * longs) of state per open window regardless of key cardinality — the
    * same fixed-state argument as windowedUsersApprox — probed for a
    * bounded `candidates` list as the window closes. Candidates are an
    * explicit argument for exactly the reason the batch operator grew its
    * external-candidates overload: deriving them per window with a
    * distinct would rebuild the unbounded per-window key set the sketch
    * exists to avoid (feed them from a batch keyProfile over history, or a
    * known enum). Append mode emits each (window, candidate) row once, on
    * watermark close; the merge across micro-batches is CmsAggregate's
    * element-wise buffer merge, and StreamingParitySpec pins finalized
    * windows against the identical batch per-window sketch. Estimates
    * carry the usual CMS one-sided bound: true ≤ est ≤ true + εN. */
  def windowedHeavyHitters(df: DataFrame, key: String, ts: String,
                           lateness: String, duration: String,
                           candidates: Seq[String], d: Int, w: Int)
      : DataFrame = {
    require(candidates.nonEmpty,
      "windowedHeavyHitters probes an explicit bounded candidate list; got none")
    require(candidates.forall(_ != null),
      "windowedHeavyHitters candidates must be non-null keys")
    require(!Seq("window_start_ms", "est_count").contains(key),
      s"windowedHeavyHitters emits window_start_ms and est_count; rename '$key'")
    val cms = graft.expressions.CountMinExpressions
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), duration))
      .agg(cms.cmsTable(col(key).cast("string"), d, w).as("_cms"))
      .select(CoreOps.ms(col("window.start")).as("window_start_ms"),
        explode(array(candidates.distinct.map(c =>
          struct(lit(c).as("_k"),
            cms.cmsMin(col("_cms"), lit(c), d, w).as("_est"))): _*)).as("_hh"))
      .select(col("window_start_ms"), col("_hh._k").as(key),
        col("_hh._est").as("est_count"))
  }

  /** Continuous windowed quantile profile — the streaming form of
    * CoreOps.quantileProfileApprox per event-time window: per window, an
    * event count plus approx_percentile sketch estimates at `ps`. The
    * sketch is the point at scale (the windowedUsersApprox argument): an
    * exact per-window percentile would buffer every value of every OPEN
    * window in the state store, while the KLL-style sketch keeps one
    * fixed-size buffer per window regardless of row count, merging
    * map-side across micro-batches. Estimates carry the
    * approx_percentile rank contract (within n/accuracy ranks of the
    * target — the bound quantileProfileChecked machine-checks on the
    * batch twin, and StreamingParitySpec pins finalized windows against
    * the identical batch sketch). Append mode emits each window once on
    * watermark close. Column naming mirrors quantileProfileApprox
    * (`p50_approx`, ...). */
  def windowedQuantileProfile(df: DataFrame, value: String, ts: String,
                              lateness: String, duration: String,
                              ps: Seq[Double],
                              accuracy: Int = 10000): DataFrame = {
    require(ps.nonEmpty, "windowedQuantileProfile needs >= 1 percentile")
    require(ps.forall(p => p >= 0d && p <= 1d),
      s"percentiles must be in [0,1], got $ps")
    val qs = ps.map { p =>
      approx_percentile(col(value), lit(p), lit(accuracy))
        .as(s"p${math.round(p * 100)}_approx")
    }
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), duration))
      .agg(count(col(value)).as("n"), qs: _*)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms") +:
        col("n") +:
        ps.map(p => col(s"p${math.round(p * 100)}_approx")): _*)
  }

  /** Event-time windowed Shannon entropy of a categorical column — the
    * diversity monitor as a TRUE streaming aggregate: CategoryCountAgg
    * carries each window's whole category→count distribution through
    * the ONE aggregation streaming allows (the two-level groupBy the
    * batch entropy uses is illegal on a stream), and the quantized-log
    * entropy is a stateless projection after it. State per open window
    * is one map bounded by category cardinality, not rows; append mode
    * emits each window once on watermark close. Batch-executes
    * identically — SparkEntry checks this form against the SAME oracle
    * as the two-shuffle batch form (q_entropy_by_window). Windows whose
    * every category is NULL have no distribution and are absent. */
  /** Event-time windowed DISTINCT-cardinality estimate — the KMV sketch
    * as a TRUE streaming aggregate: each window carries its k smallest
    * distinct value hashes through the ONE aggregation streaming allows
    * (exact windowed count-distinct needs the two-level shape that is
    * illegal on a stream, and its state grows with the window's value
    * universe; the sketch is k longs per open window). The k-minima of
    * a union merge losslessly, so partial aggregation, shuffle order
    * and late in-window arrivals cannot change a window's final sketch
    * — batch execution is bit-identical, which is how SparkEntry's
    * q_kmv_by_window pins this form against the distinct→row_number
    * oracle. Hash = md5Int of the value's canonical decimal string
    * (the kmvSnapshots convention). Windows with no non-NULL value are
    * absent. Emits (window_start_ms, n_sketch, est_distinct). */
  def windowedKmvDistinct(df: DataFrame, value: String, ts: String,
                          windowDur: String, lateness: String,
                          k: Int): DataFrame = {
    val h = graft.expressions.Md5Expressions
      .md5Int(col(value).cast("long").cast("string"))
    df.filter(col(value).isNotNull)
      .withWatermark(ts, lateness)
      .groupBy(window(col(ts), windowDur))
      .agg(graft.expressions.KmvExpressions.kmvSketch(h, k).as("_sk"))
      .filter(size(col("_sk")) > 0)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms"),
        size(col("_sk")).cast("long").as("n_sketch"),
        graft.expressions.KmvExpressions.kmvEstimate(col("_sk"), k)
          .as("est_distinct"))
  }

  def windowedEntropy(df: DataFrame, cat: String, ts: String,
                      windowDur: String, lateness: String): DataFrame =
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), windowDur))
      .agg(graft.expressions.CategoryCountExpressions
        .categoryCounts(col(cat)).as("_cc"))
      .filter(size(col("_cc")) > 0)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms") +:
        graft.operators.InfoTheory.entropyFromCounts(col("_cc")): _*)

  /** Event-time windowed KL drift against a STATIC baseline — the
    * directed, magnitude-bearing sibling of the TVD windowed monitor:
    * each finalized window's category mix scored as smoothed
    * KL(window ‖ baseline). The baseline frame is collected ONCE at
    * plan time (O(categories) driver, static frames only) and folds in
    * as a plan literal, so the stream side is one CategoryCountAgg
    * aggregation plus a stateless quantized-log projection — no join,
    * legal in a streaming query. Same oracle-checkable arithmetic as
    * InfoTheory.klDrift (SparkEntry pins the batch-run form). */
  def windowedKlDrift(df: DataFrame, cat: String, ts: String,
                      windowDur: String, lateness: String,
                      ref: DataFrame, refCat: String): DataFrame = {
    require(!ref.isStreaming,
      "windowedKlDrift's baseline must be a static frame")
    // driver-bounded: O(categories) — the static baseline folds to a
    // plan literal (the windowedKlDrift contract)
    val refCounts = ref.filter(col(refCat).isNotNull)
      .groupBy(col(refCat).cast("string").as("c")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(refCounts.nonEmpty,
      "windowedKlDrift: the baseline frame has no categories")
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), windowDur))
      .agg(graft.expressions.CategoryCountExpressions
        .categoryCounts(col(cat)).as("_cc"))
      .filter(size(col("_cc")) > 0)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms") +:
        graft.operators.InfoTheory.klFromCounts(col("_cc"), refCounts): _*)
  }

  /** Continuous population-stability monitoring: per finalized window, the
    * PSI of the category mix against a plan-literal baseline — the
    * windowedKlDrift shape verbatim with psiFromCounts' ≥ 0 term algebra
    * (the score model-monitoring dashboards alarm on). ONE CategoryCountAgg
    * aggregation, stateless projection, no join. */
  def windowedPsi(df: DataFrame, cat: String, ts: String,
                  windowDur: String, lateness: String,
                  ref: DataFrame, refCat: String): DataFrame = {
    require(!ref.isStreaming,
      "windowedPsi's baseline must be a static frame")
    // driver-bounded: O(categories) — the static baseline folds to a
    // plan literal (the windowedKlDrift contract)
    val refCounts = ref.filter(col(refCat).isNotNull)
      .groupBy(col(refCat).cast("string").as("c")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(refCounts.nonEmpty,
      "windowedPsi: the baseline frame has no categories")
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), windowDur))
      .agg(graft.expressions.CategoryCountExpressions
        .categoryCounts(col(cat)).as("_cc"))
      .filter(size(col("_cc")) > 0)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms") +:
        graft.operators.InfoTheory.psiFromCounts(col("_cc"), refCounts): _*)
  }

  /** Continuous bounded-symmetric drift monitoring: per finalized window,
    * the Hellinger distance of the category mix against a plan-literal
    * baseline — the windowedPsi shape verbatim with hellingerFromCounts'
    * smoothing-free √-term algebra (H ∈ [0,1] even where KL/PSI need
    * add-one distortion). ONE CategoryCountAgg aggregation, stateless
    * projection, no join; batch-executes identically, so SparkEntry pins
    * this form against the q_hellinger_by_window oracle. */
  def windowedHellinger(df: DataFrame, cat: String, ts: String,
                        windowDur: String, lateness: String,
                        ref: DataFrame, refCat: String): DataFrame = {
    require(!ref.isStreaming,
      "windowedHellinger's baseline must be a static frame")
    // driver-bounded: O(categories) — the static baseline folds to a
    // plan literal (the windowedKlDrift contract)
    val refCounts = ref.filter(col(refCat).isNotNull)
      .groupBy(col(refCat).cast("string").as("c")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(refCounts.nonEmpty,
      "windowedHellinger: the baseline frame has no categories")
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), windowDur))
      .agg(graft.expressions.CategoryCountExpressions
        .categoryCounts(col(cat)).as("_cc"))
      .filter(size(col("_cc")) > 0)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms") +:
        graft.operators.InfoTheory.hellingerFromCounts(col("_cc"), refCounts): _*)
  }

  /** Continuous windowed Jensen-Shannon drift against a PLAN-LITERAL
    * baseline — the windowedHellinger/windowedKlDrift shape carrying the
    * bounded (≤ ln 2) SMOOTHING-FREE divergence per finalized window:
    * ONE CategoryCountAgg aggregation, then InfoTheory.jsdFromCounts as
    * a stateless projection (parity-pinned against jsDivergence's batch
    * algebra by the shared oracle). The baseline collapses to an
    * O(categories) literal at plan time; state is one count array per
    * open window. */
  def windowedJsd(df: DataFrame, cat: String, ts: String,
                  windowDur: String, lateness: String,
                  ref: DataFrame, refCat: String): DataFrame = {
    require(!ref.isStreaming,
      "windowedJsd's baseline must be a static frame")
    // driver-bounded: O(categories) — the static baseline folds to a
    // plan literal (the windowedKlDrift contract)
    val refCounts = ref.filter(col(refCat).isNotNull)
      .groupBy(col(refCat).cast("string").as("c")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(refCounts.nonEmpty,
      "windowedJsd: the baseline frame has no categories")
    df.withWatermark(ts, lateness)
      .groupBy(window(col(ts), windowDur))
      .agg(graft.expressions.CategoryCountExpressions
        .categoryCounts(col(cat)).as("_cc"))
      .filter(size(col("_cc")) > 0)
      .select(CoreOps.ms(col("window.start")).as("window_start_ms") +:
        graft.operators.InfoTheory.jsdFromCounts(col("_cc"), refCounts): _*)
  }

  /** Stream-stream interval join: pair every point with the anchors of the
    * same key whose window [anchor_ts, anchor_ts + windowMs) contains the
    * point's event time — the continuous form of CoreOps.rangeJoin for
    * anchor-opened windows (StreamingParitySpec pins the parity). Both
    * sides carry a watermark and the join condition bounds each side's
    * event time by the other's, which is exactly what Spark's state store
    * needs to EXPIRE buffered rows: a point older than
    * (anchor watermark + window) can never match a future anchor, so state
    * stays bounded by lateness + window instead of growing with the stream.
    * `pointProj`/`anchorProj` carry payload columns under output aliases,
    * disjoint like windowJoin's. */
  def intervalJoin(points: DataFrame, anchors: DataFrame, key: String,
                   ts: String, lateness: String, windowMs: Long,
                   pointProj: Seq[(String, String)],
                   anchorProj: Seq[(String, String)]): DataFrame = {
    // fail-loud like the batch twin's grainMs guard: a zero/negative window
    // would silently produce an empty (never-matching) join
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    val aliases = (pointProj ++ anchorProj).map(_._2)
    val reserved = Seq("k", "_ak", "p_ts", "a_ts", "point_ts_ms",
      "anchor_ts_ms", key)
    val clash = aliases.intersect(reserved) ++
      aliases.diff(aliases.distinct).distinct
    require(clash.isEmpty,
      s"intervalJoin output aliases must be unique and avoid " +
        s"${reserved.mkString(", ")}; rename ${clash.mkString(", ")}")
    val p = points.withWatermark(ts, lateness).select(
      col(key).as("k") +: col(ts).as("p_ts") +:
        pointProj.map { case (c, o) => col(c).as(o) }: _*)
    val a = anchors.withWatermark(ts, lateness).select(
      col(key).as("_ak") +: col(ts).as("a_ts") +:
        anchorProj.map { case (c, o) => col(c).as(o) }: _*)
    p.join(a,
        col("k") === col("_ak") &&
          col("p_ts") >= col("a_ts") &&
          col("p_ts") < col("a_ts") + expr(s"INTERVAL $windowMs MILLISECONDS"),
        "inner")
      .select(col("k").as(key) +: CoreOps.ms(col("p_ts")).as("point_ts_ms") +:
        CoreOps.ms(col("a_ts")).as("anchor_ts_ms") +:
        (pointProj ++ anchorProj).map { case (_, o) => col(o) }: _*)
  }

  /** Streaming as-of join, stream-static form: each micro-batch of `left`
    * runs the batch CoreOps.asofJoin against the CURRENT `right` relation
    * and hands the result to `write`. Because as-of is per-left-row (key, ts
    * vs the static right side), the output is independent of how rows split
    * into micro-batches — batch/stream parity is exact (StreamingParitySpec),
    * unlike watermark-dependent operators. `right` re-evaluates every
    * trigger, so a slowly-changing metadata table (dimension snapshots,
    * model-version registry) is picked up at trigger granularity; state is
    * the sink's, not Spark's — no store to grow. For a right side too large
    * to re-scan per trigger, snapshot it to a broadcast-friendly compact
    * form upstream — same contract. The callback receives the epoch's
    * batchId so sinks can commit idempotently: after a failure/restart the
    * engine re-runs the last uncommitted batch with the SAME id, and a sink
    * that records committed ids drops the replay. */
  def asofJoinEachBatch(left: DataFrame, right: DataFrame, key: String,
                        ts: String, rightCols: Seq[String])(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    left.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(CoreOps.asofJoin(batch, right, key, ts, rightCols), batchId)
    }

  /** Streaming fuzzy entity resolution, stream-static form: every
    * micro-batch of incoming strings resolves against the CURRENT
    * registry with the batch Dedup.segmentJoin — the ingest-time "is this
    * title/name/url within d edits of something we know" lookup, running
    * continuously. Per-row semantics against a static right side, so the
    * union of per-batch outputs equals the one-shot batch join regardless
    * of the micro-batch split (StreamingParitySpec pins this). The
    * registry's segment index and distinct-length list rebuild per
    * trigger — the price of picking up registry changes at trigger
    * granularity; for a frozen registry, precompute outside. Same
    * idempotent-sink contract as asofJoinEachBatch. */
  /** Continuous drift monitor: per event-time window, the total-variation
    * distance between the window's category mix and a STATIC reference
    * mix — "alert when an hour's event-type distribution diverges from
    * the corpus baseline", running at ingest. The stream side is a
    * watermarked windowed count in APPEND mode, so a window's (category,
    * count) rows finalize together when the watermark passes its end and
    * are emitted exactly once — output is independent of the micro-batch
    * split, and each finalized window's drift row equals the batch
    * categoricalDriftByGroup on the same data (StreamingParitySpec pins
    * this). The TVD itself is the batch categoricalDriftByGroupCounts on
    * the finalized counts — O(categories) rows per window by the time it
    * runs. State is bounded by the watermark horizon (open windows ×
    * categories). The reference re-evaluates per trigger. Same
    * idempotent-sink contract as asofJoinEachBatch; emits
    * (window_start_ms, n_a, n_b, n_categories, tvd) rows per finalized
    * window. */
  def windowedDriftEachBatch(stream: DataFrame, ref: DataFrame,
                             category: String, ts: String, lateness: String,
                             duration: String)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.withWatermark(ts, lateness)
      .groupBy(window(col(ts), duration), col(category))
      .agg(count(lit(1)).as("_wn"))
      .select(CoreOps.ms(col("window.start")).as("window_start_ms"),
        col(category), col("_wn"))
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        write(CoreOps.categoricalDriftByGroupCounts(batch, "window_start_ms",
          category, "_wn", ref), batchId)
      }

  def segmentJoinEachBatch(left: DataFrame, right: DataFrame,
                           idL: String, strL: String, idR: String,
                           strR: String, maxDist: Int)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    left.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(graft.operators.Dedup.segmentJoin(batch, right, idL, strL,
        idR, strR, maxDist), batchId)
    }

  /** Streaming allowlist/blocklist gate, stream-static form: every
    * micro-batch of `big` runs the batch CoreOps.bloomAntiJoin against the
    * CURRENT `small` relation — drop rows whose key appears in a
    * (slowly-changing) block table, with the Bloom prune keeping the
    * per-trigger cost at one small-side isEmpty probe + one bloom-build
    * aggregate + a join over only the probe hits. That per-trigger rebuild
    * is the price of picking up block-table changes at trigger
    * granularity; it dominates at sub-second triggers over a static table. Per-row semantics against a static right side → output
    * independent of the micro-batch split (parity in StreamingParitySpec);
    * same idempotent-sink contract as asofJoinEachBatch. For a block table
    * that changes rarely, build the BloomFilter once outside and filter
    * with BloomProbeExpressions.mightContain directly instead. */
  def bloomAntiJoinEachBatch(big: DataFrame, small: DataFrame,
                             bigKey: String, smallKey: String,
                             expectedItems: Long, fpp: Double = 1e-3)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    big.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(CoreOps.bloomAntiJoin(batch, small, bigKey, smallKey,
        expectedItems, fpp), batchId)
    }

  /** Streaming decontamination, stream-static form: every micro-batch of
    * incoming docs is checked against the CURRENT benchmark relation with
    * the batch Dedup.contaminationPairs — gate documents against eval sets
    * at ingest time instead of in a later sweep. Contamination is per-doc
    * vs the static benchmark, so output is independent of the micro-batch
    * split (parity with the batch operator is exact); the benchmark
    * re-evaluates per trigger, picking up newly registered eval sets. Same
    * idempotent-sink contract as asofJoinEachBatch: the callback gets the
    * epoch's batchId. */
  def decontaminateEachBatch(docs: DataFrame, bench: DataFrame, id: String,
                             text: String, k: Int, w: Int,
                             minContainment: Double)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(graft.operators.Dedup.contaminationPairs(
        batch, bench, id, text, k, w, minContainment), batchId)
    }

  /** Streaming TEXT near-dup gate, stream-static form: every micro-batch
    * of incoming documents runs the batch Dedup.lshJaccardJoin against
    * the standing corpus — MinHash bands generate cross-side candidates,
    * exact shingle-set Jaccard verifies — so "have we already crawled a
    * near-copy of this page?" is answered at ingest, before the doc ever
    * enters the corpus (the nearDupEachBatch idiom for the text
    * modality; decontaminateEachBatch gates on benchmark CONTAINMENT,
    * this gates on corpus SIMILARITY). Per-row semantics against the
    * static right ⇒ output independent of the micro-batch split (parity
    * in StreamingParitySpec); the corpus relation re-evaluates per
    * trigger. Same idempotent-sink contract as asofJoinEachBatch. */
  def lshJoinEachBatch(stream: DataFrame, corpus: DataFrame, idL: String,
                       textL: String, idR: String, textR: String, k: Int,
                       bands: Int, rowsPerBand: Int, minJaccard: Double)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(graft.operators.Dedup.lshJaccardJoin(batch, corpus, idL,
        textL, idR, textR, k, bands, rowsPerBand, minJaccard), batchId)
    }

  /** Streaming near-dup gate, stream-static form: every micro-batch of
    * incoming binary payloads probes the Hamming-band index of a standing
    * corpus with the batch Multimodal.imageDupJoin — "have we already got
    * a near-identical image/clip?" answered at ingest time instead of in
    * a later sweep. The index is broadcast-bounded with fail-loud
    * maxBucket buckets, so each trigger is a map-side band probe + exact
    * signature verify over only the colliding candidates — zero shuffle
    * of the stream, zero Spark state (nothing grows with stream length).
    * Matching is per-left-row against the static right, so output is
    * independent of the micro-batch split (parity with the batch operator
    * is exact — StreamingParitySpec); the index relation re-evaluates per
    * trigger, picking up newly registered payloads at trigger
    * granularity. Same idempotent-sink contract as asofJoinEachBatch. */
  def nearDupEachBatch(stream: DataFrame, index: DataFrame, idL: String,
                       binL: String, idR: String, binR: String,
                       maxHamming: Int, maxBucket: Int = 10000)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(graft.operators.Multimodal.imageDupJoin(batch, index,
        idL, binL, idR, binR, maxHamming, maxBucket), batchId)
    }

  /** Streaming QUALITY gate — the TRAINED classifier applied at ingest
    * (the fourth gate beside contamination, text near-dup, and binary
    * near-dup): every micro-batch of arriving documents is scored under
    * the FROZEN plan-literal ppm weights (LogReg.scoreUnlabeled — label-
    * free, map-only, no shuffle, zero Spark state) and the caller routes
    * keep/drop on `pred` / thresholds `score_ppm` itself. Per-row
    * semantics ⇒ output independent of the micro-batch split — exact
    * parity with the batch scorer on the identical rows (LogRegSpec).
    * Same idempotent-sink contract as asofJoinEachBatch. */
  def scoreGateEachBatch(stream: DataFrame, features: Seq[String],
                         weights: Array[Long], keep: Seq[String])(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(graft.operators.LogReg.scoreUnlabeled(batch, features, weights,
        keep), batchId)
    }

  /** Streaming PERPLEXITY gate — the self-trained unigram LM applied at
    * ingest (the fifth gate): each micro-batch's documents are scored by
    * exact µnat NLL under the FROZEN inventory. Unlike the batch docPpl
    * join (whose word table covers the training corpus), the gate
    * Viterbi-segments the BATCH'S OWN distinct words under the frozen
    * vocab — so out-of-vocabulary words of arriving docs still score
    * (unknown chars segment at the qlog(1)−Z floor, canonical unigram
    * OOV), nothing silently drops. `zQ` is the inventory's normalizer
    * (Unigram.zOf, computed ONCE at gate construction — a plan literal,
    * the frozen-artifact discipline). Per-row semantics against the
    * static inventory ⇒ output independent of the micro-batch split
    * (parity vs the same computation run as one batch — UnigramSpec).
    * Emits (id, n_words, n_pieces, nll_scaled, mean_nll) per scored doc;
    * the caller thresholds mean_nll. Same idempotent-sink contract as
    * asofJoinEachBatch. */
  def pplGateEachBatch(stream: DataFrame, id: String, text: String,
                       vocab: DataFrame, zQ: Long, maxWordLen: Int,
                       maxPieceLen: Int)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val words = graft.operators.Unigram.words(batch, text, maxWordLen)
      val seg = graft.operators.Unigram.viterbi(words, vocab, zQ,
          maxWordLen, maxPieceLen)
        .select(col("word"), col("n_pieces"), col("best_qll"))
      val dw = batch.filter(col(text).isNotNull)
        .select(col(id),
          explode(filter(split(lower(col(text)), "[^a-z]+"),
            w => w =!= "" && length(w) <= maxWordLen)).as("word"))
        .groupBy(col(id), col("word")).agg(count(lit(1)).as("_n"))
      val out = dw.join(seg, Seq("word"))
        .groupBy(col(id))
        .agg(sum(col("_n")).as("n_words"),
          sum(col("_n") * col("n_pieces")).as("n_pieces"),
          (-sum(col("_n") * col("best_qll"))).as("nll_scaled"))
        .select(col(id), col("n_words"), col("n_pieces"),
          col("nll_scaled"),
          (floor(col("nll_scaled").cast("double")
            / col("n_pieces").cast("double")) / 1000000d).as("mean_nll"))
      write(out, batchId)
    }

  /** The COMPOSED five-gate ingest pipeline — the reference's E8 move
    * ("compose the whole chapter into one program",
    * chapter6_exercise/AnalyzeBrowserEvents.java:28) applied to the
    * curation tier: ONE foreachBatch chains exact-dedup keep-first →
    * near-dup keep-first → benchmark decontamination → the trained score
    * gate → the perplexity gate over a doc_id-ascending MemoryStream
    * replay of the corpus, and the per-stage survivor/token masses
    * accumulate across micro-batches into exactly q_curation_funnel's
    * six-row data card — checked against the SAME DuckDB oracle, so the
    * composition is proven, not assumed.
    *
    * Frozen-artifact discipline: the classifier's ppm weights, the
    * unigram inventory + its normalizer, and the per-language perplexity
    * boundary (cutNppByLang: lang → (npp, doc_id) of the LAST head/middle
    * doc) arrive as parameters — the way a production gate ships
    * calibration-corpus artifacts. Boundary membership IS tercile
    * membership: the kept docs are a prefix of each language's total
    * (npp, doc_id) order, so one lexicographic comparison per row
    * reproduces the batch ntile split exactly.
    *
    * Cross-batch state is the accumulated raw corpus (doc_id, text),
    * localCheckpointed once per trigger: the exact gate recomputes
    * canonical ids over it (keep-first ≡ min-id canonical under the
    * ascending replay) and the near-dup gate LSH-probes it (band
    * collision is a deterministic function of each pair's texts, so the
    * verified pair set equals the batch all-pairs run's). Gates 3–5 are
    * per-row against static artifacts. Driver traffic: ONE 1-row agg per
    * trigger (the rules compose as flags over one checkpointed frame, so
    * all six stage counts fold in a single aggregate) plus the replay
    * itself (this is a HARNESS for proving the composition at test scale
    * — production ingest reads files/Kafka, not a driver-collected
    * replay). */
  def curationFunnelStream(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, bench: DataFrame, weights: Array[Long],
      vocab: DataFrame, zQ: Long, cutNppByLang: Map[String, (Long, Long)],
      mhK: Int, mhBands: Int, mhRows: Int, minJaccard: Double,
      winnowW: Int, minContainment: Double, tokCap: Long,
      uniW: Int, uniL: Int, numBatches: Int): DataFrame = {
    require(numBatches >= 1, s"need numBatches >= 1, got $numBatches")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.{Dedup, LogReg, TextOps, Unigram}
    // fail-loud replay cap: this harness collects the corpus to the driver
    // and recomputes the dedup gates over ALL accumulated docs per trigger
    // (O(n²) total) — correct only at parity-test scale. An accidental
    // large-sf invocation must error, not OOM the driver; the production
    // ingest form is FunnelPipeline (state-store gate 1, standing band
    // index, per-batch stores).
    val nCorpus = docs.count()
    require(nCorpus <= 100000L,
      s"curationFunnelStream is the TEST-SCALE parity harness (driver " +
        s"replay + per-trigger full-corpus dedup); got $nCorpus docs > " +
        "100000 — run FunnelPipeline for production-scale ingest")
    // driver-bounded: require(nCorpus <= 100000) above caps this collect
    val replay = docs
      .select(col("doc_id").cast("long"), col("lang"), col("text"))
      .orderBy(col("doc_id"))
      .as[(Long, String, String)].collect()
    val groups: Seq[Seq[(Long, String, String)]] =
      if (replay.isEmpty) Seq(Seq.empty)
      else replay.grouped(math.max(1, math.ceil(
        replay.length.toDouble / numBatches).toInt)).map(_.toSeq).toSeq
    val stages = Seq("ingested", "exact_dedup", "near_dedup",
      "decontaminated", "quality_kept", "ppl_head")
    val nDocs = Array.fill(stages.size)(0L)
    val nToks = Array.fill(stages.size)(0L)
    val cuts = cutNppByLang.toSeq.map { case (l, (n, d)) => (l, n, d) }
      .toDF("lang", "_cut_npp", "_cut_id")
    var seen = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val benchS = bench.localCheckpoint(true) // static across triggers
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    // each trigger computes the five rules as INDEPENDENT keep/drop sets
    // over the ingested slice and composes them as flags — stage k is the
    // intersection of rules 1..k (exactly the batch funnel's semi/anti
    // chain), so all six stage counts come from ONE aggregate per trigger
    // instead of six chained frames with six collects
    val q = input.toDF().toDF("doc_id", "lang", "text")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.localCheckpoint(true)
        val all = seen.unionByName(b.select(col("doc_id"), col("text")))
          .localCheckpoint(true) // the cross-batch corpus state
        val s0 = b.filter(col("text").isNotNull)
          .withColumn("_nt",
            size(TextOps.tokens(lower(col("text")))).cast("long"))
          .filter(col("_nt") > 0L)
          .localCheckpoint(true)
        val canon = Dedup.exactDedup(all, "doc_id", "text")
          .select(col("canonical_id").as("doc_id"))
          .withColumn("_k1", lit(true))
        val nearDrop = Dedup.lshJaccardJoin(s0, all, "doc_id", "text",
            "doc_id", "text", mhK, mhBands, mhRows, minJaccard)
          .filter(col("right_id") < col("left_id"))
          .select(col("left_id").as("doc_id")).distinct()
          .withColumn("_d2", lit(true))
        val cont = Dedup.contaminationPairs(s0, benchS, "doc_id", "text",
            mhK, winnowW, minContainment)
          .filter(col("doc_id") =!= col("bench_id"))
          .select(col("doc_id")).distinct()
          .withColumn("_d3", lit(true))
        val feats = s0
          .withColumn("_toks", TextOps.tokens(lower(col("text"))))
          .withColumn("_ntk", size(col("_toks")).cast("long"))
          .withColumn("_ndk", size(array_distinct(col("_toks"))).cast("long"))
          .withColumn("x_len", least(col("_ntk"), lit(tokCap)))
          .withColumn("x_div", expr("(_ndk * 100) div _ntk"))
        val scored = LogReg.scoreUnlabeled(feats, Seq("x_len", "x_div"),
            weights, Seq("doc_id"))
          .filter(col("pred")).select(col("doc_id"))
          .withColumn("_k4", lit(true))
        val flagged = s0
          .join(canon, Seq("doc_id"), "left")
          .join(nearDrop, Seq("doc_id"), "left")
          .join(cont, Seq("doc_id"), "left")
          .join(scored, Seq("doc_id"), "left")
          .withColumn("_s1", coalesce(col("_k1"), lit(false)))
          .withColumn("_s2", col("_s1") && col("_d2").isNull)
          .withColumn("_s3", col("_s2") && col("_d3").isNull)
          .withColumn("_s4", col("_s3") && coalesce(col("_k4"), lit(false)))
          .localCheckpoint(true) // feeds the ppl candidates AND the agg
        // the expensive gate (batch-vocab Viterbi) runs only on the docs
        // still alive after gates 1-4 — identical membership, less DP
        val cand = flagged.filter(col("_s4"))
          .select(col("doc_id"), col("lang"), col("text"))
        val seg = Unigram.viterbi(Unigram.words(cand, "text", uniW), vocab,
            zQ, uniW, uniL)
          .select(col("word"), col("n_pieces"), col("best_qll"))
        val pplKeep = cand.select(col("doc_id"), col("lang"),
            explode(filter(split(lower(col("text")), "[^a-z]+"),
              w => w =!= "" && length(w) <= uniW)).as("word"))
          .groupBy(col("doc_id"), col("lang"), col("word"))
          .agg(count(lit(1)).as("_n"))
          .join(seg, Seq("word"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(expr("(-sum(_n * best_qll)) div sum(_n * n_pieces)")
            .as("_npp"))
          .join(broadcast(cuts), Seq("lang"), "left")
          .filter(col("_cut_npp").isNotNull &&
            (col("_npp") < col("_cut_npp") ||
              (col("_npp") === col("_cut_npp") &&
                col("doc_id") <= col("_cut_id"))))
          .select(col("doc_id")).withColumn("_k5", lit(true))
        def cnt(flag: org.apache.spark.sql.Column) =
          (count(when(flag, lit(1))), sum(when(flag, col("_nt"))))
        val aggs = Seq(lit(true), col("_s1"), col("_s2"), col("_s3"),
          col("_s4"), col("_s4") && coalesce(col("_k5"), lit(false)))
          .flatMap { f => val (c, t) = cnt(f); Seq(c, t) }
        val r = flagged.join(pplKeep, Seq("doc_id"), "left")
          .agg(aggs.head, aggs.tail: _*).head()
        stages.indices.foreach { i =>
          nDocs(i) += r.getLong(2 * i)
          if (!r.isNullAt(2 * i + 1)) nToks(i) += r.getLong(2 * i + 1)
        }
        seen = all
      }
      .start()
    try {
      groups.foreach { g => input.addData(g); q.processAllAvailable() }
    } finally q.stop()
    stages.zipWithIndex.map { case (name, i) =>
      // an empty stage's token mass is NULL (SQL sum-over-nothing), not 0
      (i.toLong, name, nDocs(i),
        if (nDocs(i) == 0L) None else Some(nToks(i)))
    }.toDF("stage_idx", "stage", "n_docs", "n_tokens")
  }
}
