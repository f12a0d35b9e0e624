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

  /** Continuous windowed heavy hitters — CoreOps.heavyHittersCms composed
    * per event-time window under a watermark: ONE Count-Min table (d·w
    * longs) of state per open window regardless of key cardinality, where
    * an exact count keeps every key of every open window — probed for a
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

  /** Continuous windowed quantile profile — the sketch form of
    * CoreOps.quantileProfile per event-time window: per window, an
    * event count plus approx_percentile sketch estimates at `ps`. The
    * sketch is the point at scale: an
    * exact per-window percentile would buffer every value of every OPEN
    * window in the state store, while the KLL-style sketch keeps one
    * fixed-size buffer per window regardless of row count, merging
    * map-side across micro-batches. Estimates carry the
    * approx_percentile rank contract (within n/accuracy ranks of the
    * target — the bound quantileProfileChecked machine-checks on the
    * batch twin, and StreamingParitySpec pins finalized windows against
    * the identical batch sketch). Append mode emits each window once on
    * watermark close. Columns are named `p50_approx`, .... */
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
  def segmentJoinEachBatch(left: DataFrame, right: DataFrame,
                           idL: String, strL: String, idR: String,
                           strR: String, maxDist: Int)(
      write: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    left.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      write(graft.operators.Dedup.segmentJoin(batch, right, idL, strL,
        idR, strR, maxDist), batchId)
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
}
