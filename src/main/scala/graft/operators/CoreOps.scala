package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference-parity relational + window operators, re-expressed Spark-first.
  *
  * Every operator is a pure `DataFrame => DataFrame` transformation built from
  * Column expressions only (no UDFs) so Catalyst can push filters/projections
  * into the parquet scan, choose broadcast vs shuffle joins, and keep the whole
  * pipeline inside whole-stage codegen. The same functions run on batch
  * (`spark.read`) and streaming (`spark.readStream`) inputs.
  *
  * Reference semantics (file:line into /root/reference/):
  *  - keyed running reduce: chapter2/KeyedStreamOperations.java:76-78
  *  - global tumbling count: chapter2/BasicStreamingOperations.java:84-91,
  *    common/MapCountPrinter.java:12-34
  *  - sliding count/min/max: chapter3/WindowOperations.java:85-100
  *  - keyed (user,action) window count: chapter6_exercise/AnalyzeBrowserEvents.java:83-96
  *  - windowed stream-stream equi-join (cartesian per key+window):
  *    chapter3/WindowJoin.java:119-158
  *  - predicate split via side output: chapter2/StreamSplitAndMerge.java:68-102
  *  - connect/CoMap tagged merge: chapter2/StreamSplitAndMerge.java:120-153
  */
object CoreOps {

  /** Exact money/measure sums: accumulate in DECIMAL so the result is
    * order-independent and identical on any engine, then return DOUBLE.
    * Double summation order varies with partitioning at scale; decimal makes
    * the aggregate deterministic under any degree of parallelism. */
  def exactSum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** exactSum for *computed* double expressions (e.g. price * (1-discount)).
    * Cast-to-decimal rounding of a computed double can land exactly on a
    * representable .xx5 boundary, where engines disagree (HALF_UP vs
    * HALF_EVEN). floor() of an identical IEEE double is identical everywhere,
    * so truncate to cents first, then sum exactly. */
  def exactSumFloor(c: Column): Column =
    (sum(floor(c * 100).cast("decimal(28,0)")).cast("double") / 100).cast("double")

  /** Epoch milliseconds of a timestamp column (truncating, like DuckDB epoch_ms). */
  def ms(c: Column): Column = unix_millis(c)

  /** The integral SQL types — the shared whitelist for every operator whose
    * exactness contract needs integer inputs (bloom probes, prefix sums,
    * moment sums). */
  private[operators] val integralTypes: Set[org.apache.spark.sql.types.DataType] =
    Set(org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)

  private[operators] def requireIntegralCols(df: DataFrame, cols: Seq[String],
                                             op: String): Unit =
    cols.foreach { c =>
      require(integralTypes.contains(df.schema(c).dataType),
        s"$op needs integral columns (exact arithmetic); '$c' is " +
          s"${df.schema(c).dataType} — scale to integer units first")
    }

  /** Deterministic range bucket over a long column, bounds from an O(1)
    * aggregate (no sampling, so re-execution is stable). NULLs map to bucket
    * 0 to match Window.orderBy's NULLS FIRST, so bucketed prefix-scan twins
    * order exactly like their single-window forms. None when the input has
    * no non-null values. Shared by runningSumSalted and
    * StatefulTwins.withLateFlag. */
  private[operators] def timeRangeBucket(df: DataFrame, longCol: Column,
                                         n: Int): Option[Column] = {
    val bounds = df.agg(min(longCol).as("lo"), max(longCol).as("hi")).head()
    if (bounds.isNullAt(0)) None
    else {
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val width = math.max((hi - lo) / n + 1, 1L)
      Some(when(longCol.isNull, lit(0))
        .otherwise(least(floor((longCol - lit(lo)) / lit(width)), lit(n - 1)))
        .cast("int"))
    }
  }

  /** Eager cut of `d` (PlanProbe.cut) plus a timeRangeBucket over the CUT
    * frame, bucket 0 everywhere when the column has no non-null value. The
    * bounds aggregate reads the materialized rows, so the upstream runs
    * once instead of once for the bounds and again for the checkpoint. */
  private[operators] def cutWithRangeBucket(d: DataFrame, longCol: Column,
                                            n: Int): (DataFrame, Column) = {
    val cut = PlanProbe.cut(d)
    (cut, timeRangeBucket(cut, longCol, n).getOrElse(lit(0)))
  }

  // ─── §2.5 aggregations ────────────────────────────────────────────────────

  /** Keyed total: Flink `keyBy(user).reduce(sum)` collapsed to its final value
    * per key (chapter2/KeyedStreamOperations.java:76-78). Partial aggregation
    * (map-side combine) + single hash shuffle on the key — the same exchange
    * Flink's keyBy performs. */
  def keyedSum(df: DataFrame, key: String, value: String, out: String): DataFrame =
    df.groupBy(col(key)).agg(exactSum(col(value)).as(out))

  /** Per-event running total — the faithful twin of Flink's keyed reduce,
    * which emits one output per input. Window function with a deterministic
    * (ts, tiebreak) ordering; state is one partial sum per key, linear scan
    * per partition after a single shuffle+sort on the key. */
  def runningSum(df: DataFrame, key: String, ts: String, tiebreak: String,
                 value: String, out: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(out, sum(col(value).cast("decimal(18,2)")).over(w).cast("double"))
  }

  /** Skew-hardened runningSum: the same per-event running total, but a hot
    * key no longer serializes into one task. Rows are bucketed by time range
    * (bounds from an O(1) aggregate, deterministic); each (key, bucket) runs
    * its local prefix sum in parallel, and per-bucket offsets are combined by
    * a second window over the tiny (key, bucket) totals — O(keys × buckets)
    * rows, never the data. Identical output to runningSum (decimal partials,
    * exact adds). Costs one extra shuffle + join: use when a key-frequency
    * profile shows real skew, the plain form otherwise (see SCALE.md). */
  def runningSumSalted(df: DataFrame, key: String, ts: String, tiebreak: String,
                       value: String, out: String, numBuckets: Int = 0): DataFrame = {
    val n = if (numBuckets > 0) numBuckets
      else math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    // bucket is a function of ts alone, so equal-ts rows share a bucket and
    // the (ts, tiebreak) order is preserved across bucket boundaries
    val bucket = timeRangeBucket(df, ms(col(ts)), n)
      .getOrElse(return runningSum(df, key, ts, tiebreak, value, out))
    val b = df.withColumn("_b", bucket)
    val dec = col(value).cast("decimal(18,2)")
    val wLocal = Window.partitionBy(col(key), col("_b"))
      .orderBy(col(ts), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wPrefix = Window.partitionBy(col(key)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col(key), col("_b")).agg(sum(dec).as("_t"))
      .withColumn("_off", sum(col("_t")).over(wPrefix))
      .select(col(key), col("_b"), col("_off"))
    b.withColumn("_local", sum(dec).over(wLocal))
      .join(offsets, Seq(key, "_b"))
      // NULL-prefix rows (every value so far in this bucket NULL) must fall
      // back to the earlier-bucket total, exactly like the single-window
      // form's sum-ignores-NULLs; off+NULL would wrongly null them out
      .withColumn(out,
        when(col("_local").isNull, col("_off"))
          .otherwise(coalesce(col("_off"), lit(0).cast("decimal(18,2)")) + col("_local"))
          .cast("double"))
      .select(df.columns.map(col) :+ col(out): _*)
  }

  /** Exact per-group quantile profile (continuous/interpolated, the classic
    * latency-percentile report). Spark's `percentile` is an exact aggregate
    * whose per-partition value maps merge map-side — one shuffle of
    * O(groups × distinct values), not a global sort. Both Spark and the SQL
    * oracle interpolate at rank (n-1)·p over the sorted values; outputs are
    * floor-truncated to 6 decimals so the interpolated doubles hash-match
    * across engines. For 100 TB telemetry where distinct-value maps get
    * large, swap in approx_percentile (fixed-size sketch) the same way
    * dedupProfileApprox twins dedupProfile. */
  def quantileProfile(df: DataFrame, group: String, value: String,
                      ps: Seq[Double]): DataFrame = {
    val qs = ps.map { p =>
      (floor(percentile(col(value), lit(p)) * 1e6) / 1e6)
        .as(s"p${math.round(p * 100)}")
    }
    df.groupBy(col(group))
      .agg(count(lit(1)).as("n"), qs: _*)
  }

  /** The 100 TB twin of quantileProfile: approx_percentile's fixed-size
    * KLL-style sketch merges map-side, so only O(groups) sketches cross the
    * shuffle regardless of distinct-value count — the same exact-vs-sketch
    * pairing as dedupProfile/dedupProfileApprox. Rank error is bounded by
    * n/accuracy; estimates are engine-specific, so the registered query is
    * the `quantileProfileChecked` bound form and the error bound is also
    * pinned by a spec against the exact profile. */
  def quantileProfileApprox(df: DataFrame, group: String, value: String,
                            ps: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val qs = ps.map { p =>
      approx_percentile(col(value), lit(p), lit(accuracy))
        .as(s"p${math.round(p * 100)}_approx")
    }
    df.groupBy(col(group))
      .agg(count(lit(1)).as("n"), qs: _*)
  }

  /** Oracle-checkable form of the sketch profile: the exact interpolated
    * percentiles (engine-independent) plus ONE boolean attesting that every
    * sketch estimate honors its guaranteed RANK window. approx_percentile
    * with `accuracy` returns an actual element of the column whose rank is
    * within n/accuracy of the target rank p·n — that contract is about ranks,
    * not values, so the check counts the estimate's rank interval
    * [count(< est)+1, count(<= est)] and requires it to intersect
    * p·n ± (n/accuracy + 1) (one rank of cushion for ceil conventions). A
    * value-interval check would NOT be guaranteed: order-statistic gaps can
    * be arbitrarily large, so rank is the only provable currency. The
    * estimate itself never leaves the engine — only the exact percentiles
    * and the bound verdict do — so a SQL oracle that computes the exact side
    * hash-matches the whole row. Cost: one extra pass (estimate aggregate,
    * broadcast back O(groups) rows, rank count) — a verification query, not
    * the production profile. */
  def quantileProfileChecked(df: DataFrame, group: String, value: String,
                             ps: Seq[Double], accuracy: Int = 10000): DataFrame = {
    val names = ps.map(p => s"p${math.round(p * 100)}")
    val estAggs = ps.zip(names).map { case (p, nm) =>
      approx_percentile(col(value), lit(p), lit(accuracy)).as(s"${nm}_est")
    }
    val est = df.groupBy(col(group)).agg(estAggs.head, estAggs.tail: _*)
    val rankAggs = ps.zip(names).flatMap { case (_, nm) =>
      Seq(sum(when(col(value) < col(s"${nm}_est"), 1L).otherwise(0L)).as(s"${nm}_lt"),
          sum(when(col(value) <= col(s"${nm}_est"), 1L).otherwise(0L)).as(s"${nm}_le"))
    }
    val exactAggs = ps.zip(names).map { case (p, nm) =>
      (floor(percentile(col(value), lit(p)) * 1e6) / 1e6).as(nm)
    }
    val aggs = count(col(value)).as("_nv") +: (rankAggs ++ exactAggs)
    // null-safe join key: a NULL group must survive the estimate join the
    // same way it survives quantileProfile's plain groupBy
    val joined = df.join(broadcast(est.withColumnRenamed(group, "_g")),
        col(group) <=> col("_g"))
      .groupBy(col(group))
      .agg(count(lit(1)).as("n"), aggs: _*)
    val within = ps.zip(names).map { case (p, nm) =>
      val target = col("_nv") * lit(p)
      val tol = col("_nv") / lit(accuracy.toDouble) + lit(1.0)
      (col(s"${nm}_lt") + 1 <= target + tol) && (col(s"${nm}_le") >= target - tol)
    }.reduce(_ && _).as("within_bound")
    joined.select(col(group) +: col("n") +: names.map(col) :+ within: _*)
  }

  /** Count-Min heavy-hitter profile: estimated occurrence count per
    * candidate key from ONE fixed-size sketch aggregate
    * (expressions.CmsAggregate — d·w longs per partition, regardless of
    * row count or key cardinality), broadcast back and probed with the
    * codegen'd md5 cell expression. Estimates are exact-or-over by ≤ εN
    * (ε ≈ e/w), never under. Candidates here are the distinct keys (cheap
    * for enum-like columns); at an unbounded key space feed candidates
    * from a per-partition pre-filter instead — the sketch itself never
    * grows. keyProfile is the exact twin; this is the mergeable/streaming
    * form of the same decision input. NULL keys are skipped by the sketch
    * and excluded from the candidates.
    *
    * This no-candidates form derives candidates as `distinct()` over the
    * key — a full-cardinality shuffle that is cheap ONLY for enum-like
    * columns (event types, status codes). For an unbounded key space
    * (user ids, documents) use the `candidates` overload below, which
    * keeps the whole pipeline bounded. */
  def heavyHittersCms(df: DataFrame, key: String, d: Int, w: Int): DataFrame =
    heavyHittersCms(df, key, d, w,
      df.select(col(key)).filter(col(key).isNotNull).distinct())

  /** External-candidates form for unbounded key spaces: probes the same
    * fixed-size d·w sketch, but the candidate set arrives as a BOUNDED
    * DataFrame the caller controls — e.g. keyProfile's top-N, which
    * compiles to partial agg + TakeOrderedAndProject and never
    * materializes the full key cardinality. Every candidate column rides
    * along (so an exact `n_events` can sit next to `est_count` for a
    * sketch-error gauge); NULL candidate keys are dropped to mirror the
    * sketch, which skips NULL on insert. The sketch side stays one
    * fixed-size aggregate regardless of df's size; the probe side is
    * |candidates| rows against a broadcast 1-row table — no shuffle keyed
    * on the big column anywhere. */
  def heavyHittersCms(df: DataFrame, key: String, d: Int, w: Int,
                      candidates: DataFrame): DataFrame = {
    require(candidates.columns.contains(key),
      s"candidates must carry the probed key column '$key'")
    require(key != "_cms" && !candidates.columns.contains("_cms") &&
        !candidates.columns.contains("est_count"),
      "heavyHittersCms uses '_cms' internally and emits 'est_count'; rename first")
    // the sketch kernel hashes strings; cast once on insert AND probe so
    // non-string keys (user ids) work — a long's canonical decimal string
    // is what DuckDB's || coercion produces too, keeping the oracle's
    // cell hashes identical. The output keeps the caller's key type.
    val tbl = df.agg(graft.expressions.CountMinExpressions
      .cmsTable(col(key).cast("string"), d, w).as("_cms"))
    candidates.filter(col(key).isNotNull)
      .crossJoin(broadcast(tbl))
      .select(candidates.columns.map(col) :+ graft.expressions.CountMinExpressions
        .cmsMin(col("_cms"), col(key).cast("string"), d, w).as("est_count"): _*)
  }

  /** Theil–Sen robust trend: the median of all pairwise slopes between
    * points of an integral series — the outlier-proof "is volume
    * trending" estimator (a single corrupt day moves least-squares but
    * not the pairwise median), plus the matching median intercept.
    * Slopes are quantized at 10⁻⁶ via TRUNCATING integral division
    * (`div`), because DuckDB's BIGINT `//` truncates toward zero for
    * integer operands (probed: -7//2 = -3, -1000000//3 = -333333 —
    * the ewmaSnapshots convention), so a declining series quantizes
    * identically on both engines; both medians are exact rank
    * selections (the weightedMedian lower-median rule: smallest value
    * whose cumulative count reaches half) through the distributed
    * bucket prefix scan. All arithmetic stays in int64 end to end —
    * no double round-trip, no 2⁵³ precision cliff.
    *
    * This is an ALL-PAIRS operator by definition (that is what makes it
    * robust), so it contracts to POST-AGGREGATION series — trend over
    * days/hours/groups, never raw rows: `maxPoints` is probed with a
    * bounded limit-read and exceeded input fails loud (the HotKeyTopN
    * idiom). At 1000 daily points the pair frame is ~5·10⁵ rows — noise
    * at any cluster scale. Duplicate x values contribute no pair (slope
    * undefined); NULL x/y drop. Emits ONE row (n_points, n_pairs,
    * slope_scaled, slope, intercept_scaled, intercept); fewer than 2
    * distinct x emit an empty frame (no trend from one point). */
  def theilSen(df: DataFrame, x: String, y: String,
               maxPoints: Int = 10000): DataFrame = {
    Seq(x, y).foreach(c => require(
      integralTypes.contains(df.schema(c).dataType),
      s"theilSen needs integral '$c'; got ${df.schema(c).dataType}"))
    val pts = df.filter(col(x).isNotNull && col(y).isNotNull)
      .select(col(x).cast("long").as("_x"), col(y).cast("long").as("_y"))
      .localCheckpoint(true)
    val probed = pts.limit(maxPoints + 1).count()
    require(probed <= maxPoints,
      s"theilSen: input has > $maxPoints points — this is an all-pairs " +
        "estimator; aggregate the series first or raise maxPoints")
    val pairs = pts.join(
        broadcast(pts.select(col("_x").as("_x2"), col("_y").as("_y2"))),
        col("_x") < col("_x2"))
      .select(expr("((_y2 - _y) * CAST(1000000 AS BIGINT)) div (_x2 - _x)")
        .as("_s"))
    def lowerMedian(vals: DataFrame, c: String): DataFrame = {
      val counts = vals.groupBy(col(c)).agg(count(lit(1)).as("_n"))
      val tot = counts.agg(sum(col("_n")).as("_tot"))
      orderedPrefixSum(counts, col(c), c, "_n", "_cum")
        .crossJoin(broadcast(tot))
        .filter(col("_cum") * 2 >= col("_tot"))
        .agg(min(col(c)).as(c))
    }
    val slope = lowerMedian(pairs, "_s")
    val nP = pts.agg(count(lit(1)).as("n_points"))
    val nPr = pairs.agg(count(lit(1)).as("n_pairs"))
    val icept = lowerMedian(
      pts.crossJoin(broadcast(slope))
        .select((col("_y") * 1000000L - col("_s") * col("_x")).as("_ic")),
      "_ic")
    nP.crossJoin(broadcast(nPr)).crossJoin(broadcast(slope))
      .crossJoin(broadcast(icept))
      .filter(col("n_pairs") > 0L)
      .select(col("n_points"), col("n_pairs"),
        col("_s").as("slope_scaled"),
        (col("_s").cast("double") / 1000000d).as("slope"),
        col("_ic").as("intercept_scaled"),
        (col("_ic").cast("double") / 1000000d).as("intercept"))
  }

  /** Equi-join cardinality estimation by Count-Min inner product (the
    * AMS/CM classic: |A ⋈ B| = Σ_k a_k·b_k ≈ min_r Σ_j A[r][j]·B[r][j]) —
    * the join-planning gauge a pipeline reads BEFORE committing to a
    * shuffle strategy, and, self-joined, the exact second frequency
    * moment's sketch (the skew signal). Registered as a CHECKED TWIN: the
    * row carries the exact join size (one counts-join over the distinct
    * keys — the audit the sketch replaces at 100 TB) next to the sketch
    * estimate and a `within_eps` gauge attesting
    * (est − exact)·w ≤ 3·n_a·n_b (ε = e/w ≤ 3/w per-row bound; the
    * estimate NEVER undershoots — every cell sum dominates the true
    * inner product).
    *
    * Determinism: the sketch tables are CmsAggregate's md5-cell counters
    * (order-independent element-wise sums), the inner products are exact
    * integer sums, so the estimate is bit-identical on any engine — the
    * DuckDB oracle rebuilds both tables cell-for-cell. Overflow: cell
    * products ≤ n_a·n_b must stay below 2⁶³ (n ~3·10⁹ per side); past
    * that ANSI fails the product loudly rather than wrapping.
    *
    * Shape: each sketch is ONE fixed-size d·w aggregate (no key shuffle);
    * the estimate is a pure projection over the two 1-row frames. Only
    * the exact-audit side shuffles (two key counts + one join) — drop it
    * at scale by reading `est_join_rows` alone. NULL keys drop on both
    * sides (a NULL never joins). Emits ONE row (n_a, n_b, n_keys_common,
    * exact_join_rows, est_join_rows, within_eps). */
  def joinSizeEstimate(dfA: DataFrame, keyA: String,
                       dfB: DataFrame, keyB: String,
                       d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 1, s"need d >= 1 and w >= 1, got d=$d w=$w")
    val sa = dfA.filter(col(keyA).isNotNull)
      .select(col(keyA).cast("string").as("_k"))
    val sb = dfB.filter(col(keyB).isNotNull)
      .select(col(keyB).cast("string").as("_k"))
    val ta = sa.agg(graft.expressions.CountMinExpressions
        .cmsTable(col("_k"), d, w).as("_ta"),
      count(lit(1)).as("n_a"))
    val tb = sb.agg(graft.expressions.CountMinExpressions
        .cmsTable(col("_k"), d, w).as("_tb"),
      count(lit(1)).as("n_b"))
    val exact = sa.groupBy(col("_k")).agg(count(lit(1)).as("_ca"))
      .join(sb.groupBy(col("_k")).agg(count(lit(1)).as("_cb")), Seq("_k"))
      .agg(count(lit(1)).as("n_keys_common"),
        coalesce(sum(col("_ca") * col("_cb")), lit(0L))
          .as("exact_join_rows"))
    val prod = zip_with(col("_ta"), col("_tb"), (x, y) => x * y)
    val est = (0 until d)
      .map(r => aggregate(slice(prod, r * w + 1, w), lit(0L),
        (acc, x) => acc + x))
      .reduceLeft(least(_, _))
    ta.crossJoin(broadcast(tb))
      .crossJoin(broadcast(exact))
      .select(col("n_a"), col("n_b"), col("n_keys_common"),
        col("exact_join_rows"), est.as("est_join_rows"),
        ((est - col("exact_join_rows")) * w
          <= lit(3L) * col("n_a") * col("n_b")).as("within_eps"))
  }

  /** Hot-key profile: exact per-key counts, top N by frequency with a
    * deterministic key tiebreak. Compiles to partial agg + one exchange +
    * TakeOrderedAndProject — each partition keeps only its local top N, so
    * no global sort materializes. This is the profiling step that decides
    * whether a skewed key warrants the salted running-sum variant's extra
    * shuffle (SCALE.md "Skew hardening"). */
  def keyProfile(df: DataFrame, key: String, topN: Int): DataFrame =
    df.groupBy(col(key)).agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col(key))
      .limit(topN)

  /** Share of all rows held by the hottest key — the number the salt-or-not
    * decision reads. One partial-agg pass (keyProfile(1)) plus an O(1) total;
    * 0.0 on empty input. */
  def topKeyShare(df: DataFrame, key: String): Double = {
    val prof = df.groupBy(col(key)).agg(count(lit(1)).as("n_events"))
      .agg(max(col("n_events")).as("top"), sum(col("n_events")).as("total"))
      .head()
    if (prof.isNullAt(0) || prof.getLong(1) == 0L) 0.0
    else prof.getLong(0).toDouble / prof.getLong(1)
  }

  /** One-pass numeric column profiler — the Deequ-style table summary a
    * pipeline logs before/after every stage: per column, row count, NULL
    * count, exact distinct count, min and max (as double). ONE aggregate
    * job computes every metric for every column; the per-column output
    * rows are projections of its single result row, exploded once —
    * profiling a 100 TB table is exactly one scan, however many
    * columns. The distinct counts compile to one Expand (×columns) hash
    * aggregate — the same plan shape as q_cube, linear in columns, and the
    * only part of the profile that shuffles. Columns must be numeric
    * (min/max round-trip through double exactly; strings' min/max collate
    * engine-specifically and are deliberately excluded). */
  def numericProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "numericProfile needs at least one column")
    val numeric = Set("ByteType", "ShortType", "IntegerType", "LongType",
      "FloatType", "DoubleType")
    cols.foreach { c =>
      val f = df.schema(c)
      require(numeric.contains(f.dataType.toString) ||
          f.dataType.toString.startsWith("DecimalType"),
        s"numericProfile profiles numeric columns; '$c' is ${f.dataType}")
    }
    val aggs = cols.zipWithIndex.flatMap { case (c, i) =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_nn_$i"),
        countDistinct(col(c)).as(s"_nd_$i"),
        min(col(c)).cast("double").as(s"_mn_$i"),
        max(col(c)).cast("double").as(s"_mx_$i"))
    }
    val row = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val stacked = cols.zipWithIndex.map { case (c, i) =>
      struct(lit(c).as("column"), col("_n").as("n_rows"),
        col(s"_nn_$i").as("n_nulls"), col(s"_nd_$i").as("n_distinct"),
        col(s"_mn_$i").as("min_v"), col(s"_mx_$i").as("max_v"))
    }
    row.select(explode(array(stacked: _*)).as("_p")).select(col("_p.*"))
  }

  /** Declarative data-quality gate — count violations of named row
    * predicates plus key-uniqueness constraints, as a REPORT rather than a
    * fail-loud assert (the guards elsewhere stop a job; this one feeds the
    * dashboard that decides whether to ship the output). Row checks share
    * ONE corpus pass (a single aggregate of conditional sums); each
    * uniqueness check is one extra partial-agg'd groupBy counting keys
    * seen more than once (NULL keys ignored, like SQL UNIQUE). Emits
    * (check, violations) — one row per named check, zero meaning pass. */
  def constraintReport(df: DataFrame, rowChecks: Seq[(String, Column)],
                       uniqueKeys: Seq[String] = Seq.empty): DataFrame = {
    require(rowChecks.nonEmpty || uniqueKeys.nonEmpty,
      "constraintReport needs at least one check")
    val names = rowChecks.map(_._1) ++ uniqueKeys.map(k => s"unique($k)")
    require(names.distinct == names, s"duplicate check names in $names")
    val rowPart = if (rowChecks.isEmpty) None else Some {
      val aggs = rowChecks.zipWithIndex.map { case ((_, pred), i) =>
        // a NULL predicate is a violation too: the check didn't hold
        sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"_v_$i")
      }
      val row = df.agg(aggs.head, aggs.tail: _*)
      val stacked = rowChecks.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(name).as("check"), col(s"_v_$i").as("violations"))
      }
      row.select(explode(array(stacked: _*)).as("_c")).select(col("_c.*"))
    }
    val uniqueParts = uniqueKeys.map { k =>
      df.filter(col(k).isNotNull).groupBy(col(k))
        .agg(count(lit(1)).as("_n"))
        .agg(coalesce(sum(when(col("_n") > 1L, col("_n"))), lit(0L))
          .as("violations"))
        .select(lit(s"unique($k)").as("check"), col("violations"))
    }
    (rowPart.toSeq ++ uniqueParts).reduce(_ unionByName _)
  }

  /** Per-GROUP top-N with a deterministic tiebreak — the "best K docs per
    * (source, lang)" sampler. Unlike keyProfile's global top-N
    * (TakeOrderedAndProject), this compiles to WindowGroupLimit: Spark
    * pushes the per-group limit below the final sort, so each task retains
    * at most N rows per group and no group's full ranking materializes. */
  def groupTopK(df: DataFrame, groups: Seq[String], order: Column,
                tiebreak: String, k: Int): DataFrame = {
    require(!df.columns.contains("rank"),
      "groupTopK emits a 'rank' column; rename the input's existing one first")
    val w = Window.partitionBy(groups.map(col): _*)
      .orderBy(order.desc, col(tiebreak))
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Leave-one-out target encoding: each row's category becomes the mean
    * outcome of the OTHER rows in its category — the standard high-
    * cardinality categorical encoder, with the leakage guard built into
    * the formula ((Σ_c − own)/(n_c − 1)): a row never sees its own
    * target, so the feature is safe to train on. Exactness: outcomes
    * truncate to cents at the scan (floor(v·100), the cents-grid
    * convention), category sums are int64 (order-independent), and the
    * per-row division is one trunc6'd float op. Shape: one category agg
    * (O(categories) rows) joined back — AQE broadcasts it — then a pure
    * map; no window, no sort. Singleton categories (n_c = 1) yield NULL:
    * there are no other rows to borrow a mean from, and imputing the
    * global prior silently is a modeling choice the caller should make
    * explicitly. NULL category/outcome rows pass through with NULL
    * encoding. Emits the input plus `out` (the encoded value, in
    * currency units). */
  def targetEncodeLoo(df: DataFrame, category: String, outcome: String,
                      out: String): DataFrame = {
    require(!df.columns.contains(out),
      s"targetEncodeLoo emits '$out'; rename the input's first")
    val emitted = Seq("_c", "_sum", "_n")
    require(!emitted.exists(df.columns.contains),
      s"targetEncodeLoo uses ${emitted.mkString(", ")} internally; rename inputs")
    val withCents = df.withColumn("_c",
      floor(col(outcome) * 100).cast("long"))
    val stats = withCents.filter(col(category).isNotNull && col("_c").isNotNull)
      .groupBy(col(category))
      .agg(sum(col("_c")).as("_sum"), count(lit(1)).as("_n"))
    withCents.join(stats, Seq(category), "left")
      .withColumn(out,
        when(col("_c").isNotNull && col("_n") > 1,
          floor((col("_sum") - col("_c")).cast("double")
            / (col("_n") - 1).cast("double") / 100d * 1000000d) / 1000000d))
      .drop("_c", "_sum", "_n")
  }

  /** Per-group MODE — the most frequent value, with a deterministic
    * tiebreak (higher count wins, equal counts break by ascending value),
    * so every engine and every partitioning names the same winner. A thin
    * composition: one (group, value) count agg, then groupTopK(k=1) —
    * which compiles to WindowGroupLimit, so each task forwards at most
    * one candidate per group before the exchange; the full per-group
    * frequency table never ships. Emits (group, value, n). NULL values
    * drop (absence is not a mode). */
  def modeByGroup(df: DataFrame, group: String, value: String): DataFrame = {
    val emitted = Seq("n", "rank")
    require(!emitted.contains(group) && !emitted.contains(value),
      s"modeByGroup emits/uses ${emitted.mkString(", ")}; rename inputs")
    // orderBy(n desc, value asc): groupTopK's tiebreak column is ascending
    groupTopK(
      df.filter(col(value).isNotNull && col(group).isNotNull)
        .groupBy(col(group), col(value)).agg(count(lit(1)).as("n")),
      Seq(group), col("n"), value, 1)
      .select(col(group), col(value), col("n"))
  }

  /** Per-group winsorization on exact ORDER STATISTICS: clamp `value`
    * into [k_lo-th smallest, k_hi-th smallest] of its group, where
    * k = ceil(p·n) — rank selection, NOT interpolation, so on integral
    * inputs every bound is an actual data value and the clipped output is
    * bit-exact on any engine (interpolated percentiles agree only to
    * float tolerance at awkward fractions; trunc6 can still straddle a
    * truncation boundary at the clip edge). The tail treatment that keeps
    * a corrupted sensor reading from dominating a sum, without dropping
    * the row like an outlier filter would. Plan shape: the per-group rank
    * from the keyed bucketed prefix scan + a grouped count re-joined
    * (never a `PARTITION BY group` window — one-task sort per group at
    * scale for a ~constant-cardinality group key), the k-th rows filter
    * down to O(groups) bound rows joined back, then a pure comparison
    * map — comparisons only, no arithmetic on the values.
    * `value` must be integral (the rankSumAuc grid argument). Ties rank
    * arbitrarily but the k-th order STATISTIC is tie-order-independent —
    * a multiset position. Emits the input plus `out` (clipped, int64).
    * NULL values pass through as NULL; NULL groups drop. */
  def winsorizeRank(df: DataFrame, group: String, value: String,
                    lo: Double, hi: Double, out: String): DataFrame = {
    require(lo > 0 && hi < 1 && lo < hi,
      s"winsorizeRank needs 0 < lo < hi < 1, got ($lo, $hi)")
    require(integralTypes.contains(df.schema(value).dataType),
      s"winsorizeRank clips '$value' by exact order statistics; got " +
        s"${df.schema(value).dataType} — scale to an integer grid first")
    require(!df.columns.contains(out),
      s"winsorizeRank emits '$out'; rename the input's first")
    val emitted = Seq("_rn", "_n", "_lo", "_hi", "_w1", "_wgt_g")
    require(!emitted.exists(df.columns.contains),
      s"winsorizeRank uses ${emitted.mkString(", ")} internally; rename inputs")
    val base = df.filter(col(group).isNotNull).withColumn("_w1", lit(1L))
    // NULLS LAST + count over non-null only: ranks 1..n cover the non-null
    // values, NULL rows rank past n and never match a k-th row. Rank from
    // the keyed bucketed prefix scan + a grouped count re-joined — never a
    // PARTITION BY group window (one-task sort per group at scale when the
    // group key has ~constant cardinality). Ties rank arbitrarily, as
    // before — the k-th order statistic is a multiset position.
    val sizes = df.filter(col(group).isNotNull)
      .groupBy(col(group).as("_wgt_g")).agg(count(col(value)).as("_n"))
    val ranked = orderedPrefixSumKeyed(base, col(group), col(value), value,
        "_w1", "_rn", nullsLast = true)
      .join(sizes, col(group) <=> col("_wgt_g"), "left")
      .drop("_wgt_g", "_w1")
    // ceil(p·n) in IEEE doubles on BOTH engines — identical k everywhere
    def kOf(p: Double) = ceil(lit(p) * col("_n")).cast("long")
    val bounds = ranked
      .groupBy(col(group))
      .agg(max(when(col("_rn") === kOf(lo), col(value))).as("_lo"),
        max(when(col("_rn") === kOf(hi), col(value))).as("_hi"))
    // join the RANKED frame (not a second scan of df): same rows, and the
    // bounds join lands on the window's group partitioning
    ranked.join(bounds, Seq(group))
      .withColumn(out,
        when(col(value).isNotNull,
          least(greatest(col(value), col("_lo")), col("_hi"))))
      .drop("_rn", "_n", "_lo", "_hi")
  }

  /** Staged conversion funnel — "users who did A, then B after A, then C
    * after B", with each key's earliest completion time per stage. Stage i
    * is satisfied by the key's EARLIEST event matching predicate i that is
    * strictly later than its stage-(i−1) time, so out-of-order occurrences
    * (a purchase before any view) don't count. Emits one row per key that
    * completes ALL stages, with epoch-ms stage times `t0..t{n-1}` (partial
    * funnels are the complement on t0's stage — compute them by running a
    * prefix of `stages`).
    *
    * Shape: one filtered min-aggregate per stage, each joined to the
    * running result ON THE KEY — every shuffle lands on the same uniform
    * key partitioning, so AQE reuses the exchange and the whole funnel is
    * stages × (map + co-partitioned join + partial agg). No window over
    * per-key event lists, no collect of event sequences — the funnel state
    * per key is just the stage timestamps. */
  def funnel(df: DataFrame, key: String, ts: String,
             stages: Seq[Column]): DataFrame =
    funnelImpl(df, key, ts, stages, None)

  /** Timed conversion funnel — funnel with a per-stage deadline: stage
    * i+1 must land within `maxGapMs` of stage i's time or the chain does
    * not advance (the "purchase within 72h of click" attribution-window
    * semantics every real funnel report carries; the unbounded form
    * credits conversions a year late). Same greedy earliest-chain
    * contract as funnel — t0 is the key's FIRST stage-0 event and each
    * t_{i+1} the earliest qualifying successor, so a later stage-0
    * occurrence that would have completed inside the window is not
    * explored (documented, matches the streaming machine's
    * first-match-wins walk). Same plan shape: one aggregate per stage,
    * each a keyed equi-join + min — per-key state is the carried stage
    * times, never an event list. All-integer ms comparisons; engines
    * cannot disagree. */
  def funnelTimed(df: DataFrame, key: String, ts: String,
                  stages: Seq[Column], maxGapMs: Long): DataFrame = {
    require(maxGapMs > 0, s"maxGapMs must be positive, got $maxGapMs")
    funnelImpl(df, key, ts, stages, Some(maxGapMs))
  }

  /** Funnel SUMMARY with uncertainty — per stage transition, the
    * conversion rate and its Wilson 95% score interval, the "is
    * view→click really 34%±?" report a point estimate funnel cannot
    * give (at small n the naive ±z√(p(1−p)/n) interval escapes [0,1];
    * Wilson does not — the standard fix, public literature: Wilson
    * 1927, Brown/Cai/DasGupta 2001).
    *
    * Chaining semantics are funnel's greedy earliest-chain (t0 = first
    * stage-0 event, each successor the earliest qualifying later event,
    * optional per-stage deadline), but the chain is carried with LEFT
    * joins so keys stopping at stage i keep NULL times downstream —
    * that is what makes every per-stage count come from ONE final
    * per-key frame (single lazy chain, each stage frame consumed once,
    * no recompute fan-out). Counts are exact; rate and the CI bounds
    * are a fixed double chain over (k, n) — z and z² enter as the
    * DECIMAL LITERALS 1.96 / 3.8416 on both engines (never z·z, which
    * could differ from the parsed literal in the last ulp) — trunc6'd,
    * mirrored operand-for-operand in the oracle. Transitions with
    * n_prev = 0 emit NULL rate/bounds. Emits one row per transition
    * (stage 1-based, n_prev, n_reached, rate, ci_low, ci_high). */
  def funnelReport(df: DataFrame, key: String, ts: String,
                   stages: Seq[Column],
                   maxGapMs: Option[Long] = None): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got ${stages.size}")
    maxGapMs.foreach(g => require(g > 0, s"maxGapMs must be positive, got $g"))
    val ms = unix_millis(col(ts))
    var acc = df.filter(stages.head).groupBy(col(key)).agg(min(ms).as("t0"))
    for (i <- 0 until stages.size - 1) {
      val carried = (0 to i).map(j => col(s"t$j"))
      val inWindow = maxGapMs.map(g => col("_ms") - col(s"t$i") <= g)
        .getOrElse(lit(true))
      acc = acc.join(df.filter(stages(i + 1)).select(col(key), ms.as("_ms")),
          Seq(key), "left")
        .groupBy((col(key) +: carried): _*)
        .agg(min(when(col("_ms") > col(s"t$i") && inWindow, col("_ms")))
          .as(s"t${i + 1}"))
    }
    val summary = acc.agg(
      count(col("t0")).as("_n0"),
      (1 until stages.size).map(i => count(col(s"t$i")).as(s"_n$i")): _*)
    val trans = summary.select(explode(array(
        (1 until stages.size).map(i => struct(lit(i.toLong).as("stage"),
          col(s"_n${i - 1}").as("n_prev"),
          col(s"_n$i").as("n_reached"))): _*)).as("_t"))
      .select(col("_t.stage"), col("_t.n_prev"), col("_t.n_reached"))
    val n = col("n_prev").cast("double")
    val p = col("n_reached").cast("double") / n
    val z = lit(1.96); val z2 = lit(3.8416)
    val denom = lit(1d) + z2 / n
    val center = (p + z2 / (lit(2d) * n)) / denom
    val half = (z / denom) *
      sqrt(p * (lit(1d) - p) / n + z2 / (lit(4d) * n * n))
    def t6(c: Column): Column = floor(c * 1000000d) / 1000000d
    trans.select(col("stage"), col("n_prev"), col("n_reached"),
      when(col("n_prev") > 0, t6(p)).as("rate"),
      when(col("n_prev") > 0, t6(center - half)).as("ci_low"),
      when(col("n_prev") > 0, t6(center + half)).as("ci_high"))
  }

  private def funnelImpl(df: DataFrame, key: String, ts: String,
                         stages: Seq[Column],
                         maxGapMs: Option[Long]): DataFrame = {
    require(stages.size >= 2, s"a funnel needs >= 2 stages, got ${stages.size}")
    // no internal-name guard needed: every stage projects to (key, _ms) or
    // aggregates to (key, t0..ti), so input columns never ride along
    val ms = unix_millis(col(ts))
    var acc = df.filter(stages.head).groupBy(col(key)).agg(min(ms).as("t0"))
    stages.tail.zipWithIndex.foreach { case (pred, i) =>
      val carried = (0 to i).map(j => col(s"t$j"))
      val inWindow = maxGapMs.map(g => col("_ms") - col(s"t$i") <= g)
        .getOrElse(lit(true))
      acc = df.filter(pred).select(col(key), ms.as("_ms"))
        .join(acc, Seq(key))
        .filter(col("_ms") > col(s"t$i") && inWindow)
        .groupBy((col(key) +: carried): _*)
        .agg(min(col("_ms")).as(s"t${i + 1}"))
    }
    acc
  }

  /** Per-event sessionization: label every row with its key's 1-based
    * session index, where a new session starts after a silence longer than
    * `gapMs` — the per-EVENT twin of sessionSummary's per-session
    * aggregate, for pipelines that need the session id ON the event (for
    * downstream grouping, journey splitting, or session-scoped features).
    * One keyed exchange + sort: the lag and the running sum share the same
    * window ordering, so Catalyst evaluates both in a single WindowExec
    * pass. Boundary contract: a silence STRICTLY greater than gapMs splits
    * (an event exactly gapMs after its predecessor stays in-session) —
    * the SAME boundary session_window implements: touching windows merge
    * (probed: two events exactly gap apart form ONE session), so the two
    * operators agree event-for-event at every spacing. */
  def sessionize(df: DataFrame, key: String, ts: String, tiebreak: String,
                 gapMs: Long): DataFrame = {
    require(gapMs > 0, s"gapMs must be positive, got $gapMs")
    require(!df.columns.contains("session_seq"),
      "sessionize emits a 'session_seq' column; rename the input's first")
    // NULLS LAST pins NULL-ts rows to the same position on every engine
    // (Spark defaults NULLS FIRST ascending, DuckDB NULLS LAST)
    val w = Window.partitionBy(col(key))
      .orderBy(ms(col(ts)).asc_nulls_last, col(tiebreak))
    val prev = lag(ms(col(ts)), 1).over(w)
    df.withColumn("session_seq",
      sum(when(prev.isNull || (ms(col(ts)) - prev) > gapMs, 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-group percent-rank normalization: map `value` to its empirical
    * CDF position in [0, 1] within each group — the scale-free form
    * quality scores are combined in (a length score and a stopword score
    * on wildly different scales become comparable ranks). percent_rank is
    * (rank−1)/(n−1), a single exact integer division, so any engine agrees
    * bit-for-bit; ties share a rank. */
  def rankNormalize(df: DataFrame, group: String, value: String,
                    out: String): DataFrame = {
    require(!df.columns.contains(out),
      s"rankNormalize emits '$out'; rename the input's first")
    val internal = Seq("_rn_g", "_rn_v", "_rn_c", "_rn_cum", "_rn_n")
    require(!internal.exists(df.columns.contains),
      s"rankNormalize uses ${internal.mkString(", ")} internally; " +
        "rename inputs")
    // NULLS LAST explicitly: Spark's ascending default is NULLS FIRST but
    // DuckDB's (and the ANSI common case) is NULLS LAST — unpinned, one
    // NULL value would shift every non-null row's rank differently per
    // engine. percent_rank's shared-tie rank = (#rows strictly before)+1,
    // computed on the (group, distinct value) GRID: per-cell counts, a
    // keyed bucketed prefix scan over the value order, and the grid joined
    // back — never a PARTITION BY group window, which one-task-sorts each
    // group's whole frame at scale when the group key (lang) has ~constant
    // cardinality. (rank−1)/(n−1) is the same IEEE division either way.
    val grid = df.groupBy(col(group).as("_rn_g"), col(value).as("_rn_v"))
      .agg(count(lit(1)).as("_rn_c"))
    val ranks = orderedPrefixSumKeyed(grid, col("_rn_g"), col("_rn_v"),
      "_rn_v", "_rn_c", "_rn_cum", nullsLast = true)
    val sizes = df.groupBy(col(group).as("_rn_g")).agg(count(lit(1)).as("_rn_n"))
    df.join(ranks,
        col(group) <=> col("_rn_g") && col(value) <=> col("_rn_v"), "left")
      .drop("_rn_g", "_rn_v")
      .join(sizes, col(group) <=> col("_rn_g"), "left")
      .withColumn(out,
        when(col("_rn_n") > 1L,
          floor((col("_rn_cum") - col("_rn_c")).cast("double")
            / (col("_rn_n") - 1L).cast("double") * 1000000d) / 1000000d)
          .otherwise(0.0d))
      .select(df.columns.map(col).toSeq :+ col(out): _*)
  }

  /** Shared exact moment sums for exactCorr/exactRegression: count and
    * Σx, Σy, Σxy, Σxx(, Σyy) accumulated in decimal (order-independent),
    * cast to double only after the aggregate. */
  private def momentSums(df: DataFrame, group: String, x: String, y: String,
                         withSyy: Boolean, op: String): DataFrame = {
    requireIntegralCols(df, Seq(x, y), op)
    val emitted = Seq("n", "corr", "slope", "intercept",
      "_n", "_sx", "_sy", "_sxy", "_sxx", "_syy")
    require(!emitted.contains(group),
      s"$op uses/emits ${emitted.mkString(", ")}; rename the group column")
    val (xd, yd) = (col(x).cast("decimal(19,0)"), col(y).cast("decimal(19,0)"))
    val base = Seq(sum(xd).cast("double").as("_sx"),
      sum(yd).cast("double").as("_sy"),
      sum(xd * yd).cast("double").as("_sxy"),
      sum(xd * xd).cast("double").as("_sxx"))
    val aggs = if (withSyy) base :+ sum(yd * yd).cast("double").as("_syy")
      else base
    df.filter(col(x).isNotNull && col(y).isNotNull)
      .groupBy(col(group))
      .agg(count(lit(1)).cast("double").as("_n"), aggs: _*)
  }

  /** Deterministic per-group Pearson correlation over INTEGRAL columns —
    * the feature-vs-feature diagnostic (does doc length track token
    * count?) that Spark's own `corr` cannot give reproducibly: its double
    * partial sums reorder with partitioning, so the last bits differ run
    * to run. Here the five moment sums accumulate EXACTLY (decimal — sums
    * of int64 products are order-independent), and only then does a fixed
    * double formula run: every +,*,/,sqrt is correctly rounded over
    * identical operands in identical order, so the result is bit-identical
    * on any engine and any partitioning. One partial-agg'd shuffle,
    * O(groups) output. Rows with a NULL in either column are excluded
    * (pairwise semantics); zero-variance groups yield NULL. Inputs must be
    * integral, and every per-group moment sum (including Σx², Σy²) must stay
    * under 10^38 — true for counts/lengths/cents at corpus scale, NOT for
    * epoch-nanos-squared; pre-scale such columns. Overflow fails loud
    * under Spark's default ANSI mode rather than silently nulling. */
  def exactCorr(df: DataFrame, group: String, x: String, y: String): DataFrame = {
    val stats = momentSums(df, group, x, y, withSyy = true, "exactCorr")
    val va = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val vb = col("_n") * col("_syy") - col("_sy") * col("_sy")
    val num = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    stats.select(col(group), col("_n").cast("long").as("n"),
      when(va > 0 && vb > 0,
        floor(num / (sqrt(va) * sqrt(vb)) * 1000000d) / 1000000d).as("corr"))
  }

  /** Per-group SPEARMAN rank correlation — the monotonic-association
    * diagnostic Pearson misses (a perfectly monotonic but curved relation
    * scores 1.0 here): Pearson over AVERAGE ranks with the tie convention
    * statisticians expect. Engine-exact end to end: ranks come from
    * integer comparisons only (per-(group, value) counts + one cumulative
    * over the DISTINCT-value grid), and the tied-rank average
    * (cum − cnt/2 + 1/2) is carried DOUBLED — r2 = 2·cum − cnt + 1, an
    * exact int64 — so no fraction ever exists; Pearson is invariant under
    * the common ×2 scaling, and the closing formula is exactCorr's fixed
    * double chain over exact decimal moments. Unlike exactCorr the inputs
    * need NOT be integral: ranks only compare values, never do arithmetic
    * on them, so doubles are safe (identical IEEE comparisons on every
    * engine — the keyed prefix scan sorts the RAW axis and only its
    * bucket image is integral). Plan shape: per axis one (group, value)
    * partial-agg'd count + one keyed bucketed prefix scan over the
    * distinct-value grid (never a `PARTITION BY group` window) + one
    * equi-join back on (group, value); then the single exactCorr moment
    * agg. Per-group moment bound: Σ(2r)² ≤ 4n³ < 10^38 ⇒ n under ~10^11
    * rows per group; overflow fails loud under ANSI. NULL-in-either rows
    * drop (pairwise); constant-in-either groups yield NULL. Emits
    * (group, n, spearman). */
  def spearmanCorr(df: DataFrame, group: String, x: String, y: String): DataFrame = {
    require(x != y, s"spearmanCorr needs two distinct columns, got '$x' twice")
    val internal = Seq("_c", "_cum", "_r2x", "_r2y", "n", "spearman")
    require(!internal.exists(df.columns.contains),
      s"spearmanCorr emits/uses ${internal.mkString(", ")}; rename inputs")
    val base = df.filter(col(x).isNotNull && col(y).isNotNull)
      .select(col(group), col(x), col(y))
    // the distinct-value-grid cumulative via the keyed bucketed prefix
    // scan — never a PARTITION BY group window (one-task sort per group at
    // scale for a ~constant-cardinality group key); doubles order exactly
    // (the scan sorts the RAW axis, only its bucket image is integral)
    def rank2(axis: String, out: String): DataFrame =
      orderedPrefixSumKeyed(
        base.groupBy(col(group), col(axis)).agg(count(lit(1)).as("_c")),
        col(group), col(axis), axis, "_c", "_cum")
        .select(col(group), col(axis),
          (lit(2L) * col("_cum") - col("_c") + 1L).cast("long").as(out))
    val ranked = base
      .join(rank2(x, "_r2x"), Seq(group, x))
      .join(rank2(y, "_r2y"), Seq(group, y))
    exactCorr(ranked, group, "_r2x", "_r2y")
      .select(col(group), col("n"), col("corr").as("spearman"))
  }


  /** Full pairwise correlation matrix over integral columns in ONE
    * aggregate pass — exactCorr generalized to every column pair at once:
    * all C(k,2) pairs' moment sums (each with its OWN pairwise-non-NULL
    * filter) accumulate in one job over one scan, and the per-pair output
    * rows are projections of its single result row —
    * the numericProfile shape. Same determinism contract as exactCorr:
    * decimal moment sums are order-independent, the closing double formula
    * is fixed, results bit-identical on any engine or partitioning. Same
    * bounds: integral inputs, per-pair moment sums under 10^38, ANSI fails
    * loud on overflow. Emits (col_a, col_b, n, corr), col_a before col_b
    * in the given order; zero-variance or empty pairs yield NULL corr. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"corrMatrix needs >= 2 columns, got $cols")
    require(cols.distinct == cols, s"duplicate columns in $cols")
    requireIntegralCols(df, cols, "corrMatrix")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (i, j)
    val aggs = pairs.flatMap { case (i, j) =>
      val (x, y) = (col(cols(i)), col(cols(j)))
      val both = x.isNotNull && y.isNotNull
      val (xd, yd) = (x.cast("decimal(19,0)"), y.cast("decimal(19,0)"))
      def s(c: Column, nm: String) =
        sum(when(both, c)).cast("double").as(nm)
      Seq(sum(when(both, 1L)).cast("double").as(s"_n_${i}_$j"),
        s(xd, s"_sx_${i}_$j"), s(yd, s"_sy_${i}_$j"),
        s(xd * yd, s"_sxy_${i}_$j"), s(xd * xd, s"_sxx_${i}_$j"),
        s(yd * yd, s"_syy_${i}_$j"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (i, j) =>
      val n = col(s"_n_${i}_$j")
      val (sx, sy) = (col(s"_sx_${i}_$j"), col(s"_sy_${i}_$j"))
      val (sxy, sxx, syy) =
        (col(s"_sxy_${i}_$j"), col(s"_sxx_${i}_$j"), col(s"_syy_${i}_$j"))
      val va = n * sxx - sx * sx
      val vb = n * syy - sy * sy
      val num = n * sxy - sx * sy
      struct(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        coalesce(n, lit(0.0d)).cast("long").as("n"),
        when(va > 0 && vb > 0,
          floor(num / (sqrt(va) * sqrt(vb)) * 1000000d) / 1000000d)
          .as("corr"))
    }
    row.select(explode(array(stacked: _*)).as("_p")).select(col("_p.*"))
  }

  /** Cohort retention — the user-lifecycle curve: bucket every key's FIRST
    * activity into a `grainMs` cohort, then for each (cohort, offset)
    * count the distinct keys active `offset` grains later and divide by
    * the cohort size. Three partial-agg'd shuffles (first-activity per
    * key, distinct (key, cohort, offset), the cohort rollup) — each
    * O(keys) or smaller, never row-count-sized state. Integer grain
    * arithmetic end to end; the one retention division is trunc6'd.
    * NULL timestamps drop (no activity instant); NEGATIVE epoch-ms
    * timestamps FAIL LOUDLY — truncating and flooring division disagree
    * below zero, so a pre-1970 row would silently land in a different
    * cohort per engine. */
  def retentionCohorts(df: DataFrame, key: String, ts: String,
                       grainMs: Long): DataFrame = {
    require(grainMs > 0, s"grainMs must be positive, got $grainMs")
    val emitted = Seq("cohort", "day_offset", "n_active", "n_cohort",
      "retention", "_day")
    require(!emitted.contains(key),
      s"retentionCohorts emits ${emitted.mkString(", ")}; rename '$key'")
    val msCol = ms(col(ts))
    val guard = assert_true(msCol.isNull || msCol >= 0,
      concat(lit(s"retentionCohorts: '$ts' must be >= epoch (trunc vs " +
        "floor division diverge below zero); got ms="),
        msCol.cast("string")))
    val ev = df.filter(guard.isNull).filter(col(ts).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(grainMs))) / lit(grainMs))
          .cast("long").as("_day"))
    val first = ev.groupBy(col(key)).agg(min(col("_day")).as("cohort"))
    val active = ev.join(first, Seq(key))
      .select(col(key), col("cohort"),
        (col("_day") - col("cohort")).as("day_offset"))
      .distinct()
    val sizes = first.groupBy(col("cohort")).agg(count(lit(1)).as("n_cohort"))
    active.groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .withColumn("retention",
        floor(col("n_active").cast("double") / col("n_cohort").cast("double")
          * 1000000d) / 1000000d)
      .select(col("cohort"), col("day_offset"), col("n_active"),
        col("n_cohort"), col("retention"))
  }

  /** UCB1 exploration scores per arm — "which data source / variant
    * should the next batch sample?", the bandit score sheet behind
    * curriculum and source-selection loops: arms with high mean reward
    * OR too few observations score high; well-observed mediocre arms
    * sink. Rewards are integer `cents` normalized by `normCents` (the
    * caller's reward cap — UCB1 assumes rewards in [0,1]); the bonus is
    * c·√(ln N / nᵢ) with ln N QUANTIZED (qlog/10⁶ — the InfoTheory
    * contract), so the only engine-variant ops are the final fixed
    * double chain per arm, trunc6'd and mirrored operand-for-operand in
    * the oracle. One partial-agg'd shuffle + a 1-row broadcast total;
    * O(arms) output. NULL arms/values drop. Emits
    * (arm, n, sum_cents, mean_norm, ucb). */
  def ucbScores(df: DataFrame, arm: String, cents: String, normCents: Long,
                c: Int): DataFrame = {
    require(normCents >= 1, s"normCents must be >= 1, got $normCents")
    require(c >= 1, s"c must be >= 1, got $c")
    requireIntegralCols(df, Seq(cents), "ucbScores")
    val emitted = Seq("n", "sum_cents", "mean_norm", "ucb", "_nn")
    require(!emitted.contains(arm),
      s"ucbScores emits ${emitted.mkString(", ")}; rename '$arm'")
    val arms = df.filter(col(arm).isNotNull && col(cents).isNotNull)
      .groupBy(col(arm))
      .agg(count(lit(1)).as("n"), sum(col(cents).cast("long")).as("sum_cents"))
    val total = arms.groupBy().agg(sum(col("n")).as("_nn")) // 1 row
    val qlog: Column => Column =
      x => floor(log(x.cast("double")) * 1000000d).cast("long")
    def t6(x: Column): Column = floor(x * 1000000d) / 1000000d
    val meanNorm = col("sum_cents").cast("double") /
      (col("n").cast("double") * normCents.toDouble)
    val bonus = lit(c.toDouble) *
      sqrt((qlog(col("_nn")).cast("double") / 1000000d)
        / col("n").cast("double"))
    arms.crossJoin(broadcast(total))
      .select(col(arm), col("n"), col("sum_cents"),
        t6(meanNorm).as("mean_norm"), t6(meanNorm + bonus).as("ucb"))
  }

  /** Kaplan-Meier survival curves per signup cohort — "how long do users
    * stay?", the time-to-churn statistic retention tables approximate but
    * never state: S(t) = Π_{tⱼ≤t} (1 − dⱼ/nⱼ) over death steps, with
    * right-censoring done correctly (a user still active at the corpus
    * edge is NOT a churn — censored users leave the at-risk set without
    * counting as deaths, which naive "days active" histograms get wrong).
    *
    * Lifetimes: per key, duration = last − first active day; the churn is
    * OBSERVED iff the key's last day is ≥ `churnGapDays` before the
    * global max day (quiet for the full gap ⇒ churned), else CENSORED at
    * its current duration. Cohort = first day floored to `cohortDays`.
    *
    * Determinism (the InfoTheory contract): the survival product is
    * carried in QUANTIZED LOG space — each death step contributes the
    * exact BIGINT term qlog(nⱼ−dⱼ) − qlog(nⱼ), prefix-summed by a
    * cohort-partitioned window — so logsurv_scaled is bit-identical on
    * any engine/partitioning; `survival` is one exp of the identical
    * double, floor-quantized at 10⁻⁶ (probed over 4·10⁵ samples: zero
    * JVM/DuckDB disagreements). A step where the whole risk set dies
    * (provably the cohort's LAST step) emits survival 0 and NULL
    * logsurv_scaled.
    *
    * Shape: one keyed min/max agg over events, the global max day as a
    * 1-row broadcast, one (cohort, duration) agg, then two
    * cohort-partitioned windows over the O(cohorts × durations) step
    * table — the windows never see raw events; zero driver traffic.
    * Only death steps emit (censor-only steps change no factor but DO
    * shrink the later risk sets via the step table). Same >= epoch guard
    * as retentionCohorts. Emits (cohort_day, dur_days, n_risk, n_deaths,
    * n_censored, logsurv_scaled, survival). */
  def kaplanMeier(df: DataFrame, key: String, ts: String,
                  churnGapDays: Int, cohortDays: Int): DataFrame = {
    require(churnGapDays >= 1,
      s"churnGapDays must be >= 1, got $churnGapDays")
    require(cohortDays >= 1, s"cohortDays must be >= 1, got $cohortDays")
    val emitted = Seq("cohort_day", "dur_days", "n_risk", "n_deaths",
      "n_censored", "logsurv_scaled", "survival",
      "_day", "_f", "_l", "_mx", "_dur", "_death", "_d", "_u", "_cb", "_ls")
    require(!emitted.contains(key),
      s"kaplanMeier emits/uses ${emitted.mkString(", ")}; rename '$key'")
    val dayMs = 86400000L
    val msCol = ms(col(ts))
    val guard = assert_true(msCol.isNull || msCol >= 0,
      concat(lit(s"kaplanMeier: '$ts' must be >= epoch (trunc vs floor " +
        "division diverge below zero); got ms="), msCol.cast("string")))
    val lives = df.filter(guard.isNull)
      .filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(dayMs))) / lit(dayMs)).cast("long")
          .as("_day"))
      .groupBy(col(key))
      .agg(min(col("_day")).as("_f"), max(col("_day")).as("_l"))
    val maxDay = lives.groupBy().agg(max(col("_l")).as("_mx")) // 1 row
    val steps = lives.crossJoin(broadcast(maxDay))
      .select(
        (col("_f") - pmod(col("_f"), lit(cohortDays.toLong)))
          .as("cohort_day"),
        (col("_l") - col("_f")).as("_dur"),
        when(col("_l") <= col("_mx") - churnGapDays.toLong, 1L)
          .otherwise(0L).as("_death"))
      .groupBy(col("cohort_day"), col("_dur"))
      .agg(sum(col("_death")).as("_d"), count(lit(1)).as("_u"))
    val byCohort = Window.partitionBy(col("cohort_day"))
    val ordered = byCohort.orderBy(col("_dur"))
    val prefixBefore = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val prefixThrough =
      ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qlog: Column => Column =
      c => floor(log(c.cast("double")) * 1000000d).cast("long")
    steps
      .withColumn("n_risk", sum(col("_u")).over(byCohort)
        - coalesce(sum(col("_u")).over(prefixBefore), lit(0L)))
      .withColumn("_ls", sum(
        when(col("_d") > 0 && col("n_risk") > col("_d"),
          qlog(col("n_risk") - col("_d")) - qlog(col("n_risk")))
          .otherwise(lit(0L))).over(prefixThrough))
      .filter(col("_d") > 0)
      .select(col("cohort_day"), col("_dur").as("dur_days"), col("n_risk"),
        col("_d").as("n_deaths"), (col("_u") - col("_d")).as("n_censored"),
        when(col("n_risk") > col("_d"), col("_ls")).as("logsurv_scaled"),
        when(col("n_risk") === col("_d"), lit(0d))
          .otherwise(floor(exp(col("_ls").cast("double") / 1000000d)
            * 1000000d) / 1000000d).as("survival"))
  }

  /** Nelson-Aalen cumulative hazard per cohort — kaplanMeier's additive
    * companion: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ estimates the cumulative RISK
    * directly (near-linear growth means a constant churn rate; bends
    * flag cohorts whose risk accelerates), and is the quantity a
    * proportional-hazards model reads. Same lifetime/censoring
    * construction as kaplanMeier (first/last activity days, deaths =
    * lifetimes ending a churn-gap before the corpus frontier); each step
    * enters as the exact BIGINT (dᵢ·10¹²) div nᵢ (truncating division,
    * identical on both engines) and the cumulative rides the same
    * cohort-partitioned prefix window over O(cohorts · durations) rows.
    * Emits one row per death step
    * (cohort_day, dur_days, n_risk, n_deaths, hazard_scaled,
    * cum_hazard). */
  def nelsonAalen(df: DataFrame, key: String, ts: String,
                  churnGapDays: Int, cohortDays: Int): DataFrame = {
    require(churnGapDays >= 1,
      s"churnGapDays must be >= 1, got $churnGapDays")
    require(cohortDays >= 1, s"cohortDays must be >= 1, got $cohortDays")
    val emitted = Seq("cohort_day", "dur_days", "n_risk", "n_deaths",
      "hazard_scaled", "cum_hazard",
      "_day", "_f", "_l", "_mx", "_dur", "_death", "_d", "_u", "_hz")
    require(!emitted.contains(key),
      s"nelsonAalen emits/uses ${emitted.mkString(", ")}; rename '$key'")
    val dayMs = 86400000L
    val msCol = ms(col(ts))
    val guard = assert_true(msCol.isNull || msCol >= 0,
      concat(lit(s"nelsonAalen: '$ts' must be >= epoch (trunc vs floor " +
        "division diverge below zero); got ms="), msCol.cast("string")))
    val lives = df.filter(guard.isNull)
      .filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(dayMs))) / lit(dayMs)).cast("long")
          .as("_day"))
      .groupBy(col(key))
      .agg(min(col("_day")).as("_f"), max(col("_day")).as("_l"))
    val maxDay = lives.groupBy().agg(max(col("_l")).as("_mx")) // 1 row
    val steps = lives.crossJoin(broadcast(maxDay))
      .select(
        (col("_f") - pmod(col("_f"), lit(cohortDays.toLong)))
          .as("cohort_day"),
        (col("_l") - col("_f")).as("_dur"),
        when(col("_l") <= col("_mx") - churnGapDays.toLong, 1L)
          .otherwise(0L).as("_death"))
      .groupBy(col("cohort_day"), col("_dur"))
      .agg(sum(col("_death")).as("_d"), count(lit(1)).as("_u"))
    val byCohort = Window.partitionBy(col("cohort_day"))
    val ordered = byCohort.orderBy(col("_dur"))
    val prefixBefore = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val prefixThrough =
      ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    steps
      .withColumn("n_risk", sum(col("_u")).over(byCohort)
        - coalesce(sum(col("_u")).over(prefixBefore), lit(0L)))
      .withColumn("_hz", sum(
        when(col("_d") > 0,
          expr("(_d * CAST(1000000000000 AS BIGINT)) div n_risk"))
          .otherwise(lit(0L))).over(prefixThrough))
      .filter(col("_d") > 0)
      .select(col("cohort_day"), col("_dur").as("dur_days"), col("n_risk"),
        col("_d").as("n_deaths"), col("_hz").as("hazard_scaled"),
        (col("_hz").cast("double") / 1000000000000d).as("cum_hazard"))
  }

  /** Additive seasonal decomposition (the classical moving-average
    * method; STL's deterministic ancestor) of each key's per-period
    * count series: value = trend + seasonal + residual. Trend is the
    * centered (2h+1)-row moving average (emitted only where the window
    * is FULL — a partial edge window would fake a trend); seasonal is
    * the per-slot mean of the detrended series re-centered to sum ~0
    * across slots (slot = period index % `period` — integer slots, no
    * calendar dependency); the residual is what an anomaly detector
    * should actually score (q_seasonal_outliers flags against a slot
    * baseline; this REMOVES trend first, so a ramp doesn't masquerade
    * as seasonality). All arithmetic exact: the moving sum and slot
    * sums are BIGINT, each mean is ONE truncating div to ppm, the
    * decomposition identity holds in ppm integers by construction
    * (residual := value·10⁶ − trend − seasonal). Shapes: one
    * key-PARTITIONED rows-window, one (key, slot) agg, one key agg,
    * two joins back — scale-clean; rows-windows assume the per-key
    * series is CONTIGUOUS on `idx` (build it from a dense grid;
    * gaps make the "centered" window lie). Emits
    * (key, idx, slot, n, trend_ppm, seasonal_ppm, residual_ppm) for
    * full-window rows. */
  def seasonalDecompose(df: DataFrame, key: String, idx: String,
                        value: String, period: Int, half: Int): DataFrame = {
    require(period >= 2, s"period must be >= 2, got $period")
    require(half >= 1, s"half must be >= 1, got $half")
    requireIntegralCols(df, Seq(idx, value), "seasonalDecompose")
    val emitted = Seq("slot", "trend_ppm", "seasonal_ppm",
      "residual_ppm", "_w", "_cnt", "_det", "_sraw", "_scnt", "_ssum",
      "_savg", "_k", "_n")
    val clash = Seq(key, idx, value).filter(emitted.contains)
    require(clash.isEmpty,
      s"seasonalDecompose emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    val span = 2 * half + 1
    val w = Window.partitionBy(col(key)).orderBy(col(idx))
      .rowsBetween(-half, half)
    val trended = df
      .filter(col(key).isNotNull && col(idx).isNotNull
        && col(value).isNotNull)
      .withColumn("_w", sum(col(value)).over(w))
      .withColumn("_cnt", count(lit(1)).over(w))
      .filter(col("_cnt") === span)
      .withColumn("trend_ppm",
        expr(s"(_w * CAST(1000000 AS BIGINT)) div $span"))
      .withColumn("_det",
        col(value) * 1000000L - col("trend_ppm"))
      .localCheckpoint(true) // shared: slot means and the output join
    val slot = pmod(col(idx), lit(period.toLong))
    val bySlot = trended.groupBy(col(key).as("_k"), slot.as("slot"))
      .agg(sum(col("_det")).as("_ssum"), count(lit(1)).as("_scnt"))
      .withColumn("_sraw", expr("_ssum div _scnt"))
      .localCheckpoint(true) // shared: the key-mean and the slot join
    val byKey = bySlot.groupBy(col("_k"))
      .agg(sum(col("_sraw")).as("_savg"), count(lit(1)).as("_n"))
      .select(col("_k"), expr("_savg div _n").as("_savg"))
    val seasonal = bySlot.join(byKey, Seq("_k"))
      .select(col("_k"), col("slot"),
        (col("_sraw") - col("_savg")).as("seasonal_ppm"))
    val out = trended.withColumn("slot", slot)
    out.join(seasonal,
        out(key) === seasonal("_k") && out("slot") === seasonal("slot"))
      .select(out(key), out(idx), out("slot"),
        out(value), col("trend_ppm"), col("seasonal_ppm"),
        (col("_det") - col("seasonal_ppm")).as("residual_ppm"))
  }

  /** Two-sample log-rank test (Mantel 1966) — "do these two cohorts CHURN
    * DIFFERENTLY?", answered over the whole survival curve instead of one
    * moment: at every pooled death time t, compare group A's observed
    * deaths d_At against its at-risk-share expectation E_At = d_t·n_At/n_t
    * and accumulate (O−E) with the hypergeometric variance
    * V_t = d_t·n_At·n_Bt·(n_t−d_t) / (n_t²·(n_t−1)); the statistic
    * (ΣO−E)²/ΣV is χ²₁ under H₀. This is THE standard A/B read-out for
    * retention experiments — kaplanMeier/nelsonAalen draw each arm's
    * curve, this one row says whether the curves differ. Lifetime and
    * censoring construction is kaplanMeier's verbatim (first/last
    * activity days, death = ending a churn-gap before the corpus
    * frontier; censorings at t stay at risk AT t — deaths-first, the KM
    * convention). Exactness: per-time O−E and V enter as ppm integers by
    * truncating div in decimal(38,0) (n⁴·10⁶ passes int64 at corpus
    * scale), the fold is an exact integer sum, and the final statistic
    * is one decimal div — no float anywhere. The pooled time grid rides
    * the distributed orderedPrefixSum (never an unpartitioned window).
    * NULL statistic when ΣV = 0 (no death time mixes both groups —
    * undefined, not "identical"). Emits one row (n_a, n_b,
    * n_death_times, oe_sum_ppm, var_sum_ppm, logrank_ppm). */
  def logRankTest(df: DataFrame, key: String, ts: String, armA: Column,
                  churnGapDays: Int): DataFrame = {
    require(churnGapDays >= 1,
      s"churnGapDays must be >= 1, got $churnGapDays")
    val emitted = Seq("n_a", "n_b", "n_death_times", "oe_sum_ppm",
      "var_sum_ppm", "logrank_ppm", "_day", "_f", "_l", "_mx", "_dur",
      "_death", "_a", "_ua", "_ub", "_da", "_db", "_ca", "_cb")
    require(!emitted.contains(key),
      s"logRankTest emits/uses ${emitted.mkString(", ")}; rename '$key'")
    val dayMs = 86400000L
    val msCol = ms(col(ts))
    val guard = assert_true(msCol.isNull || msCol >= 0,
      concat(lit(s"logRankTest: '$ts' must be >= epoch (trunc vs floor " +
        "division diverge below zero); got ms="), msCol.cast("string")))
    val lives = df.filter(guard.isNull)
      .filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(dayMs))) / lit(dayMs)).cast("long")
          .as("_day"))
      .groupBy(col(key))
      .agg(min(col("_day")).as("_f"), max(col("_day")).as("_l"))
    val maxDay = lives.groupBy().agg(max(col("_l")).as("_mx")) // 1 row
    val perUser = lives.crossJoin(broadcast(maxDay))
      .select(armA.as("_a"), (col("_l") - col("_f")).as("_dur"),
        when(col("_l") <= col("_mx") - churnGapDays.toLong, 1L)
          .otherwise(0L).as("_death"))
      .filter(col("_a").isNotNull)
    val byDur = perUser.groupBy(col("_dur"))
      .agg(sum(when(col("_a"), 1L).otherwise(0L)).as("_ua"),
        sum(when(!col("_a"), 1L).otherwise(0L)).as("_ub"),
        sum(when(col("_a") && col("_death") === 1L, 1L).otherwise(0L))
          .as("_da"),
        sum(when(!col("_a") && col("_death") === 1L, 1L).otherwise(0L))
          .as("_db"))
      .localCheckpoint(true) // shared: the totals row and the prefix scan
    val tot = byDur.agg(sum(col("_ua")).as("n_a"), sum(col("_ub")).as("n_b"))
    val cum = orderedPrefixSum(
      orderedPrefixSum(byDur, col("_dur"), "_dur", "_ua", "_ca"),
      col("_dur"), "_dur", "_ub", "_cb")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val ra = col("n_a") - (col("_ca") - col("_ua"))
    val rb = col("n_b") - (col("_cb") - col("_ub"))
    val rt = ra + rb
    val dt = col("_da") + col("_db")
    val oe = dec(col("_da")) * dec(lit(1000000L)) -
      expr("(CAST((_da + _db) AS DECIMAL(38,0)) * CAST(_ra AS DECIMAL(38,0))"
        + " * 1000000) div CAST(_rt AS DECIMAL(38,0))")
    val vt = when(col("_rt") > 1L,
      expr("(CAST((_da + _db) AS DECIMAL(38,0)) * CAST(_ra AS DECIMAL(38,0))"
        + " * CAST(_rb AS DECIMAL(38,0))"
        + " * CAST((_rt - _da - _db) AS DECIMAL(38,0)) * 1000000)"
        + " div (CAST(_rt AS DECIMAL(38,0)) * CAST(_rt AS DECIMAL(38,0))"
        + " * CAST((_rt - 1) AS DECIMAL(38,0)))"))
      .otherwise(dec(lit(0L)))
    cum.crossJoin(broadcast(tot))
      .withColumn("_ra", ra).withColumn("_rb", rb).withColumn("_rt", rt)
      .filter(dt > 0L)
      .groupBy(col("n_a"), col("n_b"))
      .agg(count(lit(1)).as("n_death_times"),
        sum(oe).as("_oe"), sum(vt).as("_v"))
      .select(col("n_a"), col("n_b"), col("n_death_times"),
        col("_oe").cast("long").as("oe_sum_ppm"),
        col("_v").cast("long").as("var_sum_ppm"),
        when(col("_v") > 0, expr("(_oe * _oe) div _v").cast("long"))
          .as("logrank_ppm"))
  }

  /** Restricted-mean-survival-time difference (Royston & Parmar 2013) —
    * logRankTest says WHETHER two cohorts' churn curves differ; this
    * says BY HOW MUCH, in days: RMST(τ) = ∫₀^τ S(t)dt is the expected
    * days survived out of the first τ, and the arm difference is the
    * effect size a retention experiment actually reports ("treatment
    * kept users 1.8 days longer out of 30"). Per arm, the KM curve is
    * kaplanMeier's verbatim (same lifetimes, censoring, qlog product →
    * floor-quantized S_scaled integers, zero after extinction via a
    * prefix-min guard), and the integral is EXACT integer area over the
    * step function: head segment min(t₁,τ)·10⁶ plus
    * Σ (min(t_{i+1},τ) − min(tᵢ,τ))·S_scaled(tᵢ) — no float enters the
    * area. An arm with no death step inside τ has RMST = τ·10⁶. Windows
    * are ARM-partitioned (two partitions of O(durations) rows — the
    * kaplanMeier cohort-window shape). Emits one row (n_a, n_b,
    * rmst_a_scaled, rmst_b_scaled, diff_scaled) in day·ppm units. */
  def rmstDiff(df: DataFrame, key: String, ts: String, armA: Column,
               churnGapDays: Int, tauDays: Long): DataFrame = {
    require(churnGapDays >= 1,
      s"churnGapDays must be >= 1, got $churnGapDays")
    require(tauDays >= 1, s"tauDays must be >= 1, got $tauDays")
    val emitted = Seq("n_a", "n_b", "rmst_a_scaled", "rmst_b_scaled",
      "diff_scaled", "_day", "_f", "_l", "_mx", "_dur", "_death", "_a",
      "_d", "_u", "_nr", "_ls", "_alive", "_s", "_nx", "_seg", "_t1",
      "_n", "_area")
    require(!emitted.contains(key),
      s"rmstDiff emits/uses ${emitted.mkString(", ")}; rename '$key'")
    val dayMs = 86400000L
    val msCol = ms(col(ts))
    val guard = assert_true(msCol.isNull || msCol >= 0,
      concat(lit(s"rmstDiff: '$ts' must be >= epoch (trunc vs floor " +
        "division diverge below zero); got ms="), msCol.cast("string")))
    val lives = df.filter(guard.isNull)
      .filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(dayMs))) / lit(dayMs)).cast("long")
          .as("_day"))
      .groupBy(col(key))
      .agg(min(col("_day")).as("_f"), max(col("_day")).as("_l"))
    val maxDay = lives.groupBy().agg(max(col("_l")).as("_mx")) // 1 row
    val perUser = lives.crossJoin(broadcast(maxDay))
      .select(armA.as("_a"), (col("_l") - col("_f")).as("_dur"),
        when(col("_l") <= col("_mx") - churnGapDays.toLong, 1L)
          .otherwise(0L).as("_death"))
      .filter(col("_a").isNotNull)
    val steps = perUser.groupBy(col("_a"), col("_dur"))
      .agg(sum(col("_death")).as("_d"), count(lit(1)).as("_u"))
      .localCheckpoint(true) // shared: arm totals and the curve walk
    val byArm = Window.partitionBy(col("_a"))
    val ordered = byArm.orderBy(col("_dur"))
    val prefixBefore = ordered.rowsBetween(Window.unboundedPreceding, -1)
    val prefixThrough =
      ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val qlog: Column => Column =
      c => floor(log(c.cast("double")) * 1000000d).cast("long")
    val curve = steps
      .withColumn("_nr", sum(col("_u")).over(byArm)
        - coalesce(sum(col("_u")).over(prefixBefore), lit(0L)))
      .withColumn("_ls", sum(
        when(col("_d") > 0 && col("_nr") > col("_d"),
          qlog(col("_nr") - col("_d")) - qlog(col("_nr")))
          .otherwise(lit(0L))).over(prefixThrough))
      .withColumn("_alive",
        min(when(col("_d") > 0, col("_nr") - col("_d")))
          .over(prefixThrough))
      .filter(col("_d") > 0)
      .withColumn("_s",
        when(col("_alive") === 0L, lit(0L))
          .otherwise(floor(exp(col("_ls").cast("double") / 1000000d)
            * 1000000d).cast("long")))
      .withColumn("_nx",
        coalesce(lead(col("_dur"), 1).over(ordered), lit(tauDays)))
      .withColumn("_seg",
        (least(col("_nx"), lit(tauDays)) - least(col("_dur"), lit(tauDays)))
          * col("_s"))
    val areas = curve.groupBy(col("_a"))
      .agg((least(min(col("_dur")), lit(tauDays)) * 1000000L
        + sum(col("_seg"))).as("_area"))
    val tots = perUser.groupBy(col("_a"))
      .agg(count(lit(1)).as("_n"))
    val both = tots.join(areas, Seq("_a"), "left")
      .select(col("_a"), col("_n"),
        coalesce(col("_area"), lit(tauDays * 1000000L)).as("_area"))
    both.filter(col("_a")).select(col("_n").as("n_a"),
        col("_area").as("rmst_a_scaled"))
      .crossJoin(broadcast(both.filter(!col("_a"))
        .select(col("_n").as("n_b"), col("_area").as("rmst_b_scaled"))))
      .select(col("n_a"), col("n_b"), col("rmst_a_scaled"),
        col("rmst_b_scaled"),
        (col("rmst_a_scaled") - col("rmst_b_scaled")).as("diff_scaled"))
  }

  /** Lorenz curve points — the distribution behind the Gini number:
    * walking entities from poorest to richest, what share of the
    * population holds what share of the value ("the top 10% of users
    * drive 83% of spend" read off directly; giniSpend compresses this
    * to one number, the curve shows WHERE the concentration lives).
    * One point per DISTINCT entity value: x = cumulative population
    * share, y = cumulative value share. Exactness: per-value counts and
    * cents sums are exact int64; both cumulatives ride the bucketed
    * distributed prefix scan (no unpartitioned window at any scale);
    * each share is ONE trunc6'd division by a broadcast total. Input is
    * one row per entity with its integral value (aggregate per entity
    * upstream); negative values fail loud (a Lorenz curve over mixed
    * signs is undefined). Emits
    * (value, n_entities, cum_entities, cum_value, pop_share,
    * value_share), ascending in `value`. */
  def lorenzCurve(df: DataFrame, value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"lorenzCurve accumulates '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("n_entities", "cum_entities", "cum_value",
      "pop_share", "value_share", "_v", "_n", "_s", "_tn", "_ts")
    require(!df.columns.exists(emitted.contains),
      s"lorenzCurve emits/uses ${emitted.mkString(", ")}; rename inputs")
    val guard = assert_true(col(value) >= 0,
      concat(lit("lorenzCurve: negative value (the curve is undefined " +
        "over mixed signs); got "), col(value).cast("string")))
    val byValue = df.filter(col(value).isNotNull).filter(guard.isNull)
      .groupBy(col(value).cast("long").as("_v"))
      .agg(count(lit(1)).as("_n"), sum(col(value).cast("long")).as("_s"))
    val cum = orderedPrefixSum(
      orderedPrefixSum(byValue, col("_v"), "_v", "_n", "cum_entities"),
      col("_v"), "_v", "_s", "cum_value")
    val totals = byValue.groupBy()
      .agg(coalesce(sum(col("_n")), lit(0L)).as("_tn"),
        coalesce(sum(col("_s")), lit(0L)).as("_ts")) // 1 row
    cum.crossJoin(broadcast(totals))
      .select(col("_v").as(value), col("_n").as("n_entities"),
        col("cum_entities"), col("cum_value"),
        (floor(col("cum_entities").cast("double")
           / col("_tn").cast("double") * 1000000d) / 1000000d)
          .as("pop_share"),
        when(col("_ts") > 0L,
          floor(col("cum_value").cast("double")
            / col("_ts").cast("double") * 1000000d) / 1000000d)
          .as("value_share"))
  }

  /** Cohort cumulative-value (LTV) curves — retentionCohorts' revenue
    * companion: for each cohort (keys sharing a first-spend grain), the
    * exact per-age spend and its running total, the "how much has the
    * March cohort produced by day 30" curve. Exactness: values truncate
    * to cents at the scan (floor(v·100), the exactSumFloor convention),
    * every later step — period sums, the cumulative — is int64, and the
    * only float op is the final cents→currency division by 100
    * (correctly rounded, identical everywhere). Shape: one keyed
    * first-grain agg joined back ON THE KEY (co-partitioned), one
    * (cohort, age) agg, one cohort-partitioned window over the O(cohorts
    * × ages) agg rows — the window never sees raw events. Ages with no
    * spend emit no row (the cumulative is still correct at every present
    * age). Keys enter at their first non-NULL-value event; NULL
    * ts/value rows drop. Emits (cohort, age, period_cents, cum_cents,
    * cum_value). Same >= epoch guard as retentionCohorts. */
  def cohortValueCurve(df: DataFrame, key: String, ts: String, value: String,
                       grainMs: Long): DataFrame = {
    require(grainMs > 0, s"grainMs must be positive, got $grainMs")
    val emitted = Seq("cohort", "age", "period_cents", "cum_cents",
      "cum_value", "_day", "_c")
    require(!emitted.contains(key),
      s"cohortValueCurve emits ${emitted.mkString(", ")}; rename '$key'")
    val msCol = ms(col(ts))
    val guard = assert_true(msCol.isNull || msCol >= 0,
      concat(lit(s"cohortValueCurve: '$ts' must be >= epoch (trunc vs " +
        "floor division diverge below zero); got ms="),
        msCol.cast("string")))
    val ev = df.filter(guard.isNull)
      .filter(col(ts).isNotNull && col(value).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(grainMs))) / lit(grainMs))
          .cast("long").as("_day"),
        floor(col(value) * 100).cast("long").as("_c"))
    val first = ev.groupBy(col(key)).agg(min(col("_day")).as("cohort"))
    val period = ev.join(first, Seq(key))
      .groupBy(col("cohort"), (col("_day") - col("cohort")).as("age"))
      .agg(sum(col("_c")).as("period_cents"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    period
      .withColumn("cum_cents", sum(col("period_cents")).over(w))
      .withColumn("cum_value", col("cum_cents").cast("double") / lit(100d))
  }

  /** Per-group least-squares line (slope + intercept) over integral
    * columns — the trend diagnostic next to exactCorr (is token count
    * growing per char across a corpus slice?), deterministic the same way:
    * exact decimal moment sums, then one fixed double formula. Same
    * contract: pairwise NULL exclusion, zero-variance groups yield NULL,
    * integral inputs required. One partial-agg'd shuffle, O(groups) out. */
  def exactRegression(df: DataFrame, group: String, x: String,
                      y: String): DataFrame = {
    val stats = momentSums(df, group, x, y, withSyy = false, "exactRegression")
    val va = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val slope = (col("_n") * col("_sxy") - col("_sx") * col("_sy")) / va
    val intercept = (col("_sy") - slope * col("_sx")) / col("_n")
    stats.select(col(group), col("_n").cast("long").as("n"),
      when(va > 0, floor(slope * 1000000d) / 1000000d).as("slope"),
      when(va > 0, floor(intercept * 1000000d) / 1000000d).as("intercept"))
  }

  /** Two-regressor least squares per group — y = b0 + b1·x1 + b2·x2 via
    * the normal equations, the "does x1 still matter once x2 is
    * controlled for?" question simple regression cannot answer (price on
    * quantity controlling for discount). Same determinism contract as
    * exactCorr: the NINE moment sums accumulate EXACTLY (decimal sums of
    * int64 products — order-independent under any partitioning), then a
    * fixed double chain — Cramer's rule on the 3×3 Gram determinant,
    * every ±,*,/ correctly rounded over identical operands in identical
    * order, mirrored operand-for-operand in the oracle, trunc6'd — so
    * results are bit-identical on any engine/partitioning. One
    * partial-agg'd keyed shuffle, O(groups) output. Pairwise-non-NULL
    * rows only (a NULL in ANY of the three columns drops the row);
    * groups whose Gram determinant is ≤ 0 (collinear or degenerate
    * regressors, n < 3) emit NULL coefficients; zero-variance y emits
    * NULL r2. Inputs integral with per-group moment sums (incl. Σx²,
    * Σy²) under 10^38 — pre-scale epoch-sized columns; ANSI fails loud.
    * Emits (group, n, b0, b1, b2, r2). */
  def exactRegression2(df: DataFrame, group: String, y: String,
                       x1: String, x2: String): DataFrame = {
    requireIntegralCols(df, Seq(y, x1, x2), "exactRegression2")
    val emitted = Seq("n", "b0", "b1", "b2", "r2")
    require(!emitted.contains(group),
      s"exactRegression2 emits ${emitted.mkString(", ")}; rename the " +
        "group column")
    val all = col(y).isNotNull && col(x1).isNotNull && col(x2).isNotNull
    val (yd, x1d, x2d) = (col(y).cast("decimal(19,0)"),
      col(x1).cast("decimal(19,0)"), col(x2).cast("decimal(19,0)"))
    val stats = df.filter(all).groupBy(col(group)).agg(
      count(lit(1)).cast("double").as("_n"),
      sum(x1d).cast("double").as("_s1"),
      sum(x2d).cast("double").as("_s2"),
      sum(yd).cast("double").as("_sy"),
      sum(x1d * x1d).cast("double").as("_s11"),
      sum(x1d * x2d).cast("double").as("_s12"),
      sum(x2d * x2d).cast("double").as("_s22"),
      sum(x1d * yd).cast("double").as("_s1y"),
      sum(x2d * yd).cast("double").as("_s2y"),
      sum(yd * yd).cast("double").as("_syy"))
    // 3×3 determinant, fixed expansion order — mirrored in the oracle
    def det3(a: Column, b: Column, c: Column, d: Column, e: Column,
             f: Column, g: Column, h: Column, i: Column): Column =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val (n, s1, s2, sy) = (col("_n"), col("_s1"), col("_s2"), col("_sy"))
    val (s11, s12, s22) = (col("_s11"), col("_s12"), col("_s22"))
    val (s1y, s2y, syy) = (col("_s1y"), col("_s2y"), col("_syy"))
    val dd = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val d0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22)
    val d1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22)
    val d2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y)
    val (b0, b1, b2) = (d0 / dd, d1 / dd, d2 / dd)
    val sst = syy - sy * sy / n
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    def t6(c: Column) = floor(c * 1000000d) / 1000000d
    stats.select(col(group), n.cast("long").as("n"),
      when(dd > 0d, t6(b0)).as("b0"),
      when(dd > 0d, t6(b1)).as("b1"),
      when(dd > 0d, t6(b2)).as("b2"),
      when(dd > 0d && sst > 0d, t6(lit(1.0d) - sse / sst)).as("r2"))
  }

  /** Robust per-group outlier flags via median/MAD — the curation filter
    * that survives the heavy-tailed distributions mean/stddev z-scores
    * drown in: robust_z = 0.6745 · (x − median) / MAD, flagged when
    * |robust_z| > cutoff. Two grouped exact-percentile aggregates
    * (O(groups) rows each, broadcast back by AQE) + a pure map stage.
    * A zero MAD (≥ half the group at the median) yields NULL z and never
    * flags — the standard convention, stated rather than implied. Exact
    * `percentile` buffers a count-map per group; for value domains too
    * large for that (unbounded doubles at corpus scale), use
    * robustOutliersApprox below — same join/map shape, fixed-size
    * sketches, with robustOutliersChecked as its bound form. Cross-engine
    * reproducibility note: percentile INTERPOLATION formulas may differ by
    * an ulp between engines on fractional inputs; feeding integer-valued
    * measures (q_outliers scales money to cents) makes every interpolation
    * intermediate exactly representable, so medians — and therefore z —
    * are bit-identical everywhere. */
  def robustOutliers(df: DataFrame, group: String, value: String,
                     cutoff: Double): DataFrame = {
    val internal = Seq("_med", "_mad", "robust_z", "is_outlier")
    val clash = df.columns.intersect(internal)
    require(clash.isEmpty,
      s"robustOutliers uses ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    val med = df.groupBy(col(group))
      .agg(percentile(col(value), lit(0.5)).as("_med"))
    val withMed = df.join(med, Seq(group))
    val mad = withMed.groupBy(col(group))
      .agg(percentile(abs(col(value) - col("_med")), lit(0.5)).as("_mad"))
    val z = lit(0.6745) * (col(value) - col("_med")) / col("_mad")
    withMed.join(mad, Seq(group))
      .withColumn("robust_z",
        when(col("_mad") > 0, floor(z * 1000000d) / 1000000d))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > cutoff, lit(false)))
      .drop("_med", "_mad")
  }

  /** The 100 TB twin of robustOutliers: median and MAD come from
    * approx_percentile's fixed-size KLL-style sketch, which merges
    * map-side — O(groups) sketches cross each shuffle no matter how many
    * DISTINCT values the column holds, where exact `percentile` buffers a
    * per-group count-map (fine for cents-scaled money, unbounded for raw
    * double telemetry). Join/map shape is identical to robustOutliers.
    * Sketch estimates are engine-specific, so the registered query is the
    * `robustOutliersChecked` bound form — this per-row twin is the
    * production operator. */
  def robustOutliersApprox(df: DataFrame, group: String, value: String,
                           cutoff: Double, accuracy: Int = 10000): DataFrame = {
    val internal = Seq("_med", "_mad", "robust_z", "is_outlier")
    val clash = df.columns.intersect(internal)
    require(clash.isEmpty,
      s"robustOutliersApprox uses ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    val med = df.groupBy(col(group))
      .agg(approx_percentile(col(value), lit(0.5), lit(accuracy)).as("_med"))
    val withMed = df.join(med, Seq(group))
    val mad = withMed.groupBy(col(group))
      .agg(approx_percentile(abs(col(value) - col("_med")), lit(0.5),
        lit(accuracy)).as("_mad"))
    val z = lit(0.6745) * (col(value) - col("_med")) / col("_mad")
    withMed.join(mad, Seq(group))
      .withColumn("robust_z",
        when(col("_mad") > 0, floor(z * 1000000d) / 1000000d))
      .withColumn("is_outlier",
        coalesce(abs(col("robust_z")) > cutoff, lit(false)))
      .drop("_med", "_mad")
  }

  /** Oracle-checkable form of the sketch outlier profile: per group, the
    * EXACT median and MAD (engine-independent with integer-valued inputs —
    * see robustOutliers) plus ONE boolean attesting that BOTH sketch
    * estimates honor approx_percentile's guaranteed rank window, the same
    * rank-interval argument as quantileProfileChecked (rank, not value, is
    * the only provable currency). Subtlety the MAD check must respect: the
    * sketch MAD is the median of |x − med_SKETCH|, so its rank interval is
    * counted over THAT deviation distribution — not |x − exact median| —
    * because the sketch's contract binds to its own input. The estimates
    * never leave the engine; only exact percentiles and the verdict do, so
    * a SQL oracle computing the exact side hash-matches the whole row.
    * Cost: three aggregate passes (estimate, estimate+exact+med-ranks,
    * exact-MAD+mad-ranks) with O(groups) broadcasts between — a
    * verification query, not the production profile. */
  def robustOutliersChecked(df: DataFrame, group: String, value: String,
                            accuracy: Int = 10000): DataFrame = {
    val internal = Seq("_g1", "_g2", "_med_est", "_mad_est", "_med_exact",
      "_nv", "_med_lt", "_med_le", "_nd", "_mad_lt", "_mad_le")
    val clash = df.columns.intersect(internal ++ Seq("n", "med", "mad",
      "within_bound"))
    require(clash.isEmpty,
      s"robustOutliersChecked reserves ${clash.mkString(", ")}; rename first")
    val estMed = df.groupBy(col(group))
      .agg(approx_percentile(col(value), lit(0.5), lit(accuracy))
        .as("_med_est"))
    // null-safe keys throughout: a NULL group survives like any other
    val second = df
      .join(broadcast(estMed.withColumnRenamed(group, "_g1")),
        col(group) <=> col("_g1"))
      .groupBy(col(group))
      .agg(
        count(lit(1)).as("n"),
        count(col(value)).as("_nv"),
        (floor(percentile(col(value), lit(0.5)) * 1e6) / 1e6).as("med"),
        percentile(col(value), lit(0.5)).as("_med_exact"),
        max(col("_med_est")).as("_med_est"),
        approx_percentile(abs(col(value) - col("_med_est")), lit(0.5),
          lit(accuracy)).as("_mad_est"),
        sum(when(col(value) < col("_med_est"), 1L).otherwise(0L)).as("_med_lt"),
        sum(when(col(value) <= col("_med_est"), 1L).otherwise(0L)).as("_med_le"))
    val dev = abs(col(value) - col("_med_est"))
    val third = df
      .join(broadcast(second.select(col(group).as("_g2"), col("_med_est"),
        col("_mad_est"), col("_med_exact"))), col(group) <=> col("_g2"))
      .groupBy(col(group))
      .agg(
        (floor(percentile(abs(col(value) - col("_med_exact")), lit(0.5))
          * 1e6) / 1e6).as("mad"),
        count(dev).as("_nd"),
        sum(when(dev < col("_mad_est"), 1L).otherwise(0L)).as("_mad_lt"),
        sum(when(dev <= col("_mad_est"), 1L).otherwise(0L)).as("_mad_le"))
    def bound(lt: Column, le: Column, nv: Column): Column = {
      val target = nv * lit(0.5)
      val tol = nv / lit(accuracy.toDouble) + lit(1.0)
      (lt + 1 <= target + tol) && (le >= target - tol)
    }
    second.join(third.withColumnRenamed(group, "_g2"),
        col(group) <=> col("_g2"))
      .select(col(group), col("n"), col("med"), col("mad"),
        (bound(col("_med_lt"), col("_med_le"), col("_nv")) &&
          bound(col("_mad_lt"), col("_mad_le"), col("_nd")))
          .as("within_bound"))
  }

  /** Per-key ordered event sequence — the "user journey" extraction that
    * turns an event log into training sequences: each key's first
    * `maxEvents` payload values in (ts, tiebreak) order, joined into one
    * separator-delimited string (a string, not an array, so the output is
    * byte-identical on any engine — array rendering is not). The
    * row_number + filter pair compiles to WindowGroupLimit: each task keeps
    * at most `maxEvents` rows per key BEFORE the exchange, so a hot key
    * ships `maxEvents` rows, not its history. One keyed shuffle total (the
    * groupBy lands on the window's partitioning, so AQE reuses the
    * exchange). The payload must not contain the separator — require()d
    * against the corpus is the caller's job; the default '>' suits
    * enum-like event types. NULL payload values are omitted from the
    * string by concat_ws while still counting toward n_events and the
    * cap — filter them upstream if the journey must be positionally
    * aligned with the count. */
  def eventSequence(df: DataFrame, key: String, ts: String, tiebreak: String,
                    payload: String, maxEvents: Int,
                    sep: String = ">"): DataFrame = {
    require(maxEvents >= 1, s"maxEvents must be >= 1, got $maxEvents")
    require(!df.columns.contains("rn"),
      "eventSequence emits an internal 'rn' column; rename the input's first")
    // NULLS LAST: cross-engine rank parity if ts is ever NULL (see
    // rankNormalize)
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc_nulls_last, col(tiebreak))
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxEvents)
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_events"),
        concat_ws(sep,
          transform(array_sort(collect_list(struct(col("rn"), col(payload)))),
            x => x.getField(payload))).as("journey"))
  }

  /** Per-key journey pattern flag: eventSequence's ordered payload string
    * tested against a regex — funnel questions that ORDER makes ("did a
    * view EVENTUALLY lead to a purchase?") where set-membership filters
    * cannot. Same plan as eventSequence (WindowGroupLimit caps hot keys
    * before the one keyed exchange) plus a codegen'd regexp per KEY (one
    * bounded string each, not per event). Keep the pattern to the
    * regex-common core (literals, `.` `*` `+` `[...]` alternation):
    * Spark matches with Java regex, other engines may use RE2 — exotic
    * constructs (backreferences, lookahead) are where they diverge.
    * Emits (key, n_events, journey, matched). */
  def journeyPattern(df: DataFrame, key: String, ts: String, tiebreak: String,
                     payload: String, maxEvents: Int, pattern: String,
                     sep: String = ">"): DataFrame = {
    require(pattern.nonEmpty, "journeyPattern needs a non-empty pattern")
    eventSequence(df, key, ts, tiebreak, payload, maxEvents, sep)
      .withColumn("matched", col("journey").rlike(pattern))
  }

  /** Trailing-window distinct actives per day (rolling WAU/MAU): for each
    * day, how many distinct keys were active in the previous `windowDays`
    * days — the engagement headline a plain daily-distinct misses. The
    * sliding distinct is rewritten as a BOUNDED EXPLOSION: dedupe to the
    * (key, day) grid, then each active day contributes its key to the
    * `windowDays` report days it falls inside — expansion factor is
    * exactly the window width (7 for WAU, 30 for MAU), a constant, after
    * which one distinct-count agg finishes it. No window function at all,
    * so no per-key sort and no state proportional to the window span;
    * every stage after the first distinct is O(active-days × windowDays).
    * All integer day arithmetic. Report days within windowDays after the
    * last activity still appear (the trailing window legitimately covers
    * them — the curve decays to zero rather than stopping mid-air). Emits
    * (day, n_active_trailing). NULL key/ts rows drop. */
  def rollingActiveUsers(df: DataFrame, key: String, ts: String,
                         windowDays: Int,
                         dayMs: Long = 86400000L): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    require(dayMs > 0, s"dayMs must be positive, got $dayMs")
    val emitted = Seq("day", "n_active_trailing", "_day")
    require(!emitted.contains(key),
      s"rollingActiveUsers emits/uses ${emitted.mkString(", ")}; rename '$key'")
    val msCol = ms(col(ts))
    df.filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(dayMs))) / lit(dayMs)).cast("long")
          .as("_day"))
      .distinct()
      .select(col(key),
        explode(sequence(col("_day"), col("_day") + (windowDays - 1)))
          .as("day"))
      .groupBy(col("day"))
      .agg(count_distinct(col(key)).as("n_active_trailing"))
  }

  /** Per-key longest run of CONSECUTIVE active days (streaks) — the
    * engagement shape (retention dashboards, habit metrics) that a plain
    * active-day count hides. Gaps-and-islands with the integer trick:
    * after deduplicating to (key, day), day − row_number() is CONSTANT
    * within a consecutive run and distinct across runs — all int64
    * arithmetic, no float, engine-exact by construction. Shuffles: one
    * distinct agg to the (key, day) grid (the only row-count-sized
    * stage), one keyed window (row_number), two keyed aggs that reuse its
    * partitioning. A key's rows after the distinct are its ACTIVE DAYS —
    * bounded by the calendar, not the event volume, so the window sort is
    * safe even for a key with a billion events. Emits (key,
    * n_active_days, n_streaks, longest_streak). NULL ts rows drop. */
  def longestStreak(df: DataFrame, key: String, ts: String,
                    dayMs: Long = 86400000L): DataFrame = {
    require(dayMs > 0, s"dayMs must be positive, got $dayMs")
    val emitted = Seq("n_active_days", "n_streaks", "longest_streak",
      "_day", "_isl", "_len")
    require(!emitted.exists(df.columns.contains),
      s"longestStreak emits/uses ${emitted.mkString(", ")}; rename inputs")
    val msCol = ms(col(ts))
    val days = df.filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key),
        ((msCol - pmod(msCol, lit(dayMs))) / lit(dayMs)).cast("long")
          .as("_day"))
      .distinct()
    val w = Window.partitionBy(col(key)).orderBy(col("_day"))
    days
      .withColumn("_isl", col("_day") - row_number().over(w))
      .groupBy(col(key), col("_isl")).agg(count(lit(1)).as("_len"))
      .groupBy(col(key))
      .agg(sum(col("_len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("_len")).as("longest_streak"))
  }

  /** Skew-hardened inner equi-join: a plain hash join sends every row of a
    * hot key to one task; AQE's skew-join split fixes this for sort-merge
    * joins it can re-plan, but not when the skewed stage is pinned (cached
    * input, streaming foreachBatch, or a non-splittable partition). This is
    * the explicit fallback: the left (big, skewed) side gets a deterministic
    * salt in [0, salts) from md5 of its `rowTag` column, the right side is
    * replicated ×salts with every salt value, and the join key becomes
    * (key, salt) — a hot key now spreads over `salts` tasks. Replication
    * multiplies the right side, so it suits joins whose right side is small
    * enough to replicate but too big (or too pinned) to broadcast. Inner
    * join only; emits exactly the plain join's rows (PropertySpec). */
  def saltedJoin(left: DataFrame, right: DataFrame,
                 leftKey: String, rightKey: String,
                 rowTag: String, salts: Int): DataFrame = {
    require(salts >= 1, s"salts must be >= 1, got $salts")
    require(!(left.columns ++ right.columns).contains("_salt"),
      "saltedJoin uses an internal '_salt' column; rename the input's first")
    val l = left.withColumn("_salt",
      pmod(graft.expressions.Md5Expressions.md5Int(col(rowTag).cast("string")),
        lit(salts)))
    val r = right.withColumn("_salt", explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, l(leftKey) === r(rightKey) && l("_salt") === r("_salt"))
      .drop(l("_salt")).drop(r("_salt"))
  }

  /** Per-event trailing range-window features — the feature-engineering step
    * of a behavioral pipeline ("this user's event count / value sum over the
    * last N seconds, as of each event"). One hash exchange on the key plus a
    * per-partition sort, shared by every requested window width; sums run in
    * decimal so the result is identical under any within-frame order (ties
    * at one timestamp are peers of a RANGE frame — both engines include the
    * whole peer group, and decimal addition makes the total order-proof).
    * Skew note: one partition per key value, like every keyed window — salt
    * via the prefix-scan pattern (SCALE.md) if a key dominates. */
  def rollingFeatures(df: DataFrame, key: String, ts: String, value: String,
                      windowsSec: Seq[Int]): DataFrame = {
    require(windowsSec.nonEmpty && windowsSec.forall(_ >= 1),
      s"window widths must be >= 1s, got $windowsSec")
    val emitted = windowsSec.flatMap(w => Seq(s"cnt_${w}s", s"sum_${w}s"))
    val clash = df.columns.intersect(emitted)
    require(clash.isEmpty,
      s"rollingFeatures emits ${emitted.mkString(", ")}; rename the input's " +
        s"${clash.mkString(", ")} first")
    val ord = unix_millis(col(ts))
    val feats = windowsSec.flatMap { w =>
      val win = Window.partitionBy(col(key)).orderBy(ord)
        .rangeBetween(-(w * 1000L - 1), Window.currentRow)
      Seq(count(lit(1)).over(win).as(s"cnt_${w}s"),
        sum(col(value).cast("decimal(18,2)")).over(win).cast("double")
          .as(s"sum_${w}s"))
    }
    df.select(df.columns.map(col).toIndexedSeq ++ feats: _*)
  }

  /** Per-key maximum drawdown: the largest peak-to-trough fall of the
    * key's cumulative value series in event-time order — the monitoring
    * shape for "which accounts/feeds had the deepest sustained decline",
    * and the classic risk metric when value is signed cash flow. All
    * INTEGER: `value` must be integral (cents grid — the rankSumAuc
    * contract), so the running sum, the running peak, and peak − cum are
    * exact int64 on any engine; no float enters at any step. Plan shape:
    * one keyed window exchange carries BOTH running frames (the peak is a
    * running max OVER the running sum — same partitioning, same sort, no
    * second exchange), then a keyed agg that reuses the partitioning.
    * Ties on `ts` order by `tiebreak` (deterministic cross-engine).
    * Emits (key, n_events, max_drawdown) — 0 for monotone non-decreasing
    * series. NULL ts/value rows drop. Int64 overflow of the cumulative
    * fails loud under ANSI (~9.2·10¹⁸ cents). */
  def maxDrawdown(df: DataFrame, key: String, ts: String, tiebreak: String,
                  value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"maxDrawdown accumulates '$value' as exact int64; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("n_events", "max_drawdown", "_ms", "_cum", "_peak")
    require(!emitted.exists(df.columns.contains),
      s"maxDrawdown emits/uses ${emitted.mkString(", ")}; rename inputs")
    val base = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .withColumn("_ms", ms(col(ts)))
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ms").asc, col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("_cum", sum(col(value).cast("long")).over(w))
      .withColumn("_peak", max(col("_cum")).over(w))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_events"),
        max(col("_peak") - col("_cum")).as("max_drawdown"))
  }

  /** Globally-ordered prefix sum WITHOUT the single-task window: a plain
    * `Window.orderBy` with no partition moves every row to one task (the
    * classic scale-killer). Instead: deterministic range buckets over the
    * long ordering key (O(1) bounds aggregate), per-bucket local prefix sums
    * in parallel, and an exclusive running total over the tiny per-bucket
    * sums joined back — the single-key form of runningSumSalted, and the
    * same shape as StatefulTwins.withLateFlag. `value` sums as int64 (exact
    * for counts; orderedPrefixSumDecimal is the money form). Ties in `ord`
    * stay in one bucket and break by `tiebreak`. */
  def orderedPrefixSum(df: DataFrame, ord: Column, tiebreak: String,
                       value: String, out: String): DataFrame = {
    val internal = Seq("_ord", "_b", "_off", "_local")
    val clash = df.columns.intersect(internal)
    require(clash.isEmpty,
      s"orderedPrefixSum uses internal columns ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    val vt = df.schema(value).dataType
    require(integralTypes.contains(vt),
      s"orderedPrefixSum sums '$value' as int64 (exact for counts); got " +
        s"$vt — cast explicitly, or use orderedPrefixSumDecimal for money")
    val spark = df.sparkSession
    import spark.implicits._
    val n = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // eager checkpoint: the bucketed frame feeds the per-bucket totals AND
    // the final window+join, and the upstream can be an expensive map (the
    // token-budget caller scores every document) — materialize once instead
    // of re-deriving it per consumer
    val (cut, bucket) =
      cutWithRangeBucket(df.withColumn("_ord", ord), col("_ord"), n)
    val b = cut.withColumn("_b", bucket)
    // exclusive prefix totals across buckets: O(buckets) rows to the driver
    // (the withLateFlag pattern — an unpartitioned window, even over a tiny
    // frame, is the plan shape we ban), broadcast back
    val bucketSums = b.groupBy(col("_b")).agg(sum(col(value)).as("_t"))
      .collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    // NULL-prefix discipline (the runningSumSalted lesson): an all-NULL
    // bucket passes the earlier total through, and rows before the first
    // non-NULL value anywhere stay NULL rather than becoming 0
    var running = 0L
    var any = false
    val prefix = bucketSums.map { case (bk, t) =>
      val before = if (any) Some(running) else None
      t.foreach { v => running += v; any = true }
      (bk, before)
    }.toSeq
    val prefixDf = prefix.toDF("_b", "_off")
    val wLocal = Window.partitionBy(col("_b")).orderBy(col("_ord"), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("_local", sum(col(value)).over(wLocal))
      .join(broadcast(prefixDf), Seq("_b"), "left")
      .withColumn(out,
        when(col("_local").isNull, col("_off"))
          .otherwise(coalesce(col("_off"), lit(0L)) + col("_local")))
      .select(df.columns.map(col).toSeq :+ col(out): _*)
  }

  /** The money form of orderedPrefixSum — the decimal running-sum variant
    * its int64 require() points at: same deterministic bucket scheme
    * (range buckets from an O(1) bounds aggregate, parallel per-bucket
    * local prefix sums, exclusive bucket offsets joined back — never a
    * single-task global window), but `value` accumulates as
    * DECIMAL(18,2), so fractional monetary values sum exactly and
    * order-independently where a double sum would drift with partitioning.
    * The driver-side offset accumulation runs in BigDecimal (exact); the
    * emitted column is DECIMAL(38,2) — cents-exact to 10^36, far past any
    * corpus spend, and an overflow under ANSI fails loud rather than
    * wrapping. NULL discipline identical to the int64 form: rows before
    * the first non-NULL value anywhere stay NULL, NULL values pass the
    * running total through. O(buckets) driver rows, like every bucket
    * collect here. */
  def orderedPrefixSumDecimal(df: DataFrame, ord: Column, tiebreak: String,
                              value: String, out: String): DataFrame = {
    val internal = Seq("_ord", "_b", "_off", "_local")
    val clash = df.columns.intersect(internal)
    require(clash.isEmpty,
      s"orderedPrefixSumDecimal uses internal columns " +
        s"${internal.mkString(", ")}; rename the input's " +
        s"${clash.mkString(", ")} first")
    require(df.schema(value).dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"orderedPrefixSumDecimal sums a numeric '$value'; got " +
        s"${df.schema(value).dataType}")
    val spark = df.sparkSession
    import spark.implicits._
    val n = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // fail loud where the DECIMAL(18,2) ingest cast would silently NULL:
    // a |value| ≥ 10^16 overflows the cast, which non-ANSI Spark turns into
    // NULL (passed through the running total as if absent) while the DuckDB
    // oracle's identical cast ERRORS — a silent cross-engine divergence on
    // exactly the corrupt-magnitude rows that should stop the job
    val overflowGuard = assert_true(
      col(value).isNull || abs(col(value).cast("double")) < lit(1e16),
      concat(lit(s"orderedPrefixSumDecimal: |$value| must stay below 10^16 " +
        "(DECIMAL(18,2) ingest bound); got "), col(value).cast("string")))
    val (cut, bucket) = cutWithRangeBucket(
      df.filter(overflowGuard.isNull).withColumn("_ord", ord), col("_ord"), n)
    val b = cut.withColumn("_b", bucket)
    val dec = col(value).cast("decimal(18,2)")
    // driver-bounded: O(buckets) rows, like every bucket collect here
    val bucketSums = b.groupBy(col("_b")).agg(sum(dec).as("_t"))
      .collect()
      .map(r => (r.getInt(0), Option(r.getDecimal(1))))
      .sortBy(_._1)
    var running = java.math.BigDecimal.ZERO
    var any = false
    val prefix = bucketSums.map { case (bk, t) =>
      val before = if (any) Some(scala.math.BigDecimal(running)) else None
      t.foreach { v => running = running.add(v); any = true }
      (bk, before)
    }.toSeq
    // the Scala BigDecimal encoder defaults to decimal(38,18); pin the
    // money scale so the addition below stays within precision
    val prefixDf = prefix.toDF("_b", "_off")
      .withColumn("_off", col("_off").cast("decimal(38,2)"))
    val wLocal = Window.partitionBy(col("_b")).orderBy(col("_ord"), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.withColumn("_local", sum(dec).over(wLocal))
      .join(broadcast(prefixDf), Seq("_b"), "left")
      .withColumn(out,
        when(col("_local").isNull, col("_off"))
          .otherwise(coalesce(col("_off"), lit(0).cast("decimal(38,2)")) +
            col("_local"))
          .cast("decimal(38,2)"))
      .select(df.columns.map(col).toSeq :+ col(out): _*)
  }

  /** Keyed form of orderedPrefixSum: per-`key` running int64 totals in the
    * (ord, tiebreak) order WITHOUT a per-key single-task sort. A window
    * partitioned by a low-cardinality key (lang, shard, event_type) is
    * "partitioned" only in name — each key's entire frame still sorts
    * through ONE task at 100 TB (the round-11 lesson; SCALE.md's
    * partitioned-by-a-constant hazard). Instead: deterministic range
    * buckets over the long ordering key (bounds from one O(1) aggregate —
    * the bucket is a function of `ord` alone, so equal-ord rows share a
    * bucket and cross-bucket order is preserved), per-(key, bucket) local
    * prefix sums in parallel, and per-key exclusive bucket offsets from a
    * window over the TINY O(keys × buckets) totals frame (the
    * runningSumSalted shape — that window's partitions are bucket-count
    * sized plan constants, never the data). NULL discipline matches
    * runningSumSalted: rows before a key's first non-NULL value stay NULL,
    * NULL values pass the running total through. `nullsLast` orders NULL
    * `ord` rows after non-NULLs (DuckDB's ASC default) instead of before
    * (Spark's); key NULLs are a group of their own on either setting. */
  def orderedPrefixSumKeyed(df: DataFrame, key: Column, ord: Column,
                            tiebreak: String, value: String, out: String,
                            nullsLast: Boolean = false): DataFrame =
    orderedPrefixSumsKeyed(df, key, ord, tiebreak, Seq(value -> out),
      nullsLast)

  /** orderedPrefixSumKeyed for SEVERAL value columns in one pass: one
    * bucketing, one per-(key, bucket) window carrying every running sum,
    * one offsets frame with every exclusive total, one join — where k
    * nested single-column calls would pay k checkpoints, k windows and
    * k joins. Same ordering, bucketing, and NULL discipline as the
    * single-column form. */
  def orderedPrefixSumsKeyed(df: DataFrame, key: Column, ord: Column,
                             tiebreak: String, sums: Seq[(String, String)],
                             nullsLast: Boolean = false): DataFrame =
    orderedPrefixSumsKeyedWithTotals(df, key, ord, tiebreak, sums, Nil,
      nullsLast)

  /** orderedPrefixSumsKeyed that ALSO emits per-key GRAND totals — the
    * fusion of the prefix scan with the joinGroupTotals pattern: the
    * per-(key, bucket) totals frame the offsets already aggregate contains
    * every key's whole sum, so the group total is one more window over the
    * same O(keys × buckets) rows and rides the SAME join back — where a
    * separate joinGroupTotals pays a second full aggregation over the
    * checkpointed input plus a second join (the r12 bench line item on
    * q_weighted_median / q_quantile_norm_approx). `totals` maps value
    * columns (each must also appear in `sums`) to total output names;
    * values/types match joinGroupTotals' plain `sum` exactly. */
  def orderedPrefixSumsKeyedWithTotals(df: DataFrame, key: Column,
                                       ord: Column, tiebreak: String,
                                       sums: Seq[(String, String)],
                                       totals: Seq[(String, String)],
                                       nullsLast: Boolean = false): DataFrame = {
    require(sums.nonEmpty, "orderedPrefixSumsKeyed needs >= 1 (value, out)")
    require((sums.map(_._2) ++ totals.map(_._2)).distinct.size ==
      sums.size + totals.size,
      s"duplicate output names in ${sums.map(_._2) ++ totals.map(_._2)}")
    val sumIdx = sums.map(_._1).zipWithIndex.toMap
    totals.foreach { case (value, _) =>
      require(sumIdx.contains(value),
        s"totals column '$value' must also be a `sums` value column " +
          s"(got sums over ${sums.map(_._1).mkString(", ")})")
    }
    val internal = Seq("_nk_k", "_nk_o", "_nk_g", "_nk_b") ++
      sums.indices.flatMap(i => Seq(s"_nk_loc$i", s"_nk_t$i", s"_nk_off$i",
        s"_nk_tt$i"))
    val clash = df.columns.intersect(internal)
    require(clash.isEmpty,
      s"orderedPrefixSumsKeyed uses internal columns ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    sums.foreach { case (value, _) =>
      val vt = df.schema(value).dataType
      require(integralTypes.contains(vt),
        s"orderedPrefixSumsKeyed sums '$value' as int64 (exact for counts); " +
          s"got $vt — cast explicitly")
    }
    val ordType = df.select(ord.as("_nk_o")).schema.head.dataType
    require(ordType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"orderedPrefixSumKeyed range-buckets a numeric ordering column; " +
        s"got $ordType")
    val floating = ordType match {
      case org.apache.spark.sql.types.DoubleType
         | org.apache.spark.sql.types.FloatType => true
      case _ => false
    }
    val spark = df.sparkSession
    val n = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // the WITHIN-bucket sort runs on the RAW ordering column; the bucket
    // comes from a MONOTONE long image of it (exact for integrals; for
    // doubles a clamped floor — collapsing near-ties into one bucket is
    // harmless, only the bucket→order monotonicity matters). The ±2^62
    // clamp keeps ±Infinity casts from overflowing the bounds arithmetic.
    // NaN's image is NULL so the bounds aggregate ignores it (its bucket
    // is forced last below); without this one NaN would widen the range
    // to the clamp edge and collapse every real value into bucket 0
    val img0 = when(isnan(ord.cast("double")), lit(null))
      .otherwise(greatest(least(ord.cast("double"), lit(4.6e18)),
        lit(-4.6e18)).cast("long"))
    val img = if (floating) img0 else ord.cast("long")
    // eager checkpoint: the bucketed frame feeds the per-(key, bucket)
    // totals AND the final window+join — materialize once
    val (cut, rangeBucket) = cutWithRangeBucket(df.withColumn("_nk_k", key)
      .withColumn("_nk_o", ord).withColumn("_nk_g", img), col("_nk_g"), n)
    // timeRangeBucket sends NULL ord to bucket 0 (Spark's NULLS FIRST);
    // the nullsLast form sends it to the last bucket instead, and the
    // within-bucket sort below places it after that bucket's non-NULLs.
    // NaN sorts greater than everything on both engines → last bucket,
    // and the raw within-bucket sort places it after that bucket's +Inf.
    val nanLast = if (floating)
      when(isnan(col("_nk_o")), lit(n - 1)).otherwise(rangeBucket)
    else rangeBucket
    val bucket = if (nullsLast)
      when(col("_nk_g").isNull, lit(n - 1)).otherwise(nanLast)
    else nanLast
    val b = cut.withColumn("_nk_b", bucket)
    val ordCol = if (nullsLast) col("_nk_o").asc_nulls_last
      else col("_nk_o").asc
    val wLocal = Window.partitionBy(col("_nk_k"), col("_nk_b"))
      .orderBy(ordCol, col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // exclusive per-key offsets over the O(keys × buckets) totals frame;
    // each window partition here holds at most `n` rows by construction
    val wPrefix = Window.partitionBy(col("_nk_k")).orderBy(col("_nk_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totalAggs = sums.zipWithIndex.map { case ((value, _), i) =>
      sum(col(value).cast("long")).as(s"_nk_t$i")
    }
    // per-key grand totals over the SAME tiny frame: an unordered
    // whole-partition window (≤ n rows per key by construction)
    val wTotal = Window.partitionBy(col("_nk_k"))
    val totalIdxs = totals.map { case (value, _) => sumIdx(value) }.distinct
    val offsets = sums.indices.foldLeft(
        b.groupBy(col("_nk_k"), col("_nk_b"))
          .agg(totalAggs.head, totalAggs.tail: _*)) { (acc, i) =>
        val withOff =
          acc.withColumn(s"_nk_off$i", sum(col(s"_nk_t$i")).over(wPrefix))
        if (totalIdxs.contains(i))
          withOff.withColumn(s"_nk_tt$i", sum(col(s"_nk_t$i")).over(wTotal))
        else withOff
      }
      .select(Seq(col("_nk_k").as("_nk_k2"), col("_nk_b").as("_nk_b2")) ++
        sums.indices.map(i => col(s"_nk_off$i")) ++
        totalIdxs.map(i => col(s"_nk_tt$i")): _*)
    val withLocals = sums.zipWithIndex.foldLeft(b) { case (acc, ((value, _), i)) =>
      acc.withColumn(s"_nk_loc$i", sum(col(value).cast("long")).over(wLocal))
    }
    val joined = withLocals.join(offsets,
      col("_nk_k") <=> col("_nk_k2") && col("_nk_b") === col("_nk_b2"),
      "left")
    val withOuts = sums.zipWithIndex.foldLeft(joined) { case (acc, ((_, out), i)) =>
      acc.withColumn(out,
        when(col(s"_nk_loc$i").isNull, col(s"_nk_off$i"))
          .otherwise(coalesce(col(s"_nk_off$i"), lit(0L)) + col(s"_nk_loc$i")))
    }
    val withTotals = totals.foldLeft(withOuts) { case (acc, (value, out)) =>
      acc.withColumn(out, col(s"_nk_tt${sumIdx(value)}"))
    }
    withTotals.select(df.columns.map(col).toSeq ++
      sums.map(s => col(s._2)) ++ totals.map(t => col(t._2)): _*)
  }

  /** Per-group int64 totals joined back onto `df` — the replacement for
    * `sum(x).over(Window.partitionBy(group))` when the group key may have
    * ~constant cardinality: an unordered whole-partition total needs no
    * window at all, just one grouped aggregate re-joined on the key (AQE
    * broadcasts the O(groups) side). `df` is read twice — checkpoint it
    * first when its lineage is nontrivial. */
  private def withGroupTotals(df: DataFrame, group: String,
                              totals: (String, String)*): DataFrame =
    joinGroupTotals(df, df, group, totals: _*)

  /** withGroupTotals with the totals aggregated over `src` instead of `df`
    * — pass the upstream CHECKPOINTED frame so the totals side reads the
    * materialized rows rather than re-deriving `df`'s prefix-scan lineage. */
  private def joinGroupTotals(df: DataFrame, src: DataFrame, group: String,
                              totals: (String, String)*): DataFrame = {
    val aggs = totals.map { case (s, out) => sum(col(s)).as(out) }
    val t = src.groupBy(col(group).as("_wgt_g")).agg(aggs.head, aggs.tail: _*)
    // null-safe: a NULL group is a group of its own, exactly as it is a
    // window partition of its own in the plan this replaces
    df.join(t, col(group) <=> col("_wgt_g"), "left").drop("_wgt_g")
  }

  /** Distributed keyed ntile: `ntile(k) OVER (PARTITION BY key ORDER BY
    * ord, tiebreak)` without the per-key single-task sort — the scale-safe
    * replacement for the CCNet tercile split's `ntile(3) OVER (PARTITION
    * BY lang)`, where ~constant key cardinality makes every "partition" an
    * O(corpus) one-task sort. The per-key rank comes from the bucketed
    * keyed prefix scan (orderedPrefixSumKeyed over a column of ones), the
    * per-key row counts are an O(keys) broadcast, and the bucket index is
    * SQL ntile's exact closed form: with n rows and rem = n mod k, the
    * first rem buckets hold ⌈n/k⌉ rows and the rest ⌊n/k⌋ — pure int64
    * arithmetic, bit-identical to Spark's and DuckDB's NTile on any total
    * (ord, tiebreak) order. Emits the input columns plus `out` (BIGINT,
    * 1-based). NULL ord rows rank first (Spark's default) or last
    * (`nullsLast`, DuckDB's default); NULL keys form their own group. */
  def ntileKeyed(df: DataFrame, key: Column, ord: Column, tiebreak: String,
                 k: Int, out: String, nullsLast: Boolean = false): DataFrame = {
    require(k > 0, s"ntileKeyed needs k > 0, got $k")
    val internal = Seq("_nt_one", "_nt_rk", "_nt_k2", "_nt_n")
    val clash = df.columns.intersect(internal)
    require(clash.isEmpty,
      s"ntileKeyed uses internal columns ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    val ranked = orderedPrefixSumKeyed(df.withColumn("_nt_one", lit(1L)),
      key, ord, tiebreak, "_nt_one", "_nt_rk", nullsLast)
    val totals = df.groupBy(key.as("_nt_k2")).agg(count(lit(1)).as("_nt_n"))
    ranked.join(broadcast(totals), key <=> col("_nt_k2"), "left")
      .withColumn(out, expr(
        s"""CASE WHEN _nt_rk <= (_nt_n % $k) * (_nt_n div $k + 1)
           |     THEN (_nt_rk + _nt_n div $k) div (_nt_n div $k + 1)
           |     ELSE _nt_n % $k + (_nt_rk - (_nt_n % $k) * (_nt_n div $k + 1)
           |                        + _nt_n div $k - 1) div (_nt_n div $k)
           |END""".stripMargin).cast("long"))
      .select(df.columns.map(col).toSeq :+ col(out): _*)
  }

  /** Profile-driven running sum: measures the hottest key's row share and
    * picks runningSumSalted when it exceeds `saltThreshold`, runningSum
    * otherwise — SCALE.md's "salt when a profile shows a hot key" decision as
    * code. Both branches emit identical rows (PropertySpec), so the choice is
    * purely physical. The default 0.05 threshold is ~the share where one
    * key's prefix scan occupies a whole task on a 32-partition stage
    * (1/32 ≈ 0.03) with margin: below it the plain form's single shuffle
    * wins, above it the hot key serializes a task and the salted form's
    * extra shuffle+join pays for itself. Costs one profiling pass at plan
    * time — amortized trivially at 100 TB where the window pass dominates. */
  def runningSumAuto(df: DataFrame, key: String, ts: String, tiebreak: String,
                     value: String, out: String,
                     saltThreshold: Double = 0.05): DataFrame =
    if (topKeyShare(df, key) > saltThreshold)
      runningSumSalted(df, key, ts, tiebreak, value, out)
    else runningSum(df, key, ts, tiebreak, value, out)

  /** Global tumbling-window count (chapter2/BasicStreamingOperations.java:84-91).
    * Flink's `timeWindowAll` is key-less; in Spark we just group by the window
    * column alone — which still parallelizes (hash on window bucket) instead of
    * Flink's forced parallelism-1 all-window. */
  def tumblingCount(df: DataFrame, ts: String, duration: String): DataFrame =
    df.groupBy(window(col(ts), duration))
      .agg(count(lit(1)).as("cnt"), min(ms(col(ts))).as("min_ms"), max(ms(col(ts))).as("max_ms"))
      .select(ms(col("window.start")).as("window_start_ms"),
        col("cnt"), col("min_ms"), col("max_ms"))

  /** Sliding-window count+min+max (chapter3/WindowOperations.java:85-100):
    * 10s window / 5s slide in the reference; size and slide are parameters.
    * Spark's window() replicates each row into size/slide buckets before the
    * hash aggregate — same cost model as Flink's sliding pane assignment. */
  def slidingSummary(df: DataFrame, ts: String, size: String, slide: String): DataFrame =
    df.groupBy(window(col(ts), size, slide))
      .agg(count(lit(1)).as("cnt"), min(ms(col(ts))).as("min_ms"), max(ms(col(ts))).as("max_ms"))
      .select(ms(col("window.start")).as("window_start_ms"),
        col("cnt"), col("min_ms"), col("max_ms"))

  /** Keyed tumbling-window count by composite key
    * (chapter6_exercise/AnalyzeBrowserEvents.java:83-96: keyBy(user, action)). */
  def keyedWindowCount(df: DataFrame, keys: Seq[String], ts: String, duration: String): DataFrame =
    df.groupBy(keys.map(col) :+ window(col(ts), duration): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(keys.map(col) :+ ms(col("window.start")).as("window_start_ms") :+ col("cnt"): _*)

  /** Session-window summary keyed by `key` with inactivity gap
    * (chapter3/WindowOperations.java:124-138; semantics
    * chapter3/About Windowing.md:15-19): a session closes when the key sees no
    * event for `gap`. Uses Spark's native session_window (state-store merge of
    * overlapping sessions in streaming; sort-based merge in batch —
    * TOUCHING windows merge too, so an event exactly `gap` after its
    * predecessor stays in-session, the sessionize convention). Output
    * reports min/max event time rather than the [start, last+gap) window struct
    * so results are engine-convention independent. */
  def sessionSummary(df: DataFrame, key: String, ts: String, gap: String): DataFrame =
    df.groupBy(col(key), session_window(col(ts), gap))
      .agg(count(lit(1)).as("cnt"), min(ms(col(ts))).as("min_ms"), max(ms(col(ts))).as("max_ms"))
      .select(col(key), col("min_ms").as("session_start_ms"), col("cnt"), col("max_ms"))

  // ─── §2.6 join ────────────────────────────────────────────────────────────

  /** Windowed stream-stream equi-join (chapter3/WindowJoin.java:119-158).
    * Within a (key, window) bucket the output is the cartesian product of the
    * matching rows from each side (comment at :142-145) — exactly an inner
    * equi-join on (key, window_bucket). Spark picks SMJ/shuffled-hash/broadcast
    * physically; both sides shuffle once on (key, window).
    *
    * `leftProj` / `rightProj` name the payload columns each side carries into
    * the output, as (source column → output alias) pairs — aliases must be
    * disjoint across the two sides (and distinct from `key` /
    * "window_start_ms"), exactly like the select list of a SQL join. */
  def windowJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
                 duration: String,
                 leftProj: Seq[(String, String)],
                 rightProj: Seq[(String, String)]): DataFrame = {
    def side(df: DataFrame, proj: Seq[(String, String)]) =
      df.select(col(key).as("k") +: window(col(ts), duration)("start").as("w") +:
        proj.map { case (c, out) => col(c).as(out) }: _*)
    side(left, leftProj).join(side(right, rightProj), Seq("k", "w"), "inner")
      .select(col("k").as(key) +: ms(col("w")).as("window_start_ms") +:
        (leftProj ++ rightProj).map { case (_, out) => col(out) }: _*)
  }

  /** As-of join: attach to each left row the LATEST right row with
    * right.`ts` <= left.`ts` for the same key (inclusive) — the
    * event-to-slowly-changing-metadata join every training pipeline needs
    * and Spark has no native operator for. Scalable encoding: tag + union
    * both sides, then per-key last-non-null carry-forward over one
    * (ts, side) sort — ONE shuffle on the key, never a per-row range probe
    * or an O(|L|·|R|) bucket product, so it scales exactly like runningSum.
    * Right rows sort before left rows at equal ts, giving the inclusive
    * bound. Left rows with no prior right row keep NULL payloads (left-join
    * semantics).
    *
    * `right` must be unique per (key, ts) — pre-aggregate otherwise — or the
    * tie chosen among equal-ts right rows is nondeterministic. Both inputs
    * must share the `key` and `ts` column names; `rightCols` are the payload
    * columns carried from `right` (alias right's own ts into the payload to
    * know WHICH row matched).
    *
    * The payload travels as ONE struct column with a single
    * last(ignoreNulls) carry, so every output field comes from the SAME
    * matched right row — per-column carries would stitch a NULL payload
    * field from an older row into a composite that never existed. NULL-ts
    * rows follow SQL ASOF semantics (`r.ts <= l.ts` is never true when
    * either side is NULL): NULL-ts right rows match nothing and are
    * pre-filtered; NULL-ts left rows come through with NULL payloads. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               rightCols: Seq[String]): DataFrame =
    asofImpl(left, right, key, ts, rightCols, None)

  /** As-of join with a STALENESS BOUND — the match must be no older than
    * `maxAgeMs` or the left row keeps NULL payloads, exactly as if no
    * right row existed: a quote from last Tuesday is not a usable price,
    * a metadata snapshot from before the schema change must not dress
    * today's event. Implementation is asofJoin's single-sort carry with
    * the matched right timestamp carried ALONGSIDE the payload (same
    * window pass), then one integer ms comparison nulls stale matches —
    * correct because the as-of match is already the LATEST at-or-before
    * candidate: if IT is stale, every other candidate is staler. Same
    * one-shuffle contract and NULL semantics as asofJoin. */
  def asofJoinTolerant(left: DataFrame, right: DataFrame, key: String,
                       ts: String, rightCols: Seq[String],
                       maxAgeMs: Long): DataFrame = {
    require(maxAgeMs > 0, s"maxAgeMs must be positive, got $maxAgeMs")
    asofImpl(left, right, key, ts, rightCols, Some(maxAgeMs))
  }

  private def asofImpl(left: DataFrame, right: DataFrame, key: String,
                       ts: String, rightCols: Seq[String],
                       maxAgeMs: Option[Long]): DataFrame = {
    // internal-name guard (the expandingAnomaly/quantileNormalize idiom): a
    // left frame already carrying _r/_rts/_side would collide in the carry
    val internal = Seq("_r", "_rts", "_side")
    require(!internal.exists(c =>
        left.columns.contains(c) || right.columns.contains(c)),
      s"asofJoin uses ${internal.mkString(", ")} internally; rename inputs")
    val leftCols = left.columns.toSeq.filterNot(c => c == key || c == ts)
    val rStruct = org.apache.spark.sql.types.StructType(
      rightCols.map(c => right.schema(right.schema.fieldIndex(c))))
    val lNorm = left.select(
      col(key) +: col(ts) +: lit(1).as("_side") +:
        (leftCols.map(col) ++ Seq(lit(null).cast(rStruct).as("_r"),
          lit(null).cast("long").as("_rts"))): _*)
    val rNorm = right.filter(col(ts).isNotNull).select(
      col(key) +: col(ts) +: lit(0).as("_side") +:
        (leftCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
          Seq(struct(rightCols.map(col): _*).as("_r"),
            ms(col(ts)).as("_rts"))): _*)
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = lNorm.unionByName(rNorm)
      .withColumn("_r", last(col("_r"), ignoreNulls = true).over(w))
      .withColumn("_rts", last(col("_rts"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
    // NULL-ts left rows sort NULLS FIRST and right NULL-ts rows are gone,
    // so the carry is already NULL there; this guard states the intent.
    // The staleness bound nulls a carried match older than maxAgeMs.
    val stale = maxAgeMs.map(g =>
      col("_rts").isNull || ms(col(ts)) - col("_rts") > g)
      .getOrElse(lit(false))
    carried
      .withColumn("_r", when(col(ts).isNull || stale,
        lit(null).cast(rStruct)).otherwise(col("_r")))
      .select(col(key) +: col(ts) +: (leftCols.map(col) ++
        rightCols.map(c => col("_r").getField(c).as(c))): _*)
  }

  /** Bloom-pruned LEFT SEMI join on int64 keys: build a Bloom filter over
    * the small side's keys driver-side (one aggregate, O(bits) to the
    * driver), prune the big side with a codegen'd probe
    * (expressions.BloomProbeExpr) BEFORE its shuffle, then exact-verify the
    * survivors with a real semi-join. The output is EXACTLY the plain
    * semi-join's rows — the filter's false positives are caught by the
    * verify join, and false negatives don't exist — but only matching rows
    * plus an fpp-fraction of non-matching ones ever pay the exchange.
    *
    * This is the decontamination/allowlist shape at 100 TB: Spark's own
    * runtime bloom filter (`spark.sql.optimizer.runtime.bloomFilter.*`)
    * plans the same trick for joins it can rewrite, but not for pinned
    * inputs (cached frames, foreachBatch batches) or when the filter should
    * be BUILT ONCE and reused across many queries — this operator is that
    * explicit form. `expectedItems`/`fpp` size the filter; at default fpp
    * 1e-3 the filter is ~14.4 bits per distinct key (120 MB per 10^8 keys —
    * driver- and broadcast-friendly well past dimension-table scale).
    * `small` must be a BATCH DataFrame (the filter build is one eager
    * driver-side aggregate — the only eager job these constructors run);
    * for a streaming big side use StreamOps.bloomAntiJoinEachBatch. */
  /** Both key columns must be integral: the filter is BUILT from long
    * insertions and PROBED with mightContainLong, and a string-keyed build
    * would hash different bytes than the probe — every probe would miss
    * and the anti form would silently keep blocked rows (a false negative
    * the exact-verify stage cannot repair). Fail fast instead. */
  private def requireIntegralKeys(big: DataFrame, bigKey: String,
                                  small: DataFrame, smallKey: String,
                                  op: String): Unit = {
    Seq(big.schema(bigKey) -> bigKey, small.schema(smallKey) -> smallKey)
      .foreach { case (f, name) =>
        require(integralTypes.contains(f.dataType),
          s"$op probes int64 keys; '$name' is ${f.dataType} — md5-hash " +
            "string keys to graft_md5long first, or use a plain join")
      }
  }

  /** Driver-side filter build shared by both Bloom joins. Builds on the
    * widened-to-long column so build and probe hash the same 8 bytes even
    * when the declared widths differ (int dim key, long fact). An empty —
    * or all-NULL-key — small side yields a ZERO-INSERTION filter (every
    * probe misses, which downstream plans into the correct empty-semi /
    * identity-anti results) instead of the NPE stat.bloomFilter throws on
    * a relation contributing no values; folding that case into the build
    * keeps the join constructors down to THIS one eager job (it matters
    * per-trigger in bloomAntiJoinEachBatch). `small` must be a BATCH
    * frame — the build is a driver-side aggregate, so a streaming small
    * side throws at this aggregate, not at analysis. */
  private def buildBloomFilter(keys: DataFrame, smallKey: String,
                               expectedItems: Long, fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter =
    try keys.select(col(smallKey).cast("long").as(smallKey))
      .stat.bloomFilter(smallKey, expectedItems, fpp)
    catch {
      // stat.bloomFilter's internal treeAggregate NPEs when no partition
      // contributed a value — the empty-relation case, not a code bug
      case _: NullPointerException =>
        org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
    }

  def bloomSemiJoin(big: DataFrame, small: DataFrame,
                    bigKey: String, smallKey: String,
                    expectedItems: Long, fpp: Double = 1e-3): DataFrame = {
    requireIntegralKeys(big, bigKey, small, smallKey, "bloomSemiJoin")
    // NULL small keys never equal anything
    val keys = small.filter(col(smallKey).isNotNull)
    val bloom = buildBloomFilter(keys, smallKey, expectedItems, fpp)
    val probe = graft.expressions.BloomProbeExpressions
      .mightContain(big(bigKey), bloom)
    // NULL big keys: probe → NULL → dropped, = the semi-join's NULL-never-equal
    big.filter(coalesce(probe, lit(false)))
      .join(keys.select(col(smallKey)), big(bigKey) === keys(smallKey),
        "left_semi")
  }

  /** Bloom-pruned LEFT ANTI join — the decontamination drop itself: rows
    * whose key misses the filter are DEFINITELY not in `small` (no false
    * negatives) and pass through with zero shuffle; only the fpp-fraction
    * probe hits pay the exact anti-join that separates true matches from
    * false positives. Output = the plain anti-join's rows, including
    * NULL-key big rows (NULL never equals, so anti keeps them — they route
    * to the zero-shuffle branch here). The union is plan concatenation, not
    * a shuffle. */
  def bloomAntiJoin(big: DataFrame, small: DataFrame,
                    bigKey: String, smallKey: String,
                    expectedItems: Long, fpp: Double = 1e-3): DataFrame = {
    requireIntegralKeys(big, bigKey, small, smallKey, "bloomAntiJoin")
    // NULL small keys never block anything; an empty small side builds a
    // zero-insertion filter → every row routes to the zero-shuffle branch
    val keys = small.filter(col(smallKey).isNotNull)
    val bloom = buildBloomFilter(keys, smallKey, expectedItems, fpp)
    val probe = graft.expressions.BloomProbeExpressions
      .mightContain(big(bigKey), bloom)
    val hit = coalesce(probe, lit(false))
    big.filter(!hit).unionByName(
      big.filter(hit).join(keys.select(col(smallKey)),
        big(bigKey) === keys(smallKey), "left_anti"))
  }

  /** Point-in-interval range join: pair every `points` row whose event time
    * falls in [`startCol`, `endCol`) with that interval — the "events inside
    * incident/maintenance/session windows" join, which Spark's planner can
    * only express as a broadcast-nested-loop (all-pairs) without an equi key.
    * Scalable encoding: bucket time into `grainMs` cells, explode each
    * interval into the cells it covers, equi-join points to cells (plus any
    * `keys` columns), then apply the exact range residual. Every
    * (point, interval) pair meets in EXACTLY one cell — the point's own —
    * so no distinct() is needed and the output is the precise inequality
    * join, produced by one hash-partitioned shuffle instead of a cartesian
    * product.
    *
    * Pick `grainMs` near the typical interval length: replication factor is
    * len/grain + 1 cells per interval, while a too-coarse grain packs many
    * intervals AND points into one cell and the residual filter does the
    * work a finer grain would have done in the join. Intervals with
    * `end <= start` are empty by the half-open contract and are dropped.
    * `pointTs` is a timestamp column; `startCol`/`endCol` are epoch-ms
    * longs (callers windowing around an event pass
    * `unix_millis(ts) ± delta`). NULL ts/start/end rows match nothing,
    * exactly like the SQL inequality join.
    *
    * Replication guard: an interval whose span wildly exceeds the grain
    * (a corrupt end timestamp, a year-long interval at a minute grain)
    * would silently explode into len/grain + 1 rows — an
    * OOM-by-data-bug at ingest scale. Any interval covering more than
    * `maxCellsPerInterval` cells therefore fails the job LOUDLY with a
    * diagnostic naming the bound, like every other guard here; raise the
    * cap (or widen the grain) deliberately if such spans are real. The
    * check runs executor-side per interval and is NULL-safe, so filter
    * reordering can never trip it on rows the validity filter drops. */
  def rangeJoin(points: DataFrame, pointTs: String,
                intervals: DataFrame, startCol: String, endCol: String,
                grainMs: Long, keys: Seq[String] = Nil,
                maxCellsPerInterval: Long = 10000L): DataFrame = {
    require(grainMs > 0, s"grainMs must be positive, got $grainMs")
    require(maxCellsPerInterval > 0,
      s"maxCellsPerInterval must be positive, got $maxCellsPerInterval")
    val internal = Seq("_pms", "_cell")
    val clash = (points.columns ++ intervals.columns).intersect(internal)
    require(clash.isEmpty,
      s"rangeJoin uses internal columns ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    // floor-division in exact integer space: the numerator is made divisible
    // by grainMs first, so the long→double→long round trip cannot straddle a
    // cell boundary the way floor(ms / grain) in binary floating point can
    def cellOf(c: Column): Column =
      ((c - pmod(c, lit(grainMs))) / lit(grainMs)).cast("long")
    val p = points
      .withColumn("_pms", ms(col(pointTs)))
      .withColumn("_cell", cellOf(col("_pms")))
    val nCells = cellOf(col(endCol) - 1) - cellOf(col(startCol)) + 1
    // NULL-safe: NULL start/end rows pass the guard vacuously (the validity
    // filter drops them) — assert_true on a NULL condition would throw
    val guard = assert_true(
      col(startCol).isNull || col(endCol).isNull ||
        nCells <= lit(maxCellsPerInterval),
      concat(lit("rangeJoin: interval covers "), nCells,
        lit(s" cells > maxCellsPerInterval=$maxCellsPerInterval at " +
          s"grainMs=$grainMs (start="), col(startCol), lit(", end="),
        col(endCol), lit(") — corrupt timestamp or too-fine grain; widen " +
          "grainMs or raise maxCellsPerInterval deliberately")))
    val iv = intervals
      // .isNull keeps the assertion in the plan: a projected-then-dropped
      // column would be pruned away before it ever ran
      .filter(guard.isNull)
      .filter(col(startCol).isNotNull && col(endCol) > col(startCol))
      .withColumn("_cell",
        explode(sequence(cellOf(col(startCol)), cellOf(col(endCol) - 1))))
    p.join(iv, (keys :+ "_cell").toSeq, "inner")
      .filter(col("_pms") >= col(startCol) && col("_pms") < col(endCol))
      .drop("_pms", "_cell")
  }

  // ─── §2.7 / §2.8 split & merge ────────────────────────────────────────────

  /** Predicate split (chapter2/StreamSplitAndMerge.java:68-102). Spark has no
    * side outputs; idiomatic form is two filters over one (cached/shared)
    * source — Catalyst reuses the scan, and in streaming the two branches can
    * run as two queries over the same source or one foreachBatch fan-out.
    * NULL predicates route to the "rest" side (the reference's else-branch
    * catches everything non-matching): plain !pred would drop them, since
    * both pred and !pred evaluate to NULL. */
  def splitBy(df: DataFrame, pred: Column): (DataFrame, DataFrame) =
    (df.filter(pred), df.filter(coalesce(!pred, lit(true))))

  /** Tagged union — Flink connect + CoMapFunction to a common shape
    * (chapter2/StreamSplitAndMerge.java:120-153). Each side is projected to the
    * common schema with a stream tag, then vertically merged. Union is a
    * zero-shuffle operator in Spark (plan concatenation). */
  def taggedUnion(a: DataFrame, tagA: String, b: DataFrame, tagB: String,
                  cols: Seq[String]): DataFrame = {
    def shape(df: DataFrame, tag: String) =
      df.select(lit(tag).as("stream") +: cols.map(col): _*)
    shape(a, tagA).unionByName(shape(b, tagB))
  }

  /** Upsert compaction — the latest full row per key, the step that turns
    * an append-only change log into a current-state table. `ord` columns
    * define the recency order LEXICOGRAPHICALLY and must form a total
    * order within each key (e.g. (ts, unique event id)); a tie would make
    * the kept row partitioning-dependent, so rows with a NULL in any `ord`
    * column FAIL LOUDLY (NULL compares make max_by's choice
    * engine-ambiguous) rather than silently win or lose.
    *
    * Distributed shape: ONE hash aggregate with `max_by(struct(payload),
    * struct(ord))` — partial aggregation means each map task ships at most
    * one candidate row per key it saw, so a 100 TB log with a 10^9-key
    * state compacts through a shuffle of O(tasks × keys-per-task) single
    * rows. The window alternative (row_number over key ORDER BY ord DESC)
    * shuffles and sorts EVERY log row; this never materializes more than
    * one row per (task, key). */
  def latestState(df: DataFrame, keys: Seq[String],
                  ord: Seq[String]): DataFrame = {
    require(keys.nonEmpty && ord.nonEmpty,
      s"latestState needs key and order columns; got keys=$keys ord=$ord")
    require(keys.intersect(ord).isEmpty,
      s"key and order columns must be disjoint; both contain " +
        s"${keys.intersect(ord).mkString(", ")}")
    val payload = df.columns.filterNot(keys.contains).toSeq
    val nullOrd = ord.map(col(_).isNull).reduce(_ || _)
    val guard = assert_true(!nullOrd,
      concat(lit(s"latestState: order columns (${ord.mkString(", ")}) must " +
        "be non-NULL for a deterministic winner; got ("),
        concat_ws(", ", ord.map(c => coalesce(col(c).cast("string"),
          lit("NULL"))): _*), lit(")")))
    df.filter(guard.isNull)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(payload.map(col): _*),
        struct(ord.map(col): _*)).as("_latest"))
      .select(keys.map(col) ++ payload.map(c => col(s"_latest.$c")): _*)
  }

  /** Two-snapshot corpus delta — which ids were added, removed, or changed
    * between an old and a new snapshot (the crawl-over-crawl diff that
    * decides what to re-process). Rows are compared by an md5 fingerprint
    * of `contentCols`, so the join ships (id, 8-byte hash) pairs ONLY —
    * diffing two 100 TB snapshots moves O(ids) tiny rows, never content.
    * One full-outer hash join on the id; unchanged rows are dropped by
    * default (at crawl scale they are the overwhelming majority — emitting
    * them would make the diff as big as the corpus). Emits (id, status)
    * with status ∈ added | removed | changed. NULL ids fail loudly on
    * either side: a full-outer join silently pairs nothing with them, and
    * an id-less row in a snapshot is a data bug upstream. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, id: String,
                   contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff needs content columns")
    require(!contentCols.contains(id),
      s"'$id' is the join key; fingerprint content columns only")
    def fp(df: DataFrame, side: String) = {
      val guard = assert_true(col(id).isNotNull,
        lit(s"snapshotDiff: NULL $id in the $side snapshot — ids must be " +
          "non-NULL for the diff to pair rows"))
      // the u0001 joint and u0002 NULL marker: ("ab","c") vs ("a","bc") and
      // NULL vs '' must fingerprint differently
      df.filter(guard.isNull).select(col(id),
        graft.expressions.Md5Expressions.md5Long(
          concat_ws("\u0001", contentCols.map(c =>
            coalesce(col(c).cast("string"), lit("\u0002"))): _*)).as(s"_fp_$side"))
    }
    fp(oldSnap, "old").join(fp(newSnap, "new"), Seq(id), "full_outer")
      .withColumn("status",
        when(col("_fp_old").isNull, lit("added"))
          .when(col("_fp_new").isNull, lit("removed"))
          .when(col("_fp_old") =!= col("_fp_new"), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col(id), col("status"))
  }

  /** First-touch attribution: for every conversion row, find the FIRST event
    * of the same (key, session) and attribute the conversion to its `attr`
    * value (the marketing-channel question, and in pipeline terms the
    * provenance question: which entry point led to this outcome?). Sessions
    * come from `sessionize` (same gap semantics, same deterministic
    * (ts, tiebreak) order); session firsts are a map-side-combinable
    * `min_by(struct(attr, ms), struct(ms, tiebreak))` — one row per
    * (task, session) through the shuffle, the latestState argument, NOT a
    * per-session sort. The conversions-to-firsts join is keyed on
    * (key, session_seq): both sides already hash-partition on the key, and
    * the firsts side is one row per session. time_to_convert_ms is exact
    * int64 arithmetic. NULL timestamps drop before sessionization (an
    * unplaceable event belongs to no session); conversions are whatever
    * rows satisfy `isConversion`, evaluated after sessionization so the
    * predicate may reference session_seq. */
  def firstTouchAttribution(df: DataFrame, key: String, ts: String,
                            tiebreak: String, attr: String, gapMs: Long,
                            isConversion: Column): DataFrame = {
    val emitted = Seq("conv_ms", "first_touch", "first_ms",
      "time_to_convert_ms", "_ft")
    require(!emitted.exists(df.columns.contains),
      s"firstTouchAttribution emits ${emitted.mkString(", ")}; rename inputs")
    val sess = sessionize(df.filter(col(ts).isNotNull), key, ts, tiebreak,
      gapMs)
    val msCol = ms(col(ts))
    val firsts = sess.groupBy(col(key), col("session_seq"))
      .agg(min_by(struct(col(attr).as("a"), msCol.as("m")),
        struct(msCol, col(tiebreak))).as("_ft"))
      .select(col(key), col("session_seq"),
        col("_ft.a").as("first_touch"), col("_ft.m").as("first_ms"))
    sess.filter(isConversion)
      .select(col(key), col(tiebreak), col("session_seq"),
        msCol.as("conv_ms"))
      .join(firsts, Seq(key, "session_seq"))
      .withColumn("time_to_convert_ms", col("conv_ms") - col("first_ms"))
  }

  /** First-order Markov transition matrix over per-key event sequences —
    * which state follows which, and how often (the behavioral fingerprint
    * behind session modeling and synthetic-trace generation). Consecutive
    * pairs come from `lag` over a PARTITIONED window ordered by
    * (epoch-ms, tiebreak) — the tiebreak makes tied timestamps
    * deterministic, so the pair set is engine- and partitioning-exact.
    * Then one hash agg of (from,to) counts and a per-from total over them
    * (withTransitionProbs, O(states²) rows — tiny) for a trunc6'd row
    * probability.
    *
    * At 100 TB the only row-count-sized stage is the keyed window — the
    * same single exchange + sort as runningSum, uniform in the key; both
    * aggs ship O(states²) rows. NULL timestamps and NULL states drop
    * before pairing (a NULL cannot order or label a transition). Each
    * key's first event has no predecessor and emits nothing. */
  def transitionMatrix(df: DataFrame, key: String, ts: String,
                       tiebreak: String, state: String): DataFrame = {
    val emitted = Seq("from_state", "to_state", "n", "n_from", "prob", "_prev")
    require(!emitted.exists(df.columns.contains),
      s"transitionMatrix emits ${emitted.mkString(", ")}; rename inputs")
    val w = Window.partitionBy(col(key))
      .orderBy(ms(col(ts)).asc, col(tiebreak).asc)
    val counts = df
      .filter(col(ts).isNotNull && col(state).isNotNull && col(key).isNotNull)
      .withColumn("_prev", lag(col(state), 1).over(w))
      .filter(col("_prev").isNotNull)
      .groupBy(col("_prev").as("from_state"), col(state).as("to_state"))
      .agg(count(lit(1)).as("n"))
    withTransitionProbs(counts, Seq("from_state"))
  }

  /** The shared tail of the transition tables: appends `n_from` (the total
    * count of the row's `from` state(s)) and the trunc6'd row probability
    * `prob` to a (from..., to_state, n) counts frame. `n_from` is a sum over
    * a window partitioned by `from` on the O(states^k) counts rows, so the
    * count pipeline runs once: a self-join with the counts' own groupBy
    * re-runs the upstream wherever Spark cannot reuse its exchange (the
    * StateMachines walks' closures never compare equal). */
  private[graft] def withTransitionProbs(counts: DataFrame,
                                         from: Seq[String]): DataFrame =
    counts
      .withColumn("n_from",
        sum(col("n")).over(Window.partitionBy(from.map(col): _*)))
      .withColumn("prob",
        floor(col("n").cast("double") / col("n_from").cast("double")
          * 1000000d) / 1000000d)

  /** Second-order (Markov-2) transition table — p(next | the last TWO
    * states), the sharper next-event model when one step of history is
    * not enough ("view→click means purchase; error→click means retry").
    * Same shape as transitionMatrix with one more lag over the SAME
    * keyed window (both lags share one WindowExec pass), so the cost is
    * identical: one keyed exchange + one hash agg on O(states³) rows.
    * Keys with fewer than three events contribute nothing. Counts are
    * exact int64; prob is the one trunc6'd division. Deterministic
    * (ts ms, tiebreak) order. Emits
    * (from2_state, from1_state, to_state, n, n_from, prob). */
  def transitionMatrix2(df: DataFrame, key: String, ts: String,
                        tiebreak: String, state: String): DataFrame = {
    val emitted = Seq("from2_state", "from1_state", "to_state", "n",
      "n_from", "prob", "_p1", "_p2")
    require(!emitted.exists(df.columns.contains),
      s"transitionMatrix2 emits ${emitted.mkString(", ")}; rename inputs")
    val w = Window.partitionBy(col(key))
      .orderBy(ms(col(ts)).asc, col(tiebreak).asc)
    val counts = df
      .filter(col(ts).isNotNull && col(state).isNotNull && col(key).isNotNull)
      .withColumn("_p1", lag(col(state), 1).over(w))
      .withColumn("_p2", lag(col(state), 2).over(w))
      .filter(col("_p1").isNotNull && col("_p2").isNotNull)
      .groupBy(col("_p2").as("from2_state"), col("_p1").as("from1_state"),
        col(state).as("to_state"))
      .agg(count(lit(1)).as("n"))
    withTransitionProbs(counts, Seq("from2_state", "from1_state"))
  }

  /** Slowly-changing-dimension type-2 intervals from an update log: each
    * (key, update) row becomes a validity interval [valid_from_ms,
    * valid_to_ms) closed by the NEXT update of the same key; the latest
    * update per key stays open (valid_to_ms NULL, is_current true). The
    * historization step every warehouse ingest needs, as ONE `lead` over a
    * keyed window ordered by (epoch-ms, tiebreak) — deterministic under
    * ties, single exchange + per-partition sort (the runningSum shape),
    * no self-join. Tied timestamps within a key produce zero-length
    * intervals in tiebreak order — the honest rendering of same-instant
    * updates (only the last one is ever "current"). NULL timestamps fail
    * loudly: an update that cannot be placed on the timeline would
    * silently corrupt every interval after it. Payload columns pass
    * through untouched. */
  def scd2(df: DataFrame, key: String, ts: String,
           tiebreak: String): DataFrame = {
    val emitted = Seq("valid_from_ms", "valid_to_ms", "is_current")
    require(!emitted.exists(df.columns.contains),
      s"scd2 emits ${emitted.mkString(", ")}; rename inputs")
    val guard = assert_true(col(ts).isNotNull,
      lit(s"scd2: NULL '$ts' — every update needs a timeline position"))
    val w = Window.partitionBy(col(key))
      .orderBy(ms(col(ts)).asc, col(tiebreak).asc)
    df.filter(guard.isNull)
      .withColumn("valid_from_ms", ms(col(ts)))
      .withColumn("valid_to_ms", lead(ms(col(ts)), 1).over(w))
      .withColumn("is_current", col("valid_to_ms").isNull)
  }

  /** Equal-width histogram with edge-bin clamping — the one-pass value
    * profile (distribution shape, spike detection) that needs no sort and
    * no percentile state: bin = clamp(floor((x − lo)/width), 0, nBins−1),
    * a single map expression, then ONE hash agg keyed by bin (≤ nBins
    * rows out, partial agg map-side). Underflow/overflow rows land in the
    * edge bins (counted, not lost — the standard profiling convention,
    * stated). Per-bin min/max ride along, so a clamped edge bin is
    * self-describing. The bin expression is one IEEE subtract + divide +
    * floor, identical on every engine; bin_lo = lo + bin·width likewise.
    * NULL values drop (a NULL has no position on the axis). At 100 TB
    * this is scan + map + O(nBins) shuffle rows per task — nothing else. */
  def valueHistogram(df: DataFrame, value: String, lo: Double, width: Double,
                     nBins: Int): DataFrame = {
    require(width > 0, s"width must be positive, got $width")
    require(nBins >= 1 && nBins <= 100000,
      s"nBins must be in [1, 100000], got $nBins")
    val emitted = Seq("bin", "bin_lo", "n", "v_min", "v_max")
    require(!emitted.contains(value),
      s"valueHistogram emits ${emitted.mkString(", ")}; rename '$value'")
    df.filter(col(value).isNotNull)
      .select(greatest(least(floor((col(value) - lo) / width),
        lit((nBins - 1).toDouble)), lit(0d)).cast("long").as("bin"),
        col(value))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col(value)).as("v_min"),
        max(col(value)).as("v_max"))
      .select(col("bin"), (lit(lo) + col("bin") * width).as("bin_lo"),
        col("n"), col("v_min"), col("v_max"))
  }

  /** Per-group Gini impurity of a label distribution — the log-free
    * diversity score (1 − Σ pᵢ²) for mixture monitoring: how concentrated
    * is each slice's label mix? Entropy needs `ln`, which is not
    * ulp-specified across engines; Gini is RATIONAL — computed here as
    * (n² − Σ nᵢ²) / n² from integer counts, so the only float op is one
    * trunc6'd division, engine-exact. Two hash aggs: (group, label)
    * counts (partial map-side), then per-group rollup — O(groups·labels)
    * rows through the second shuffle. ANSI mode fails the n² BIGINT
    * product loudly past ~3·10⁹ rows per group rather than wrapping.
    * NULL labels drop (documented; a NULL is absence, not a category);
    * single-label groups score exactly 0.0. */
  def giniImpurity(df: DataFrame, group: String, label: String): DataFrame = {
    val emitted = Seq("n", "n_labels", "gini", "_n")
    require(!emitted.contains(group) && !emitted.contains(label),
      s"giniImpurity emits ${emitted.mkString(", ")}; rename inputs")
    df.filter(col(label).isNotNull)
      .groupBy(col(group), col(label)).agg(count(lit(1)).as("_n"))
      .groupBy(col(group))
      .agg(sum(col("_n")).as("n"), count(lit(1)).as("n_labels"),
        sum(col("_n") * col("_n")).as("_s2"))
      .select(col(group), col("n"), col("n_labels"),
        (floor((col("n") * col("n") - col("_s2")).cast("double")
          / (col("n") * col("n")).cast("double") * 1000000d) / 1000000d)
          .as("gini"))
  }

  /** Pearson χ² test of independence between two categorical columns — the
    * mixture diagnostic (is label distribution independent of source? did
    * the split leak?) with the house determinism discipline. Per cell,
    * (O−E)²/E is rewritten rationally as (O·n − rᵢ·cⱼ)² / (rᵢ·cⱼ·n):
    * numerator and denominator are EXACT decimal integer products, each
    * cast once to double (IEEE-identical on any engine), one multiply +
    * one divide per cell. Cross-cell summation — the step plain doubles
    * make partitioning-dependent — happens in integer MICRO-UNITS:
    * floor(cell·10⁶) per cell, summed as BIGINT (order-independent), so
    * chi2 is exact to 10⁻⁶·cells and bit-identical everywhere. Shuffles:
    * one (a,b) cell agg, two tiny margin aggs joined back, a 1-row total
    * broadcast — O(cells) rows after the first agg. DECIMAL(38,0)
    * intermediates hold to ~10¹⁹ rows; ANSI fails loud past that. NULL
    * categories drop (absence is not a category, same as giniImpurity).
    * Emits one row: (n, dof, chi2). Degenerate 1×k tables get dof 0 and
    * chi2 0 — independence is vacuous there, stated not implied. */
  def chiSquareIndependence(df: DataFrame, a: String, b: String): DataFrame =
    chiSquareCore(df, a, b).select(col("n"), col("dof"), col("chi2"))

  /** Cramér's V effect size on top of the same χ² machinery:
    * V = √(χ² / (n · min(nₐ−1, n_b−1))) — the [0, 1]-normalized strength
    * of association a raw χ² (which grows with n) cannot convey. Built on
    * chiSquareIndependence's engine-exact chi2; the division and the
    * square root are both CORRECTLY-ROUNDED IEEE operations, so applied
    * in the same order to identical inputs they are bit-identical on any
    * engine — √ is in the exactness contract, ln/exp are not. Degenerate
    * 1×k tables (dof 0) emit NULL v, not a 0/0. Same plan as
    * chiSquareIndependence: one cell agg, two margin joins, a 1-row
    * broadcast. Emits one row: (n, dof, chi2, v). */
  def cramersV(df: DataFrame, a: String, b: String): DataFrame =
    chiSquareCore(df, a, b).select(col("n"), col("dof"), col("chi2"),
      when(col("dof") > 0 && col("n") > 0,
        sqrt(col("chi2")
          / (col("n") * least(col("_na") - 1, col("_nb") - 1)).cast("double")))
        .as("v"))

  /** Shared χ² pipeline: emits (n, dof, chi2, _na, _nb) for the public
    * projections above. */
  private def chiSquareCore(df: DataFrame, a: String, b: String): DataFrame = {
    require(a != b, s"chi-square needs two distinct columns, got '$a' twice")
    val emitted = Seq("n", "dof", "chi2", "v", "_o", "_r", "_c", "_cell")
    require(!emitted.contains(a) && !emitted.contains(b),
      s"chiSquareIndependence emits/uses ${emitted.mkString(", ")}; rename inputs")
    val cells = PlanProbe.cut( // shared by margins and the cell pass
      df.filter(col(a).isNotNull && col(b).isNotNull)
        .groupBy(col(a), col(b)).agg(count(lit(1)).as("_o")))
    val rows = cells.groupBy(col(a)).agg(sum(col("_o")).as("_r"))
    val colsM = cells.groupBy(col(b)).agg(sum(col("_o")).as("_c"))
    val tot = cells.groupBy().agg(sum(col("_o")).as("n"),
      count_distinct(col(a)).as("_na"), count_distinct(col(b)).as("_nb"))
    val dec = "decimal(38,0)"
    val num = (col("_o").cast(dec) * col("n").cast(dec)
      - col("_r").cast(dec) * col("_c").cast(dec)).cast("double")
    val den = (col("_r").cast(dec) * col("_c").cast(dec)
      * col("n").cast(dec)).cast("double")
    cells.join(rows, Seq(a)).join(colsM, Seq(b)).crossJoin(broadcast(tot))
      .select(col("n"), col("_na"), col("_nb"),
        floor(num * num / den * 1000000d).cast("long").as("_cell"))
      .groupBy(col("n"), col("_na"), col("_nb"))
      .agg(sum(col("_cell")).as("_micro"))
      .select(col("n"),
        ((col("_na") - 1) * (col("_nb") - 1)).as("dof"),
        (col("_micro").cast("double") / 1000000d).as("chi2"),
        col("_na"), col("_nb"))
  }

  /** Adjusted (standardized) Pearson residual per contingency CELL —
    * chi2 says THAT type and day-of-week associate; this says WHERE:
    * r̃ᵢⱼ = (O−E)/√(E·(1−rᵢ/n)·(1−cⱼ/n)) is ~N(0,1) under independence
    * (Agresti), so |r̃| > 2 reads directly as "this cell drives the
    * association" — the drill-down a significant q_chi2 demands. Same
    * one-cell-agg + two-margin-join + 1-row-broadcast plan as
    * chiSquareIndependence; the exact integer products ride
    * decimal(38,0) into ONE fixed double chain per cell (num/n/√(...)),
    * trunc6'd — floor of an identical IEEE double is identical on every
    * engine, negative residuals included. Degenerate margins (a row or
    * column owning the whole table) emit NULL, not ±∞. Emits one row
    * per cell (a, b, n_obs, expected, adj_residual). */
  def chiSquareResiduals(df: DataFrame, a: String, b: String): DataFrame = {
    require(a != b, s"chi-square needs two distinct columns, got '$a' twice")
    val emitted = Seq("n_obs", "expected", "adj_residual", "n", "_o", "_r",
      "_c")
    require(!emitted.contains(a) && !emitted.contains(b),
      s"chiSquareResiduals emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    val cells = df.filter(col(a).isNotNull && col(b).isNotNull)
      .groupBy(col(a), col(b)).agg(count(lit(1)).as("_o"))
      .localCheckpoint(true) // shared by margins and the cell pass
    val rows = cells.groupBy(col(a)).agg(sum(col("_o")).as("_r"))
    val colsM = cells.groupBy(col(b)).agg(sum(col("_o")).as("_c"))
    val tot = cells.groupBy().agg(sum(col("_o")).as("n"))
    val dec = "decimal(38,0)"
    val nd = col("n").cast("double")
    val num = (col("_o").cast(dec) * col("n").cast(dec)
      - col("_r").cast(dec) * col("_c").cast(dec)).cast("double")
    val e = (col("_r").cast(dec) * col("_c").cast(dec)).cast("double") / nd
    val oneR = lit(1d) - col("_r").cast("double") / nd
    val oneC = lit(1d) - col("_c").cast("double") / nd
    cells.join(rows, Seq(a)).join(colsM, Seq(b)).crossJoin(broadcast(tot))
      .select(col(a), col(b), col("_o").as("n_obs"),
        (floor(e * 1000000d) / 1000000d).as("expected"),
        when(oneR > 0d && oneC > 0d,
          floor(num / nd / sqrt(e * oneR * oneC) * 1000000d) / 1000000d)
          .as("adj_residual"))
  }

  /** Per-group min-max feature scaling: x ↦ (x − min)/(max − min),
    * trunc6'd — the normalization step before mixing heterogeneous score
    * columns. One grouped min/max aggregate (O(groups) rows, broadcast
    * back by AQE) + a pure map stage; no window, no sort. Constant groups
    * (max = min) yield NULL, not 0/0 noise; NULL values pass through as
    * NULL. The subtraction/division run on values read straight from the
    * scan — identical IEEE on every engine. */
  def minMaxNormalize(df: DataFrame, group: String, value: String,
                      out: String): DataFrame = {
    require(!df.columns.contains(out),
      s"minMaxNormalize output column '$out' already exists; rename it")
    val emitted = Seq("_mn", "_mx")
    require(!emitted.exists(df.columns.contains),
      s"minMaxNormalize uses ${emitted.mkString(", ")} internally; rename inputs")
    df.join(df.groupBy(col(group)).agg(min(col(value)).as("_mn"),
        max(col(value)).as("_mx")), Seq(group))
      .withColumn(out,
        when(col("_mx") > col("_mn"),
          floor((col(value) - col("_mn")) / (col("_mx") - col("_mn"))
            * 1000000d) / 1000000d))
      .drop("_mn", "_mx")
  }

  /** Top-k categories by frequency with everything else rolled into one
    * `otherLabel` row — the bounded-cardinality breakdown every report
    * needs over an unbounded category column (domains, user agents,
    * languages) without ever shipping the full category list anywhere.
    * Scale shape: one count agg (the only row-count-sized stage), then
    * top-k as sort+limit — Spark compiles that to TakeOrderedAndProject
    * (per-partition top-k, driver merges k·partitions rows — the
    * keyProfile pattern), NOT a global sort. The "other" row is computed
    * from TOTALS (total − Σ top-k), an O(1) arithmetic step — no second
    * pass, no anti-join against the kept set. Ties at the boundary break
    * by category ascending (deterministic cross-engine). Shares are
    * trunc6'd single divisions. Categories equal to `otherLabel` would
    * silently merge with the rollup row — pick a sentinel outside the
    * domain (documented, not checked: verifying would cost a pass).
    * Emits (category, n, share), k+1 rows at most; the other row appears
    * only when more than k categories exist. NULL categories drop. */
  def topCategoriesWithOther(df: DataFrame, category: String, k: Int,
                             otherLabel: String = "__other__"): DataFrame = {
    require(k >= 1, s"topCategoriesWithOther needs k >= 1, got $k")
    require(otherLabel != null, "otherLabel must be non-null")
    val emitted = Seq("n", "share", "_total", "_ncat", "_ts")
    require(!emitted.contains(category),
      s"topCategoriesWithOther emits/uses ${emitted.mkString(", ")}; rename input")
    val counts = PlanProbe.cut( // shared by top-k, totals, and the top-k sum
      df.filter(col(category).isNotNull)
        .groupBy(col(category)).agg(count(lit(1)).as("n")))
    val topk = counts.orderBy(col("n").desc, col(category).asc).limit(k)
      .localCheckpoint(true) // shared by the union and the top-k sum
    val tot = counts.groupBy().agg(coalesce(sum(col("n")), lit(0L)).as("_total"),
      count(lit(1)).as("_ncat"))
    val other = tot
      .crossJoin(broadcast(
        topk.groupBy().agg(coalesce(sum(col("n")), lit(0L)).as("_ts"))))
      .filter(col("_ncat") > k)
      .select(lit(otherLabel).as(category), (col("_total") - col("_ts")).as("n"))
    topk.unionByName(other)
      .crossJoin(broadcast(tot))
      .select(col(category), col("n"),
        when(col("_total") > 0,
          floor(col("n").cast("double") / col("_total").cast("double")
            * 1000000d) / 1000000d)
          .as("share"))
  }

  /** Side-by-side numericProfile of two slices — the data-drift monitor
    * (did this week's feed change shape vs last week's? does cohort B look
    * like cohort A?). Each side is the one-pass stacked profile aggregate
    * (numericProfile: one job, Expand for the distinct counts); the
    * comparison join is on the column NAME — O(columns) rows, broadcast.
    * min/max deltas are single IEEE subtractions of values read straight
    * from the scans (engine-exact); counts are exact integers. A column
    * numeric in one slice but not the other fails numericProfile's own
    * require — a schema drift that deep should stop the job, not feed a
    * dashboard. */
  def profileDiff(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, s: String) =
      numericProfile(df, cols).select(col("column"),
        col("n_rows").as(s"n_rows_$s"), col("n_nulls").as(s"n_nulls_$s"),
        col("n_distinct").as(s"n_distinct_$s"),
        col("min_v").as(s"min_$s"), col("max_v").as(s"max_$s"))
    side(a, "a").join(side(b, "b"), Seq("column"))
      .withColumn("min_delta", col("min_b") - col("min_a"))
      .withColumn("max_delta", col("max_b") - col("max_a"))
  }

  /** Total-variation distance between two slices' CATEGORICAL
    * distributions — profileDiff's counterpart for label/source/language
    * columns (how far did this week's event-type mix move from last
    * week's?). TVD = ½ Σ_c |pₐ(c) − p_b(c)|, the largest probability gap
    * any event set can have, in [0, 1] — and unlike KL it needs no log
    * and tolerates zero-count categories. Rewritten rationally:
    * Σ_c |nₐ(c)·N_b − n_b(c)·Nₐ| / (2·Nₐ·N_b) — every term is an EXACT
    * decimal integer product, the cross-category sum is exact decimal
    * (order-independent under any partitioning — the step plain doubles
    * cannot promise), and the single division at the end casts each exact
    * operand to double once (correctly rounded, engine-identical).
    * Shuffles: one count agg per slice, a full-outer join on the category
    * (absent-in-one-side categories count as zero, as TVD requires), a
    * 1-row totals broadcast, one final 1-row agg — O(categories) rows
    * after the first aggs. DECIMAL(38,0) holds to ~10¹⁹ rows; ANSI fails
    * loud past that. NULL categories drop on both sides (absence is not a
    * category, the chiSquareIndependence convention). An empty slice
    * yields NULL tvd, not a 0/0. Emits one row:
    * (n_a, n_b, n_categories, tvd). */
  def categoricalDrift(a: DataFrame, b: DataFrame, category: String): DataFrame = {
    val emitted = Seq("n_a", "n_b", "n_categories", "tvd", "_na", "_nb", "_t")
    require(!emitted.contains(category),
      s"categoricalDrift emits/uses ${emitted.mkString(", ")}; rename the input")
    def cnt(df: DataFrame, out: String) =
      df.filter(col(category).isNotNull)
        .groupBy(col(category)).agg(count(lit(1)).as(out))
    val joined = PlanProbe.cut( // shared by the totals and the term pass
      cnt(a, "_na").join(cnt(b, "_nb"), Seq(category), "full_outer")
        .select(coalesce(col("_na"), lit(0L)).as("_na"),
          coalesce(col("_nb"), lit(0L)).as("_nb")))
    val tot = joined.groupBy().agg(sum(col("_na")).as("n_a"),
      sum(col("_nb")).as("n_b"), count(lit(1)).as("n_categories"))
    val dec = "decimal(38,0)"
    val term = abs(col("_na").cast(dec) * col("n_b").cast(dec)
      - col("_nb").cast(dec) * col("n_a").cast(dec))
    joined.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"), col("n_categories"), term.as("_t"))
      .groupBy(col("n_a"), col("n_b"), col("n_categories"))
      .agg(sum(col("_t")).as("_sum"))
      .select(col("n_a"), col("n_b"), col("n_categories"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("_sum").cast("double")
            / (lit(2L).cast(dec) * col("n_a").cast(dec) * col("n_b").cast(dec))
              .cast("double"))
          .as("tvd"))
  }

  /** Per-GROUP total-variation drift against one static reference mix —
    * categoricalDrift run for every group at once (each day's event-type
    * mix vs the corpus baseline; each source's label mix vs the approved
    * distribution). Same exact-arithmetic contract as categoricalDrift:
    * integer cross-products and sums in exact decimal, one correctly-
    * rounded division per group at the end. Scale shape: one (group,
    * category) count agg over `df`, one category count agg over `ref`
    * (tiny — BROADCAST into a groups×refCategories grid so every group
    * scores against ALL reference categories, zero-count included), a
    * full-outer join aligning the two, and two O(groups·categories) aggs.
    * The only row-count-sized stage is the first count agg. Groups whose
    * every category is NULL vanish (no mix to compare); reference
    * categories absent from a group count as zero on the group side, and
    * vice versa. An empty reference yields NULL tvd everywhere. Emits
    * (group, n_a, n_b, n_categories, tvd) — n_b is the reference total,
    * repeated per group; n_categories counts the union per group. This is
    * also the batch twin of StreamOps.windowedDriftEachBatch (parity
    * pinned in StreamingParitySpec). */
  def categoricalDriftByGroup(df: DataFrame, group: String, category: String,
                              ref: DataFrame): DataFrame =
    driftByGroupCore(
      df.filter(col(category).isNotNull && col(group).isNotNull)
        .groupBy(col(group), col(category)).agg(count(lit(1)).as("_na")),
      group, category, ref)

  /** The pre-counted form: `counts` already holds one row per (group,
    * category) with the group-side count in `countCol` — the shape a
    * streaming windowed count aggregation finalizes (StreamOps.
    * windowedDriftEachBatch feeds it verbatim). Identical math and output
    * as categoricalDriftByGroup. */
  def categoricalDriftByGroupCounts(counts: DataFrame, group: String,
                                    category: String, countCol: String,
                                    ref: DataFrame): DataFrame =
    driftByGroupCore(
      counts.filter(col(category).isNotNull && col(group).isNotNull)
        .select(col(group), col(category), col(countCol).cast("long").as("_na")),
      group, category, ref)

  private def driftByGroupCore(wcRaw: DataFrame, group: String,
                               category: String, ref: DataFrame): DataFrame = {
    val emitted = Seq("n_a", "n_b", "n_categories", "tvd", "_na", "_nb", "_t")
    require(!emitted.contains(group) && !emitted.contains(category),
      s"categoricalDriftByGroup emits/uses ${emitted.mkString(", ")}; rename inputs")
    val wc = wcRaw.localCheckpoint(true) // shared: groups list, grid join, totals
    val rc = ref.filter(col(category).isNotNull)
      .groupBy(col(category)).agg(count(lit(1)).as("_nb"))
    val grid = wc.select(col(group)).distinct().crossJoin(broadcast(rc))
    val j = wc.join(grid, Seq(group, category), "full_outer")
      .select(col(group), coalesce(col("_na"), lit(0L)).as("_na"),
        coalesce(col("_nb"), lit(0L)).as("_nb"))
    val totA = j.groupBy(col(group)).agg(sum(col("_na")).as("n_a"),
      count(lit(1)).as("n_categories"))
    val totB = rc.groupBy().agg(coalesce(sum(col("_nb")), lit(0L)).as("n_b"))
    val dec = "decimal(38,0)"
    val term = abs(col("_na").cast(dec) * col("n_b").cast(dec)
      - col("_nb").cast(dec) * col("n_a").cast(dec))
    j.join(totA, Seq(group)).crossJoin(broadcast(totB))
      .select(col(group), col("n_a"), col("n_b"), col("n_categories"),
        term.as("_t"))
      .groupBy(col(group), col("n_a"), col("n_b"), col("n_categories"))
      .agg(sum(col("_t")).as("_sum"))
      .select(col(group), col("n_a"), col("n_b"), col("n_categories"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("_sum").cast("double")
            / (lit(2L).cast(dec) * col("n_a").cast(dec) * col("n_b").cast(dec))
              .cast("double"))
          .as("tvd"))
  }

  /** Two-proportion z-test between two slices — the A/B conversion-rate
    * readout (did the treatment arm convert more, and is the gap beyond
    * noise?). `success` is any boolean Column over the rows. ONE pass:
    * both arms' totals and successes come from a single aggregate with
    * conditional counts — no join, no second scan; `armA` selects the
    * A arm, everything else is B. Determinism: counts are exact int64,
    * and the z pipeline (two rates, the pooled rate, the standard error,
    * one sqrt, one division) is a fixed chain of correctly-rounded IEEE
    * ops applied to identical inputs in identical order on any engine —
    * sqrt is in the exactness contract. p's and z trunc6'd at the edge.
    * Degenerate arms (empty, or pooled rate 0 or 1 — zero variance)
    * yield NULL z. Emits one row:
    * (n_a, conv_a, n_b, conv_b, p_a, p_b, z). */
  def abProportionTest(df: DataFrame, armA: Column,
                       success: Column): DataFrame = {
    val agg = df.groupBy().agg(
      sum(when(armA, 1L).otherwise(0L)).as("n_a"),
      sum(when(armA && success, 1L).otherwise(0L)).as("conv_a"),
      sum(when(!armA, 1L).otherwise(0L)).as("n_b"),
      sum(when(!armA && success, 1L).otherwise(0L)).as("conv_b"))
    val pa = col("conv_a").cast("double") / col("n_a").cast("double")
    val pb = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1d) - pp)
      * (lit(1d) / col("n_a").cast("double")
        + lit(1d) / col("n_b").cast("double")))
    agg.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      when(col("n_a") > 0, floor(pa * 1000000d) / 1000000d).as("p_a"),
      when(col("n_b") > 0, floor(pb * 1000000d) / 1000000d).as("p_b"),
      when(col("n_a") > 0 && col("n_b") > 0
          && col("conv_a") + col("conv_b") > 0
          && col("conv_a") + col("conv_b") < col("n_a") + col("n_b"),
        floor((pa - pb) / se * 1000000d) / 1000000d)
        .as("z"))
  }

  /** Gini coefficient of a value's concentration across keys — "what
    * share of total spend sits with the top users", the inequality
    * readout over per-key totals (monitoring revenue concentration,
    * corpus domination by a few sources). Formula on ascending-sorted
    * totals x₁…x_n: G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n. Exactness: per-key
    * totals are cents-int64; global ranks come from orderedPrefixSum's
    * bucket scheme (counting 1 per row — parallel per-bucket scans +
    * O(buckets) driver offsets, never a single-task window); Σ i·xᵢ and
    * Σx accumulate in exact decimal; ties in xᵢ occupy consecutive ranks
    * whose SUM is permutation-invariant, so tie order cannot change the
    * result. The final expression is a fixed chain of correctly-rounded
    * double ops, trunc6'd. Emits one row: (n_keys, total_cents, gini) —
    * 0 = perfectly equal, →1 = one key holds everything. Negative totals
    * are rejected (Gini is defined on non-negative quantities; a refund
    * model should net them out first). NULL value rows count as zero
    * spend for their key; keys absent from `df` do not exist. */
  def giniConcentration(df: DataFrame, key: String,
                        value: String): DataFrame = {
    val emitted = Seq("n_keys", "total_cents", "gini", "_c", "_one", "_rank")
    require(!emitted.contains(key),
      s"giniConcentration emits/uses ${emitted.mkString(", ")}; rename inputs")
    val totals = df.filter(col(key).isNotNull)
      .groupBy(col(key))
      .agg(coalesce(sum(floor(col(value) * 100).cast("long")), lit(0L))
        .as("_c"))
    val guard = assert_true(col("_c") >= 0,
      concat(lit("giniConcentration: negative per-key total (net refunds " +
        "out first); key="), col(key).cast("string")))
    val ranked = orderedPrefixSum(
      totals.filter(guard.isNull).withColumn("_one", lit(1L)),
      col("_c"), key, "_one", "_rank")
    val dec = "decimal(38,0)"
    ranked.groupBy()
      .agg(count(lit(1)).as("n_keys"),
        sum(col("_c")).as("total_cents"),
        sum(col("_rank").cast(dec) * col("_c").cast(dec)).as("_rx"))
      .select(col("n_keys"), col("total_cents"),
        when(col("n_keys") > 0 && col("total_cents") > 0,
          floor((lit(2d) * col("_rx").cast("double")
            / (col("n_keys").cast(dec) * col("total_cents").cast(dec))
              .cast("double")
            - (col("n_keys") + 1).cast("double")
              / col("n_keys").cast("double")) * 1000000d) / 1000000d)
          .as("gini"))
  }

  /** Per-key OHLC time bars: open/high/low/close/count/sum of an
    * integer-grid measure per fixed time bucket — the candlestick
    * compaction that turns a raw tick/event stream into a bounded
    * per-(key, bar) summary table (price bars, per-feed telemetry bars,
    * rate-limit dashboards). Exactness: the measure is integral (cents),
    * open/close are min_by/max_by over the UNIQUE (epoch-ms, tiebreak)
    * ordering struct — deterministic on any engine — and the bar start is
    * ms − pmod(ms, barMs), pure integer arithmetic that floors correctly
    * for any sign. Plan shape: ONE partial-agg'd hash agg — no window, no
    * sort; every aggregate (min_by/max_by included) combines map-side, so
    * the shuffle carries O(keys × bars) summary rows, not events. The
    * oracle reproduces open/close with rank-1 window rows — same rows,
    * windowless here. NULL ts/value rows drop. Emits (key, bar_start_ms,
    * open, high, low, close, n_events, sum_value). */
  def ohlcBars(df: DataFrame, key: String, ts: String, tiebreak: String,
               value: String, barMs: Long): DataFrame = {
    require(barMs > 0, s"barMs must be positive, got $barMs")
    require(integralTypes.contains(df.schema(value).dataType),
      s"ohlcBars reads '$value' on an exact integer grid; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("bar_start_ms", "open", "high", "low", "close",
      "n_events", "sum_value", "_ms")
    require(!emitted.contains(key) && !df.columns.exists(emitted.contains),
      s"ohlcBars emits/uses ${emitted.mkString(", ")}; rename inputs")
    val base = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .withColumn("_ms", ms(col(ts)))
    val ord = struct(col("_ms"), col(tiebreak))
    base
      .groupBy(col(key),
        (col("_ms") - pmod(col("_ms"), lit(barMs))).as("bar_start_ms"))
      .agg(min_by(col(value), ord).as("open"),
        max(col(value)).as("high"), min(col(value)).as("low"),
        max_by(col(value), ord).as("close"),
        count(lit(1)).as("n_events"),
        sum(col(value).cast("long")).as("sum_value"))
  }

  /** COMPLETED consecutive-day streaks per key — longestStreak's
    * event-level face: one row per CLOSED activity run (a run is closed
    * once a later active day proves the gap), with its start/end day and
    * length. The retention-analytics export ("streak broke after N
    * days") and the exact batch twin of the streaming streakEnds state
    * machine: each key's LAST island is still open — no later day has
    * closed it — so it is EXCLUDED by both forms, which is what lets one
    * oracle check batch and stream. Islands via the gaps-and-islands
    * trick (day − row_number constant within a run) over the distinct
    * (key, day) grid; the open-island exclusion is one key-partitioned
    * max window over RUN rows (O(runs), not events). All int64 day
    * arithmetic. NULL key/ts rows drop. Emits
    * (key, start_day, end_day, len). */
  def completedStreaks(df: DataFrame, key: String, ts: String): DataFrame = {
    val internal = Seq("_day", "_isl", "_me", "start_day", "end_day", "len")
    require(!internal.contains(key) && !df.columns.exists(internal.contains),
      s"completedStreaks emits/uses ${internal.mkString(", ")}; rename inputs")
    val m = ms(col(ts))
    val day = ((m - pmod(m, lit(86400000L))) / lit(86400000L)).cast("long")
    val d = df.filter(col(ts).isNotNull && col(key).isNotNull)
      .select(col(key), day.as("_day")).distinct()
    val w = Window.partitionBy(col(key)).orderBy(col("_day"))
    val runs = d.withColumn("_isl", col("_day") - row_number().over(w))
      .groupBy(col(key), col("_isl"))
      .agg(min(col("_day")).as("start_day"), max(col("_day")).as("end_day"),
        count(lit(1)).as("len"))
    runs.withColumn("_me",
        max(col("end_day")).over(Window.partitionBy(col(key))))
      .filter(col("end_day") < col("_me"))
      .select(col(key), col("start_day"), col("end_day"), col("len"))
  }

  /** Interval CONCURRENCY profile — how many intervals are active at each
    * grain boundary: the capacity/telemetry gauge (peak simultaneous
    * sessions, concurrent jobs, open connections) that the naive
    * per-boundary COUNT(overlapping) computes as an O(n·boundaries) range
    * join. Here it is the classic sweep encoded distributively: every
    * interval contributes +1 at the first boundary ≥ start and −1 at the
    * first boundary > end (intervals are INCLUSIVE of `end` — a
    * zero-length interval is active at its own boundary), deltas collapse
    * to one row per CHANGED boundary (a partial-agg'd hash agg — quiet
    * boundaries never exist as rows), and the running active count is
    * orderedPrefixSum's bucket scheme — parallel per-bucket scans,
    * O(buckets) driver offsets, never a single-task window. All integer
    * ms arithmetic; `start`/`end` must be epoch-ms longs. NULL or
    * inverted intervals FAIL LOUD (the coverage convention — silently
    * dropping them would understate load). Emits (boundary_ms, active),
    * one row per boundary where the count changes; the count holds until
    * the next emitted boundary. */
  def concurrencyProfile(df: DataFrame, start: String, end: String,
                         grainMs: Long): DataFrame = {
    require(grainMs > 0, s"grainMs must be positive, got $grainMs")
    val internal = Seq("_t", "_d", "boundary_ms", "active")
    require(!df.columns.exists(internal.contains),
      s"concurrencyProfile emits/uses ${internal.mkString(", ")}; " +
        "rename inputs")
    require(integralTypes.contains(df.schema(start).dataType) &&
        integralTypes.contains(df.schema(end).dataType),
      s"concurrencyProfile reads epoch-ms longs; got " +
        s"${df.schema(start).dataType}/${df.schema(end).dataType}")
    val guard = assert_true(
      col(start).isNotNull && col(end).isNotNull &&
        col(end) >= col(start),
      concat(lit("concurrencyProfile: interval must be non-NULL with " +
        s"$end >= $start; got ["), col(start).cast("string"), lit(", "),
        col(end).cast("string"), lit("]")))
    val iv = df.filter(guard.isNull)
    def ceilG(c: Column): Column = {
      val shifted = c + lit(grainMs - 1)
      shifted - pmod(shifted, lit(grainMs))
    }
    val deltas = iv.select(ceilG(col(start)).as("_t"), lit(1L).as("_d"))
      .unionAll(iv.select(ceilG(col(end) + 1L).as("_t"),
        lit(-1L).as("_d")))
      .groupBy(col("_t")).agg(sum(col("_d")).as("_d"))
    orderedPrefixSum(deltas, col("_t"), "_t", "_d", "active")
      .select(col("_t").as("boundary_ms"), col("active"))
  }

  /** Per-group INTER-EVENT-GAP percentiles: how long between consecutive
    * events of each type, per user — the cadence/latency profile
    * (session pacing, sensor heartbeat SLOs, bot detection via
    * inhumanly-regular gaps). The gap grid is exact integer epoch-ms
    * (lag over the (group, key) sequence), so the exact `percentile`
    * interpolation runs on integers and the quantileProfile
    * trunc6-on-both-engines contract applies verbatim. Plan shape: ONE
    * (group, key)-keyed window exchange (the lag), then a grouped exact
    * percentile agg whose per-partition value maps merge map-side —
    * O(groups × distinct gaps) crosses the shuffle, not rows. Unbounded
    * gap domains at extreme scale: swap approx_percentile, the
    * quantileProfileChecked pattern. First events of each (group, key)
    * sequence have no predecessor and contribute no gap; groups with no
    * 2-event sequence at all disappear (they HAVE no cadence — a NULL
    * row would fake one). Ties on ts order by `tiebreak`, deterministic
    * cross-engine. NULL ts/key rows drop. Emits
    * (group, n_gaps, p{P}_ms…). */
  def interEventGaps(df: DataFrame, group: String, key: String, ts: String,
                     tiebreak: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"percentiles must lie in (0, 1), got $ps")
    val names = ps.map(p => s"p${math.round(p * 100)}_ms")
    require(names.distinct == names,
      s"percentiles collapse to duplicate names $names — space them out")
    val emitted = Seq("n_gaps", "_ms", "_gap") ++ names
    require(!emitted.contains(group) && !df.columns.exists(emitted.contains),
      s"interEventGaps emits/uses ${emitted.mkString(", ")}; rename inputs")
    val base = df.filter(col(ts).isNotNull && col(key).isNotNull)
      .withColumn("_ms", ms(col(ts)))
    val w = Window.partitionBy(col(group), col(key))
      .orderBy(col("_ms").asc, col(tiebreak))
    val qs = ps.zip(names).map { case (p, nm) =>
      (floor(percentile(col("_gap"), lit(p)) * 1e6) / 1e6).as(nm)
    }
    base.withColumn("_gap", col("_ms") - lag(col("_ms"), 1).over(w))
      .filter(col("_gap").isNotNull)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_gaps"), qs: _*)
  }

  /** Per-group Herfindahl–Hirschman concentration index: Σᵢ shareᵢ² over
    * the keys i inside each group — the market-concentration readout
    * (1/n_keys = perfectly spread, 1 = one key holds everything) that
    * complements giniConcentration: HHI weighs the TOP of the
    * distribution (squaring), Gini the whole rank curve; a dashboard
    * wants both. Identity Σ(cᵢ/T)² = Σcᵢ²/T² keeps everything INTEGER:
    * per-key cents totals are int64, their squares and T² exact
    * decimal(38,0) products (safe to ~10¹⁹ cents per key/group), ONE
    * correctly-rounded trunc6'd division at the edge. Plan shape: two
    * partial-agg'd hash aggs — (group, key) totals, then O(keys) rows
    * collapse per group; zero driver participation, no window at all.
    * Negative per-key totals fail loud (shares of a negative quantity
    * are meaningless — net refunds out first, the Gini contract); NULL
    * value rows count as zero spend; NULL keys drop. Zero-total groups
    * emit NULL hhi. Emits (group, n_keys, total_cents, hhi). */
  def hhiConcentration(df: DataFrame, group: String, key: String,
                       value: String): DataFrame = {
    val emitted = Seq("n_keys", "total_cents", "hhi", "_c", "_ss")
    require(!emitted.contains(group) && !emitted.contains(key),
      s"hhiConcentration emits/uses ${emitted.mkString(", ")}; rename inputs")
    val dec = "decimal(38,0)"
    val totals = df.filter(col(key).isNotNull)
      .groupBy(col(group), col(key))
      .agg(coalesce(sum(floor(col(value) * 100).cast("long")), lit(0L))
        .as("_c"))
    val guard = assert_true(col("_c") >= 0,
      concat(lit("hhiConcentration: negative per-key total (net refunds " +
        "out first); key="), col(key).cast("string")))
    totals.filter(guard.isNull)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("_c")).as("total_cents"),
        sum(col("_c").cast(dec) * col("_c").cast(dec)).as("_ss"))
      .select(col(group), col("n_keys"), col("total_cents"),
        when(col("total_cents") > 0,
          floor(col("_ss").cast("double")
            / (col("total_cents").cast(dec) * col("total_cents").cast(dec))
              .cast("double") * 1000000d) / 1000000d)
          .as("hhi"))
  }

  /** Mann-Whitney rank-sum statistic and its AUC normalization between two
    * slices' VALUE distributions — the nonparametric "did scores shift?"
    * test (quality scores this week vs last, treatment vs control spend)
    * that needs no distributional assumption and, unlike a mean diff, no
    * float summation at all. U_a counts pairs where the a-value beats the
    * b-value (ties half); auc_a = U_a/(nₐ·n_b) is the common-language
    * effect size — literally P(random a > random b), the AUC. Exactness:
    * everything up to the last division is INTEGER. Doubled to keep ties
    * integral: 2·U_a = Σ_v cₐ(v)·(2·cbBelow(v) + c_b(v)), accumulated in
    * exact decimal — partitioning-independent where rank-sum-via-window
    * arithmetic on doubles would not be. Scale shape: one count agg per
    * slice to the DISTINCT-value grid, a full-outer join on value, then
    * cbBelow via orderedPrefixSum's bucket scheme (parallel per-bucket
    * scans + an O(buckets) driver offset pass — never a single-task
    * global window), one final 1-row agg. `value` must be integral in
    * both slices (the robustOutliers argument: put doubles on an exact
    * integer grid first — cents — so engines agree and prefix buckets
    * have exact bounds). Emits one row: (n_a, n_b, u2_a, auc_a) with
    * u2_a = 2·U_a as int64 (fails loud past ~4.6·10¹⁸ pairs ≈ 2·10⁹ rows
    * per side; auc_a stays correct far beyond). Empty slices emit NULL
    * auc_a. NULL values drop. */
  def rankSumAuc(a: DataFrame, b: DataFrame, value: String): DataFrame = {
    Seq("a" -> a, "b" -> b).foreach { case (side, df) =>
      require(integralTypes.contains(df.schema(value).dataType),
        s"rankSumAuc ranks '$value' on an exact integer grid; side $side " +
          s"has ${df.schema(value).dataType} — scale to cents/int64 first")
    }
    def cnt(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull)
        .groupBy(col(value).cast("long").as("_v"))
        .agg(count(lit(1)).as(out))
    val m = cnt(a, "_ca").join(cnt(b, "_cb"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
    // inclusive prefix of c_b over ascending value; exclusive = minus own.
    // _cb is never NULL (coalesced), so the prefix is defined on every row
    val p = orderedPrefixSum(m, col("_v"), "_v", "_cb", "_pcb")
    val dec = "decimal(38,0)"
    val u2 = col("_ca").cast(dec) *
      (lit(2L).cast(dec) * (col("_pcb") - col("_cb")).cast(dec)
        + col("_cb").cast(dec))
    p.groupBy()
      .agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
        sum(u2).as("_u2s"))
      .select(col("n_a"), col("n_b"),
        col("_u2s").cast("long").as("u2_a"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("_u2s").cast("double")
            / (lit(2L).cast(dec) * col("n_a").cast(dec) * col("n_b").cast(dec))
              .cast("double") * 1000000d) / 1000000d)
          .as("auc_a"))
  }

  /** Two-sample Kolmogorov-Smirnov statistic between two slices' VALUE
    * distributions — the MAX vertical gap between the empirical CDFs,
    * where rankSumAuc reports the average shift: KS catches a
    * distribution change concentrated in one region (a truncated tail, a
    * new mode) that leaves the AUC near ½. Both belong in a drift
    * dashboard; they fail differently. Exactness: the CDFs only change at
    * sample points, so the supremum is a MAX over the distinct-value
    * grid of |cumₐ(v)·n_b − cum_b(v)·nₐ| — exact decimal products, and
    * max (unlike a float sum) is order-independent by nature; ONE
    * correctly-rounded trunc6'd division at the end. Scale shape: the
    * rankSumAuc grid (one count agg per slice + full-outer join), then
    * TWO orderedPrefixSum bucket scans over the grid (one per side's
    * cumulative — parallel per-bucket scans + O(buckets) driver offsets,
    * never a single-task global window), a 1-row totals broadcast, one
    * max agg. `value` must be integral in both slices (cents-grid, the
    * rankSumAuc contract). Emits one row: (n_a, n_b, d_num, ks) with
    * ks = d_num/(nₐ·n_b) ∈ [0, 1] and d_num int64 (fails loud past
    * ~9.2·10¹⁸ cross-pairs; ks stays correct beyond). Empty slices emit
    * NULL ks. NULL values drop. */
  def ksStatistic(a: DataFrame, b: DataFrame, value: String): DataFrame = {
    Seq("a" -> a, "b" -> b).foreach { case (side, df) =>
      require(integralTypes.contains(df.schema(value).dataType),
        s"ksStatistic ranks '$value' on an exact integer grid; side $side " +
          s"has ${df.schema(value).dataType} — scale to cents/int64 first")
    }
    def cnt(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull)
        .groupBy(col(value).cast("long").as("_v"))
        .agg(count(lit(1)).as(out))
    val m = cnt(a, "_ca").join(cnt(b, "_cb"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
    val p = orderedPrefixSum(
      orderedPrefixSum(m, col("_v"), "_v", "_ca", "_cca"),
      col("_v"), "_v", "_cb", "_ccb")
    val tot = m.groupBy().agg(coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"))
    val dec = "decimal(38,0)"
    val gap = abs(col("_cca").cast(dec) * col("n_b").cast(dec)
      - col("_ccb").cast(dec) * col("n_a").cast(dec))
    p.crossJoin(broadcast(tot))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(gap).as("_d"))
      .select(col("n_a"), col("n_b"), col("_d").cast("long").as("d_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("_d").cast("double")
            / (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double")
            * 1000000d) / 1000000d)
          .as("ks"))
  }

  /** Earth-mover (Wasserstein-1) distance between two integer-valued
    * samples — the drift gauge with UNITS: KS reports the worst CDF gap
    * (scale-free, blind to how far the mass moved), W₁ reports the
    * average distance the probability mass must travel, in the value's
    * own units (cents, tokens, ms) — the number a cost model can consume.
    * W₁ = ∫|F_a − F_b| dx = Σ_v |F_a(v) − F_b(v)|·(next_v − v) over the
    * distinct-value grid.
    *
    * Exactness: the integrand enters as the exact decimal
    * |ccaᵥ·n_b − ccbᵥ·n_a|·gapᵥ (cumulatives from the SAME bucketed
    * prefix scan as ksStatistic — no unpartitioned window at any scale);
    * `next_v` comes from ranking the grid with a second prefix scan and
    * self-joining rank→rank+1 (two O(distinct) shuffles, neighbor access
    * without a global window). The decimal sum is exact; w1 is ONE
    * trunc6'd double division by n_a·n_b. The max grid point contributes
    * 0 (both CDFs are 1 there). Emits ONE row
    * (n_a, n_b, w1_num, w1) — w1_num = W₁·n_a·n_b as a double of the
    * exact decimal (exact below 2⁵³); an empty side emits w1 NULL. */
  def wassersteinDistance(a: DataFrame, b: DataFrame,
                          value: String): DataFrame = {
    Seq("a" -> a, "b" -> b).foreach { case (side, df) =>
      require(integralTypes.contains(df.schema(value).dataType),
        s"wassersteinDistance ranks '$value' on an exact integer grid; " +
          s"side $side has ${df.schema(value).dataType} — scale to " +
          "cents/int64 first")
    }
    def cnt(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull)
        .groupBy(col(value).cast("long").as("_v"))
        .agg(count(lit(1)).as(out))
    val m = cnt(a, "_ca").join(cnt(b, "_cb"), Seq("_v"), "full_outer")
      .select(col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .withColumn("_one", lit(1L))
    val p = orderedPrefixSum(
      orderedPrefixSum(
        orderedPrefixSum(m, col("_v"), "_v", "_ca", "_cca"),
        col("_v"), "_v", "_cb", "_ccb"),
      col("_v"), "_v", "_one", "_rk")
    val nxt = p.select((col("_rk") - 1L).as("_rk"), col("_v").as("_vn"))
    val tot = m.groupBy().agg(coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"))
    val dec = "decimal(38,0)"
    val term = abs(col("_cca").cast(dec) * col("n_b").cast(dec)
        - col("_ccb").cast(dec) * col("n_a").cast(dec)) *
      coalesce(col("_vn") - col("_v"), lit(0L)).cast(dec)
    p.join(nxt, Seq("_rk"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(term).as("_w"))
      .select(col("n_a"), col("n_b"),
        col("_w").cast("double").as("w1_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("_w").cast("double")
            / (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double")
            * 1000000d) / 1000000d)
          .as("w1"))
  }

  /** ksStatistic computed PER GROUP in one plan — "did the length
    * distribution shift, for every language at once?" The global form's
    * bucketed prefix scan, run KEYED: cumulative counts ride
    * orderedPrefixSumKeyed over the (group, distinct value) grid and the
    * group totals are a grouped agg re-joined — never `PARTITION BY group`
    * windows, which would one-task-sort each group's whole grid at scale
    * (group keys here are langs/categories with ~constant cardinality, and
    * a busy group's distinct-value grid alone can reach 10⁷ rows). Same
    * exact-decimal gap arithmetic and trunc6'd division as ksStatistic.
    * Groups missing from one slice emit NULL ks (n of the absent side 0)
    * rather than vanishing — absence of a whole group IS drift worth
    * seeing. Emits (group, n_a, n_b, d_num, ks). */
  def ksStatisticByGroup(a: DataFrame, b: DataFrame, group: String,
                         value: String): DataFrame = {
    Seq("a" -> a, "b" -> b).foreach { case (side, df) =>
      require(integralTypes.contains(df.schema(value).dataType),
        s"ksStatisticByGroup ranks '$value' on an exact integer grid; side " +
          s"$side has ${df.schema(value).dataType} — scale to int64 first")
    }
    val emitted = Seq("n_a", "n_b", "d_num", "ks",
      "_v", "_ca", "_cb", "_cca", "_ccb", "_d")
    require(!emitted.contains(group),
      s"ksStatisticByGroup emits/uses ${emitted.mkString(", ")}; rename inputs")
    def cnt(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull && col(group).isNotNull)
        .groupBy(col(group), col(value).cast("long").as("_v"))
        .agg(count(lit(1)).as(out))
    val m = cnt(a, "_ca").join(cnt(b, "_cb"), Seq(group, "_v"), "full_outer")
      .select(col(group), col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .localCheckpoint(true) // feeds both cumulatives and the totals join
    val dec = "decimal(38,0)"
    // cumulatives from the KEYED bucketed prefix scan and totals from a
    // grouped agg re-joined — never `PARTITION BY group` windows: the
    // group key (lang, event_type) has ~constant cardinality, so such a
    // window one-task-sorts each group's whole grid at scale (the
    // round-11 partitioned-by-a-constant lesson)
    val p = joinGroupTotals(
      orderedPrefixSumsKeyed(m, col(group), col("_v"), "_v",
        Seq("_ca" -> "_cca", "_cb" -> "_ccb")),
      m, group, ("_ca", "n_a"), ("_cb", "n_b"))
    p.groupBy(col(group), col("n_a"), col("n_b"))
      .agg(max(abs(col("_cca").cast(dec) * col("n_b").cast(dec)
        - col("_ccb").cast(dec) * col("n_a").cast(dec))).as("_d"))
      .select(col(group), col("n_a"), col("n_b"),
        col("_d").cast("long").as("d_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("_d").cast("double")
            / (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double")
            * 1000000d) / 1000000d)
          .as("ks"))
  }

  /** wassersteinDistance computed PER GROUP in one plan — which segment's
    * distribution moved, and HOW FAR in the value's own units (the
    * ksStatisticByGroup pattern with the W₁ integrand). The global form's
    * machinery run KEYED: cumulatives and the grid rank ride
    * orderedPrefixSumKeyed, totals are a grouped agg re-joined, and the
    * next-value lead is the rank→rank+1 self-join — never a `PARTITION BY
    * group` window (one-task sort per group at scale for a ~constant-
    * cardinality group key). Same exact decimal integrand
    * |cca·n_b − ccb·n_a|·gap and trunc6'd division as the global form;
    * groups missing from one side emit NULL w1. Emits
    * (group, n_a, n_b, w1_num, w1). */
  def wassersteinByGroup(a: DataFrame, b: DataFrame, group: String,
                         value: String): DataFrame = {
    Seq("a" -> a, "b" -> b).foreach { case (side, df) =>
      require(integralTypes.contains(df.schema(value).dataType),
        s"wassersteinByGroup ranks '$value' on an exact integer grid; " +
          s"side $side has ${df.schema(value).dataType} — scale to int64 " +
          "first")
    }
    val emitted = Seq("n_a", "n_b", "w1_num", "w1",
      "_v", "_ca", "_cb", "_cca", "_ccb", "_vn", "_w", "_one", "_rk")
    require(!emitted.contains(group),
      s"wassersteinByGroup emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    def cnt(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull && col(group).isNotNull)
        .groupBy(col(group), col(value).cast("long").as("_v"))
        .agg(count(lit(1)).as(out))
    val m = cnt(a, "_ca").join(cnt(b, "_cb"), Seq(group, "_v"), "full_outer")
      .select(col(group), col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .withColumn("_one", lit(1L))
      .localCheckpoint(true) // feeds cumulatives, rank, totals, the lead join
    val dec = "decimal(38,0)"
    // cumulatives + a per-group rank from the KEYED bucketed prefix scan,
    // totals from a grouped agg re-joined, and the next-value lead as the
    // global wassersteinDistance's rank→rank+1 self-join — never a
    // `PARTITION BY group` window (one-task sort per group at scale when
    // the group key has ~constant cardinality)
    val ranked = joinGroupTotals(
      orderedPrefixSumsKeyed(m, col(group), col("_v"), "_v",
        Seq("_ca" -> "_cca", "_cb" -> "_ccb", "_one" -> "_rk")),
      m, group, ("_ca", "n_a"), ("_cb", "n_b"))
      .localCheckpoint(true) // both sides of the lead self-join read it
    val nxt = ranked.select(col(group), (col("_rk") - 1L).as("_rk"),
      col("_v").as("_vn"))
    // name-equality join: NULL group keys would never match themselves
    // here — safe because the cnt() filter above drops NULL groups before
    // this point (joinGroupTotals' <=> convention is not needed); if that
    // filter is ever relaxed, switch this to a null-safe <=> condition
    val p = ranked.join(nxt, Seq(group, "_rk"), "left")
    val term = abs(col("_cca").cast(dec) * col("n_b").cast(dec)
        - col("_ccb").cast(dec) * col("n_a").cast(dec)) *
      coalesce(col("_vn") - col("_v"), lit(0L)).cast(dec)
    p.groupBy(col(group), col("n_a"), col("n_b"))
      .agg(sum(term).as("_w"))
      .select(col(group), col("n_a"), col("n_b"),
        col("_w").cast("double").as("w1_num"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("_w").cast("double")
            / (col("n_a").cast(dec) * col("n_b").cast(dec)).cast("double")
            * 1000000d) / 1000000d)
          .as("w1"))
  }

  /** rankSumAuc computed PER GROUP in one plan — the grouped companion of
    * ksStatisticByGroup, same keyed-prefix-scan shape (the b-side
    * cumulative from orderedPrefixSumKeyed, totals from a grouped agg
    * re-joined — never `PARTITION BY group` windows) with the
    * rank-sum identity instead of the max gap: per group,
    * 2·U_a = Σ_v cₐ(v)·(2·cbBelow(v) + c_b(v)), summed in exact decimal.
    * AUC answers "how big is the typical shift" per group where KS
    * answers "how big is the worst gap" — run both over the same grid.
    * `value` must be integral in both slices. Emits (group, n_a, n_b,
    * u2_a, auc_a); one-sided groups emit NULL auc_a. */
  def rankSumAucByGroup(a: DataFrame, b: DataFrame, group: String,
                        value: String): DataFrame = {
    Seq("a" -> a, "b" -> b).foreach { case (side, df) =>
      require(integralTypes.contains(df.schema(value).dataType),
        s"rankSumAucByGroup ranks '$value' on an exact integer grid; side " +
          s"$side has ${df.schema(value).dataType} — scale to int64 first")
    }
    val emitted = Seq("n_a", "n_b", "u2_a", "auc_a",
      "_v", "_ca", "_cb", "_ccb", "_u2")
    require(!emitted.contains(group),
      s"rankSumAucByGroup emits/uses ${emitted.mkString(", ")}; rename inputs")
    def cnt(df: DataFrame, out: String) =
      df.filter(col(value).isNotNull && col(group).isNotNull)
        .groupBy(col(group), col(value).cast("long").as("_v"))
        .agg(count(lit(1)).as(out))
    val m = cnt(a, "_ca").join(cnt(b, "_cb"), Seq(group, "_v"), "full_outer")
      .select(col(group), col("_v"), coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .localCheckpoint(true) // feeds the cumulative and the totals join
    val dec = "decimal(38,0)"
    val u2 = col("_ca").cast(dec) *
      (lit(2L).cast(dec) * (col("_ccb") - col("_cb")).cast(dec)
        + col("_cb").cast(dec))
    // the b-side cumulative from the keyed bucketed prefix scan, totals
    // from a grouped agg re-joined — the ksStatisticByGroup re-plan
    joinGroupTotals(
      orderedPrefixSumKeyed(m, col(group), col("_v"), "_v", "_cb", "_ccb"),
      m, group, ("_ca", "n_a"), ("_cb", "n_b"))
      .groupBy(col(group), col("n_a"), col("n_b"))
      .agg(sum(u2).as("_u2s"))
      .select(col(group), col("n_a"), col("n_b"),
        col("_u2s").cast("long").as("u2_a"),
        when(col("n_a") > 0 && col("n_b") > 0,
          floor(col("_u2s").cast("double")
            / (lit(2L).cast(dec) * col("n_a").cast(dec) * col("n_b").cast(dec))
              .cast("double") * 1000000d) / 1000000d)
          .as("auc_a"))
  }

  /** Per-key TIME-weighted average over irregularly-sampled values (step
    * interpolation): each sample holds until the next one, so
    * twap = Σᵢ vᵢ·(tᵢ₊₁ − tᵢ) / (t_last − t_first) — the mean a plain
    * avg() gets wrong whenever sampling density correlates with value
    * (bursty metrics, trade prices, sensor feeds). Exactness: values
    * truncate to cents (decimal(18,2), the exactSum convention), each
    * vᵢ·Δtᵢ is an exact decimal·int64 product, the per-key sum is exact
    * decimal (order-independent under any partitioning), the denominator
    * is an exact int64 span, and the single final division is trunc6'd on
    * both engines. One keyed window exchange (the lead) and a keyed agg
    * that REUSES the same partitioning — one shuffle total. Ties on `ts`
    * order by `tiebreak` (deterministic cross-engine; tied samples get
    * Δt 0 and drop out regardless). Keys with one sample (span 0) emit
    * NULL twap — there is no interval to average over. NULL ts/value rows
    * drop. Emits (key, n_samples, span_ms, twap). */
  def timeWeightedAvg(df: DataFrame, key: String, ts: String, tiebreak: String,
                      value: String): DataFrame = {
    val emitted = Seq("n_samples", "span_ms", "twap", "_ms", "_dt", "_wv")
    require(!emitted.exists(df.columns.contains),
      s"timeWeightedAvg emits/uses ${emitted.mkString(", ")}; rename inputs")
    val base = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .withColumn("_ms", ms(col(ts)))
    val w = Window.partitionBy(col(key))
      .orderBy(col("_ms").asc, col(tiebreak))
    base
      .withColumn("_dt", lead(col("_ms"), 1).over(w) - col("_ms"))
      .withColumn("_wv", col(value).cast("decimal(18,2)") * col("_dt"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_samples"),
        (max(col("_ms")) - min(col("_ms"))).as("span_ms"),
        sum(col("_wv")).as("_swv"))
      .select(col(key), col("n_samples"), col("span_ms"),
        when(col("span_ms") > 0,
          floor(col("_swv").cast("double") / col("span_ms").cast("double")
            * 1000000d) / 1000000d)
          .as("twap"))
  }

  /** 2-D Pareto frontier (skyline), maximizing both dimensions: keep the
    * rows no other row beats weakly in both `x` and `y` and strictly in at
    * least one — the "best trade-offs" query (recency × quality, cost ×
    * score) that naively needs an all-pairs NOT EXISTS. Here it is the
    * distributed suffix-max scan (withLateFlag's bucket scheme, run in
    * descending x): range-bucket on x, per-bucket max-y aggregate, an
    * O(buckets) driver suffix-max broadcast back, then two PARTITIONED
    * range-frame windows per bucket — a row is dominated iff some x-peer
    * (or any later x) carries a strictly larger y, or any strictly-later x
    * carries y at least as large. No all-pairs product at any scale; the
    * only row-count-sized stage is one bucket-keyed window sort.
    *
    * `x` must be INTEGRAL: the strict "later x" frame is RANGE … TO −1,
    * which is exactly x′ ≥ x+1 only on unit-spaced ordinals (epoch-ms,
    * ids, counts). `y` may be any numeric; dominance compares it as
    * DOUBLE (comparisons only, no arithmetic — engine-exact). Rows with
    * NULL x or y drop: they have no position on the frontier. Equal
    * (x, y) duplicates do not dominate each other — all survive, the
    * standard skyline convention. Emits the surviving input rows
    * unchanged. */
  def skylineMax2D(df: DataFrame, x: String, y: String): DataFrame = {
    require(integralTypes.contains(df.schema(x).dataType),
      s"skylineMax2D needs an integral x for the strict range frame; " +
        s"'$x' is ${df.schema(x).dataType} — bucket or scale it to int64")
    val emitted = Seq("_bucket", "_later_max", "_dom")
    require(!emitted.exists(df.columns.contains),
      s"skylineMax2D uses ${emitted.mkString(", ")} internally; rename inputs")
    val spark = df.sparkSession
    import spark.implicits._
    val clean = df.filter(col(x).isNotNull && col(y).isNotNull)
    val nBuckets = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    val bucket = timeRangeBucket(clean, col(x).cast("long"), nBuckets)
      .getOrElse(return clean) // no non-NULL rows: empty frontier
    val b = clean.withColumn("_bucket", bucket)
    // exclusive SUFFIX max of y across buckets: later buckets hold
    // strictly larger x, so their max-y dominates by the strict rule
    // driver-bounded: O(buckets) suffix maxima
    val bucketMax = b.groupBy(col("_bucket"))
      .agg(max(col(y).cast("double")).as("mx"))
      .collect().filter(!_.isNullAt(1))
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(-_._1)
    var running = Double.NegativeInfinity
    val suffix = bucketMax.map { case (bk, mx) =>
      val after = running; running = math.max(running, mx); (bk, after)
    }.filter(!_._2.isNegInfinity).toSeq
    val suffixDf = suffix.toDF("_bucket", "_later_max")
    val yd = col(y).cast("double")
    val wStrict = Window.partitionBy(col("_bucket")).orderBy(col(x).desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val wIncl = Window.partitionBy(col("_bucket")).orderBy(col(x).desc)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val strictAll = greatest(max(yd).over(wStrict), col("_later_max"))
    b.join(broadcast(suffixDf), Seq("_bucket"), "left")
      .withColumn("_dom", (max(yd).over(wIncl) > yd) ||
        (strictAll.isNotNull && strictAll >= yd))
      .filter(!col("_dom"))
      .select(clean.columns.map(col).toSeq: _*)
  }

  /** Per-key union length of half-open [start, end) intervals — the
    * coverage question (how much wall-clock was this key active, how many
    * contiguous stretches?) that a naive per-pair overlap join answers
    * quadratically. One keyed (start, end)-ordered window sort does it
    * linearly: a row opens a new ISLAND iff its start exceeds the running
    * max end of all earlier rows in its key; island extent is max(end) −
    * min(start) because coverage inside an island is contiguous by
    * construction. Both window passes share ONE exchange + sort (same
    * partition/order); then two hash aggs of O(islands) rows. Tie order
    * among equal starts cannot change the result (an interval can never
    * break away from an equal-start peer — its start is not past the
    * peer's end), so no tiebreak column is needed for determinism.
    * Integral bounds required (coverage is exact int64 arithmetic);
    * NULL or non-positive-length intervals FAIL LOUDLY — a boundless or
    * empty interval in a coverage sum is an upstream data bug, and
    * dropping it silently would understate coverage. */
  def intervalUnionLength(df: DataFrame, key: String, start: String,
                          end: String): DataFrame = {
    Seq(start, end).foreach(c => require(
      integralTypes.contains(df.schema(c).dataType),
      s"intervalUnionLength needs integral bounds; '$c' is " +
        s"${df.schema(c).dataType} — convert to epoch-ms first"))
    val emitted = Seq("n_intervals", "n_islands", "covered", "_pm", "_island")
    require(!emitted.exists(df.columns.contains),
      s"intervalUnionLength emits ${emitted.mkString(", ")}; rename inputs")
    val guard = assert_true(
      col(start).isNotNull && col(end).isNotNull && col(end) > col(start),
      concat(lit(s"intervalUnionLength: need non-NULL '$start' < '$end'; " +
        "got ["), coalesce(col(start).cast("string"), lit("NULL")), lit(", "),
        coalesce(col(end).cast("string"), lit("NULL")), lit(")")))
    val ord = Seq(col(start).asc, col(end).asc)
    val wPrev = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(guard.isNull)
      .withColumn("_pm", max(col(end)).over(wPrev))
      .withColumn("_island",
        sum(when(col("_pm").isNull || col(start) > col("_pm"), 1)
          .otherwise(0)).over(wRun))
      .groupBy(col(key), col("_island"))
      .agg(count(lit(1)).as("_cnt"),
        (max(col(end)) - min(col(start))).as("_len"))
      .groupBy(col(key))
      .agg(sum(col("_cnt")).as("n_intervals"),
        count(lit(1)).as("n_islands"), sum(col("_len")).as("covered"))
  }

  /** Per-key CUSUM changepoint: where in a key's event-time series did the
    * level shift? The statistic is max over positions i of
    * |S_i − (i/n)·T| — the gap between the observed prefix sum and the
    * no-change straight line — and the changepoint estimate is the
    * earliest position attaining it. Exactness: multiply the deviation
    * through by n so D_i = n·S_i − i·T stays INTEGER (exact decimal(38,0)
    * products — n·|S| bounded by 10³⁸, far past any real series); the
    * single reported double is max|D_i|/n/100 (cents → value units), a
    * fixed correctly-rounded chain trunc6'd on both engines. `value` must
    * be integral (cents grid, the rankSumAuc contract). Plan shape: one
    * keyed window exchange carries the row number, the running sum, AND
    * the whole-series n/T (same partitioning, same sort — rank frames and
    * the unbounded frame share one WindowExec pass), a second window pass
    * on the SAME partitioning takes the per-key max, then a keyed agg
    * reuses it once more — one shuffle total, zero driver participation.
    * Argmax tie (two positions with equal |D|) resolves to the EARLIEST
    * (ms, tiebreak) — deterministic cross-engine. Ties on ts order by
    * `tiebreak`. Single-event keys emit cusum 0 at their only row.
    * NULL ts/value rows drop. Emits
    * (key, n_events, total, change_idx, change_ms, cusum). */
  def cusumChangepoint(df: DataFrame, key: String, ts: String,
                       tiebreak: String, value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"cusumChangepoint accumulates '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("n_events", "total", "change_idx", "change_ms", "cusum",
      "_ms", "_i", "_s", "_n", "_t", "_d", "_mx")
    require(!emitted.exists(df.columns.contains),
      s"cusumChangepoint emits/uses ${emitted.mkString(", ")}; rename inputs")
    val dec = "decimal(38,0)"
    val base = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .withColumn("_ms", ms(col(ts)))
    val ord = Seq(col("_ms").asc, col(tiebreak))
    val wRun = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col(key)) // whole-series frame
    base
      .withColumn("_i", row_number().over(
        Window.partitionBy(col(key)).orderBy(ord: _*)))
      .withColumn("_s", sum(col(value).cast("long")).over(wRun))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_t", sum(col(value).cast("long")).over(wAll))
      .withColumn("_d", abs(col("_n").cast(dec) * col("_s").cast(dec)
        - col("_i").cast(dec) * col("_t").cast(dec)))
      .withColumn("_mx", max(col("_d")).over(wAll))
      .filter(col("_d") === col("_mx"))
      .groupBy(col(key))
      .agg(max(col("_n")).as("n_events"), max(col("_t")).as("total"),
        min(col("_i")).as("change_idx"),
        min_by(col("_ms"), col("_i")).as("change_ms"),
        max(col("_mx")).as("_m"))
      .select(col(key), col("n_events"), col("total"),
        col("change_idx").cast("long").as("change_idx"), col("change_ms"),
        (floor(col("_m").cast("double") / col("n_events").cast("double")
          / 100d * 1000000d) / 1000000d).as("cusum"))
  }

  /** Benford's-law expected share of first significant digit d:
    * log10(1 + 1/d), computed ONCE in Scala so the identical IEEE double
    * reaches both the Column plan (as a literal) and the oracle SQL text
    * (as its shortest-round-trip rendering — parses back to the same
    * bits). The one place a transcendental is safe: it is a compile-time
    * CONSTANT, never per-row engine math. */
  private[graft] val benfordExpected: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1d + 1d / d))

  /** First-significant-digit (Benford) audit of a positive integer-grid
    * measure — the fraud/data-bug screen: organically-generated amounts
    * follow log10(1+1/d) per leading digit; fabricated or clipped ones
    * don't. `value` must be integral (cents grid — first significant
    * digit is invariant under the ×100 scaling) and only values > 0
    * participate (zero/negative amounts have no leading digit; the cents
    * floor drops sub-cent noise by design). Exactness: counts are
    * integers; the leading digit is string head of the int64 decimal
    * rendering (identical on every engine — no float log); share and
    * dev = share − expected are single correctly-rounded divisions
    * against the shared literal, trunc6'd. Plan shape: one partial-agg'd
    * groupBy on the digit (≤ 9 rows), a 1-row total broadcast back —
    * nothing scales with rows but the scan. Emits (digit, n, share,
    * expected, dev) for the digits that OCCUR (absent digits are absent
    * on both engines — a digit with zero support is itself a red flag
    * worth seeing in the report's row count). */
  def benfordFirstDigit(df: DataFrame, value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"benfordFirstDigit reads '$value' on an exact integer grid; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("digit", "n", "share", "expected", "dev", "_tot")
    require(!emitted.exists(df.columns.contains),
      s"benfordFirstDigit emits/uses ${emitted.mkString(", ")}; rename inputs")
    val counts = df
      .filter(col(value).isNotNull && col(value) > 0)
      .groupBy(substring(col(value).cast("string"), 1, 1).cast("int")
        .as("digit"))
      .agg(count(lit(1)).as("n"))
    val tot = counts.groupBy()
      .agg(coalesce(sum(col("n")), lit(0L)).as("_tot"))
    val exp = element_at(array(benfordExpected.map(lit): _*), col("digit"))
    val share = col("n").cast("double") / col("_tot").cast("double")
    counts.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (floor(share * 1000000d) / 1000000d).as("share"),
        exp.as("expected"),
        (floor((share - exp) * 1000000d) / 1000000d).as("dev"))
  }

  /** Per-group LOWER WEIGHTED median: the smallest value v whose
    * cumulative weight reaches half the group's total — "the price at
    * which half the shipped QUANTITY sits below", the volume-weighted
    * center a row-median gets wrong whenever weight correlates with
    * value. Rank-exact, not interpolated (the winsorizeRank argument):
    * the answer is an actual data value chosen by INTEGER comparisons —
    * 2·cumW ≥ totalW — so there is no float anywhere and no engine can
    * disagree. `value` and `weight` must be integral (cents/count
    * grids); NULL value/weight rows drop; a non-positive weight FAILS
    * LOUDLY (a zero or negative weight in a median is an upstream data
    * bug — silently dropping it would move the median). Plan shape: RAW
    * rows go STRAIGHT into one keyed bucketed prefix scan (the fused
    * WithTotals form carries cumulative weight AND the group total in
    * the same pass) — no (group, value) pre-aggregation grid at all
    * (rounds 12-13 built one, which cost a full extra shuffle plus an
    * eager checkpoint of a near-row-count frame before the machinery
    * checkpointed it AGAIN; the r13 verdict flagged the query flat).
    * Dropping the grid is sound because per-row PARTIAL cumulative
    * weights cannot move the answer: within one value v the rows'
    * partials are order-dependent, but the LAST row always carries the
    * full cumW(v), `≥` crossing is monotone in the partial, and rows of
    * every smaller value carry partials ≤ their full cumW — which did
    * not cross — so min(v | some row crosses) IS the grid's median,
    * whatever order ties land in. Never a `PARTITION BY group` window
    * (the group key has ~constant cardinality, so each "partition" would
    * be a one-task sort of that group's whole frame at scale). 2·cumW
    * fails loud past ~4.6·10¹⁸ total weight under ANSI. Emits
    * (group, total_weight, wmedian). */
  def weightedMedian(df: DataFrame, group: String, value: String,
                     weight: String): DataFrame = {
    Seq(value, weight).foreach(c => require(
      integralTypes.contains(df.schema(c).dataType),
      s"weightedMedian needs integral '$c'; got ${df.schema(c).dataType} " +
        "— scale to cents/int64 first"))
    val emitted = Seq("total_weight", "wmedian", "_v", "_w", "_cw", "_tw")
    require(!emitted.contains(group) && !df.columns.exists(emitted.contains),
      s"weightedMedian emits/uses ${emitted.mkString(", ")}; rename inputs")
    val guard = assert_true(col(weight) > 0,
      concat(lit("weightedMedian: non-positive weight (an upstream data " +
        "bug — dropping it silently would move the median); got "),
        col(weight).cast("string")))
    val g = df.filter(col(value).isNotNull && col(weight).isNotNull)
      .filter(guard.isNull)
      .select(col(group), col(value).cast("long").as("_v"),
        col(weight).cast("long").as("_w"))
    orderedPrefixSumsKeyedWithTotals(g, col(group), col("_v"), "_v",
      Seq("_w" -> "_cw"), Seq("_w" -> "_tw"))
      .filter(lit(2L) * col("_cw") >= col("_tw"))
      .groupBy(col(group))
      .agg(max(col("_tw")).as("total_weight"), min(col("_v")).as("wmedian"))
  }

  /** Welch's two-sample t² between the VALUE distributions of two cohorts
    * of ONE frame — the unequal-variance "did the mean move?" test that
    * complements rankSumAuc (average rank shift) and ksStatistic (max CDF
    * gap) with the classical parametric effect size. Cohorts come as a
    * boolean Column over the same scan (the q_ab_test shape) so both
    * slices' moment sums accumulate in ONE conditional-count aggregate
    * pass — no join, no second scan; NULL-cohort and NULL-value rows
    * drop. Exactness: per-cohort n/Σv/Σv² accumulate EXACTLY (decimal
    * sums of int64 products — order-independent under any partitioning),
    * and only then does a fixed double chain run: t² = d²/(s²ₐ/nₐ+s²_b/n_b)
    * and the Welch–Satterthwaite df, every +,*,/,sqrt correctly rounded
    * over identical operands in identical order, trunc6'd — bit-identical
    * on any engine. `value` must be integral (cents grid), and Σv² must
    * stay under 10^38 (true for cents at corpus scale); overflow fails
    * loud under ANSI. Emits ONE row
    * (n_a, n_b, mean_a, mean_b, t2, df_welch) in INPUT units; cohorts
    * with n ≤ 1 or zero pooled variance yield NULL t2/df_welch, empty
    * cohorts also NULL means. The plan is streaming-compatible VERBATIM
    * (complete mode — one conditional agg; StreamingParitySpec pins the
    * final table to the batch run). */
  def welchTTest(df: DataFrame, cohortA: Column, value: String): DataFrame =
    welchStats(df, Nil, cohortA, value)

  /** Per-group Welch's t² — welchTTest once per group value in the same
    * single conditional-count pass (one partial-agg'd keyed shuffle, one
    * row per group), the ksStatisticByGroup pattern: did the cohort mean
    * move, and in WHICH segment? Same exactness contract and NULL
    * discipline as welchTTest. Emits
    * (group, n_a, n_b, mean_a, mean_b, t2, df_welch). */
  def welchTTestByGroup(df: DataFrame, group: String, cohortA: Column,
                        value: String): DataFrame = {
    val emitted = Seq("n_a", "n_b", "mean_a", "mean_b", "t2", "df_welch")
    require(!emitted.contains(group),
      s"welchTTestByGroup emits ${emitted.mkString(", ")}; rename the " +
        "group column")
    welchStats(df, Seq(col(group)), cohortA, value)
  }

  private def welchStats(df: DataFrame, groupCols: Seq[Column],
                         cohortA: Column, value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"welchTTest accumulates '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val vd = col(value).cast("decimal(19,0)")
    val aggs = Seq(
      count(when(cohortA, lit(1))).cast("double").as("_na"),
      sum(when(cohortA, vd)).cast("double").as("_sa"),
      sum(when(cohortA, vd * vd)).cast("double").as("_ssa"),
      count(when(!cohortA, lit(1))).cast("double").as("_nb"),
      sum(when(!cohortA, vd)).cast("double").as("_sb"),
      sum(when(!cohortA, vd * vd)).cast("double").as("_ssb"))
    val filtered = df.filter(col(value).isNotNull && cohortA.isNotNull)
    val stats =
      if (groupCols.isEmpty) filtered.agg(aggs.head, aggs.tail: _*)
      else filtered.groupBy(groupCols: _*).agg(aggs.head, aggs.tail: _*)
    // fixed left-assoc chains, mirrored verbatim in the oracle SQL
    val va = col("_na") * col("_ssa") - col("_sa") * col("_sa")
    val vb = col("_nb") * col("_ssb") - col("_sb") * col("_sb")
    val sna = va / (col("_na") - 1d) / col("_na") / col("_na")
    val snb = vb / (col("_nb") - 1d) / col("_nb") / col("_nb")
    val den = sna + snb
    val d = col("_sa") / col("_na") - col("_sb") / col("_nb")
    val ok = col("_na") > 1d && col("_nb") > 1d && den > 0d
    stats.select(groupCols ++ Seq(
      col("_na").cast("long").as("n_a"), col("_nb").cast("long").as("n_b"),
      when(col("_na") > 0d,
        floor(col("_sa") / col("_na") * 1000000d) / 1000000d).as("mean_a"),
      when(col("_nb") > 0d,
        floor(col("_sb") / col("_nb") * 1000000d) / 1000000d).as("mean_b"),
      when(ok, floor(d * d / den * 1000000d) / 1000000d).as("t2"),
      when(ok, floor(den * den
          / (sna * sna / (col("_na") - 1d) + snb * snb / (col("_nb") - 1d))
          * 1000000d) / 1000000d)
        .as("df_welch")): _*)
  }

  /** Difference-in-differences — the experimentation-tier estimator for
    * "what did the intervention do, net of the trend everyone rode":
    * DiD = (m_t,post − m_t,pre) − (m_c,post − m_c,pre) over the four
    * (treat × period) cells, with the classical four-cell standard error
    * (Σ s²ᵢ/nᵢ, cells independent) and z = DiD/se. The welchTTest
    * discipline exactly: ONE conditional-count aggregate pass
    * accumulates every cell's n/Σv/Σv² as exact decimals, then a fixed
    * left-assoc double chain runs, trunc6'd — bit-identical on any
    * engine. NULL treat/period/value rows drop. Emits ONE row
    * (n_c0, n_c1, n_t0, n_t1, did, se_did, z); any cell with n ≤ 1 (or
    * zero pooled variance) yields NULL se/z, any empty cell NULL did. */
  def diffInDiff(df: DataFrame, isTreat: Column, isPost: Column,
                 value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"diffInDiff accumulates '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val vd = col(value).cast("decimal(19,0)")
    def cell(p: Column, tag: String) = Seq(
      count(when(p, lit(1))).cast("double").as(s"_n$tag"),
      sum(when(p, vd)).cast("double").as(s"_s$tag"),
      sum(when(p, vd * vd)).cast("double").as(s"_q$tag"))
    val aggs = cell(!isTreat && !isPost, "c0") ++
      cell(!isTreat && isPost, "c1") ++
      cell(isTreat && !isPost, "t0") ++ cell(isTreat && isPost, "t1")
    def n(t: String) = col(s"_n$t")
    def m(t: String) = col(s"_s$t") / n(t)
    def sm(t: String) = // s²/n of the cell mean, the welch sna chain
      (n(t) * col(s"_q$t") - col(s"_s$t") * col(s"_s$t")) /
        (n(t) - 1d) / n(t) / n(t)
    val cells = Seq("c0", "c1", "t0", "t1")
    val did = m("t1") - m("t0") - (m("c1") - m("c0"))
    val seSq = sm("c0") + sm("c1") + sm("t0") + sm("t1")
    val allPos = cells.map(n(_) > 0d).reduce(_ && _)
    val ok = cells.map(n(_) > 1d).reduce(_ && _) && seSq > 0d
    df.filter(col(value).isNotNull && isTreat.isNotNull && isPost.isNotNull)
      .agg(aggs.head, aggs.tail: _*)
      .select(
        n("c0").cast("long").as("n_c0"), n("c1").cast("long").as("n_c1"),
        n("t0").cast("long").as("n_t0"), n("t1").cast("long").as("n_t1"),
        when(allPos, floor(did * 1000000d) / 1000000d).as("did"),
        when(ok, floor(sqrt(seSq) * 1000000d) / 1000000d).as("se_did"),
        when(ok, floor(did / sqrt(seSq) * 1000000d) / 1000000d).as("z"))
  }

  /** CUPED variance reduction (Deng et al., WSDM 2013 — public) — the
    * experimentation-tier adjustment that reclaims power from pre-period
    * data: θ = cov(x, y)/var(x) pooled over BOTH cohorts (the standard
    * practice — θ is a nuisance parameter, not an effect), and the
    * adjusted lift is diff_adj = (ȳ_t − ȳ_c) − θ·(x̄_t − x̄_c) — unbiased
    * for the true effect whenever assignment is independent of x, with
    * variance shrunk by the pre/post correlation². Input is a PER-UNIT
    * frame (one row per unit: pre-metric x, post-metric y, cohort flag).
    * Exactness: all moments (n, Σx, Σy, Σx², Σxy, per-cohort n/Σx/Σy)
    * accumulate as exact decimals in ONE conditional aggregate pass;
    * θ and both diffs are fixed left-assoc double chains, trunc6'd.
    * NULL x/y/cohort rows drop. Emits ONE row
    * (n_t, n_c, theta, diff_raw, diff_adj); zero pre-period variance or
    * an empty cohort yields NULL theta/diff_adj (diff_raw needs only
    * non-empty cohorts). */
  def cupedAdjustedDiff(df: DataFrame, isTreat: Column, pre: String,
                        post: String): DataFrame = {
    Seq(pre, post).foreach(c => require(
      integralTypes.contains(df.schema(c).dataType),
      s"cupedAdjustedDiff accumulates '$c' as exact integers; got " +
        s"${df.schema(c).dataType} — scale to cents/int64 first"))
    val xd = col(pre).cast("decimal(19,0)")
    val yd = col(post).cast("decimal(19,0)")
    val aggs = Seq(
      count(lit(1)).cast("double").as("_n"),
      sum(xd).cast("double").as("_sx"),
      sum(yd).cast("double").as("_sy"),
      sum(xd * xd).cast("double").as("_sxx"),
      sum(xd * yd).cast("double").as("_sxy"),
      count(when(isTreat, lit(1))).cast("double").as("_nt"),
      sum(when(isTreat, xd)).cast("double").as("_sxt"),
      sum(when(isTreat, yd)).cast("double").as("_syt"),
      count(when(!isTreat, lit(1))).cast("double").as("_nc"),
      sum(when(!isTreat, xd)).cast("double").as("_sxc"),
      sum(when(!isTreat, yd)).cast("double").as("_syc"))
    val varX = col("_n") * col("_sxx") - col("_sx") * col("_sx")
    val covXY = col("_n") * col("_sxy") - col("_sx") * col("_sy")
    val theta = covXY / varX
    val diffRaw = col("_syt") / col("_nt") - col("_syc") / col("_nc")
    val diffAdj = diffRaw -
      theta * (col("_sxt") / col("_nt") - col("_sxc") / col("_nc"))
    val both = col("_nt") > 0d && col("_nc") > 0d
    val ok = both && varX > 0d
    df.filter(col(pre).isNotNull && col(post).isNotNull
        && isTreat.isNotNull)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("_nt").cast("long").as("n_t"),
        col("_nc").cast("long").as("n_c"),
        when(col("_n") > 0d && varX > 0d,
          floor(theta * 1000000d) / 1000000d).as("theta"),
        when(both, floor(diffRaw * 1000000d) / 1000000d).as("diff_raw"),
        when(ok, floor(diffAdj * 1000000d) / 1000000d).as("diff_adj"))
  }

  /** Per-group trimmed mean — the robust location estimate between the
    * median (throws away everything but rank n/2) and the mean (lets one
    * corrupt amount move the answer): drop the lowest and highest
    * ⌊trimPerMille·n/1000⌋ values, average the rest. Rank-exact: rows get
    * a DETERMINISTIC total order (value, then `tiebreak`) via row_number,
    * the trim cut is integer arithmetic on that rank, and the kept-side
    * sum accumulates exactly in decimal — so the result is bit-identical
    * on any engine/partitioning, with ONE trunc6'd division at the edge.
    * Plan shape: the per-group rank from the keyed bucketed prefix scan
    * and the group size from a grouped count re-joined (never a
    * `PARTITION BY group` window — the group key is ~constant-cardinality
    * here, so each "partition" would be a one-task sort of that group's
    * whole frame at scale), then a keyed agg. Value ties cannot change the answer: however
    * the tiebreak orders equal values across the cut, the dropped
    * multiset is the same. For trimPerMille < 500 the kept side is never
    * empty (2·⌊n·t/1000⌋ < n), so every group keeps its row; the NULL
    * guard on the mean is belt-and-braces. `value` must be integral
    * (cents grid). NULL values drop.
    * Emits (group, n, n_kept, trimmed_mean) in INPUT units. */
  def trimmedMean(df: DataFrame, group: String, value: String,
                  tiebreak: String, trimPerMille: Int): DataFrame = {
    require(trimPerMille >= 0 && trimPerMille < 500,
      s"trimPerMille must be in [0, 500), got $trimPerMille")
    require(integralTypes.contains(df.schema(value).dataType),
      s"trimmedMean accumulates '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("n", "n_kept", "trimmed_mean", "_r", "_n", "_t", "_o1")
    require(!emitted.contains(group) && !df.columns.exists(emitted.contains),
      s"trimmedMean emits/uses ${emitted.mkString(", ")}; rename inputs")
    // per-group rank from the keyed bucketed prefix scan + group sizes
    // re-joined — never a PARTITION BY group row_number window, which
    // one-task-sorts each group's whole frame at scale when the group key
    // (event_type) has ~constant cardinality
    val filtered = df.filter(col(value).isNotNull)
      .withColumn("_o1", lit(1L))
    val base = joinGroupTotals(
        orderedPrefixSumKeyed(filtered, col(group), col(value), tiebreak,
          "_o1", "_r"),
        filtered, group, ("_o1", "_n"))
      // genuinely integral `div` (≡ DuckDB //), not double-promoting `/`:
      // exact at any n, matching the make-divisible convention elsewhere
      .withColumn("_t",
        expr(s"(_n * CAST($trimPerMille AS BIGINT)) div CAST(1000 AS BIGINT)"))
    val kept = col("_r") > col("_t") && col("_r") <= col("_n") - col("_t")
    base.groupBy(col(group))
      .agg(max(col("_n")).as("n"),
        count(when(kept, lit(1))).as("n_kept"),
        sum(when(kept, col(value).cast("decimal(19,0)")))
          .cast("double").as("_s"))
      .select(col(group), col("n"), col("n_kept"),
        when(col("n_kept") > 0,
          floor(col("_s") / col("n_kept").cast("double") * 1000000d)
            / 1000000d).as("trimmed_mean"))
  }

  /** Per-key expanding-window anomaly flags — "which events sit more than
    * k·σ from the running mean of everything BEFORE them?", the
    * sequential data-quality screen that robustOutliers (whole-group
    * percentiles) cannot express: an early regime is judged only by its
    * own past, so a level shift flags at the shift, not retroactively.
    * The comparison is EXACT INTEGER — the flag predicate
    * (v·n − S)² > k²·(n·SS − S²) is the k·σ test multiplied through by
    * n², evaluated wholly in decimal(38,0) on the prior-prefix count n,
    * sum S and sum-of-squares SS — so partitioning or float rounding can
    * NEVER flip a flag; the single reported double z = dev/√var is a
    * fixed correctly-rounded chain trunc6'd on both engines. Plan shape:
    * ONE keyed window exchange (row_number + both running sums share the
    * same partitioning+sort), then a pure filter/project — no second
    * shuffle, no driver participation, output bounded by the flag rate.
    * Events order by (ts ms, `tiebreak`) — deterministic cross-engine.
    * Rows with fewer than `minPrior` predecessors or zero prior variance
    * never flag (cold start / constant prefix). `value` must be integral
    * (cents grid) with n·Σv² under 10^38 per key — true for cents at
    * corpus scale; overflow fails loud under ANSI. NULL ts/value rows
    * drop. Emits flagged rows only:
    * (key, tiebreak, anomaly_ms, value, n_prior, z). */
  def expandingAnomaly(df: DataFrame, key: String, ts: String,
                       tiebreak: String, value: String,
                       k: Int, minPrior: Int): DataFrame = {
    require(k > 0, s"k (σ multiplier) must be positive, got $k")
    require(minPrior >= 2, s"minPrior must be >= 2 (variance needs 2 prior " +
      s"points), got $minPrior")
    require(integralTypes.contains(df.schema(value).dataType),
      s"expandingAnomaly accumulates '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("anomaly_ms", "n_prior", "z",
      "_ms", "_i", "_cs", "_css", "_n", "_s", "_ss", "_dev", "_var")
    require(!emitted.exists(df.columns.contains),
      s"expandingAnomaly emits/uses ${emitted.mkString(", ")}; rename inputs")
    val dec = "decimal(38,0)"
    val vd = col(value).cast("decimal(19,0)")
    val ord = Seq(col("_ms").asc, col(tiebreak).asc)
    val wRun = Window.partitionBy(col(key)).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df.filter(col(ts).isNotNull && col(value).isNotNull)
      .withColumn("_ms", ms(col(ts)))
      .withColumn("_i", row_number().over(
        Window.partitionBy(col(key)).orderBy(ord: _*)).cast("long"))
      .withColumn("_cs", sum(vd).over(wRun))
      .withColumn("_css", sum(vd * vd).over(wRun))
      // prior-prefix moments: everything strictly before this row
      .withColumn("_n", (col("_i") - 1L).cast(dec))
      .withColumn("_s", (col("_cs") - vd).cast(dec))
      .withColumn("_ss", (col("_css") - vd * vd).cast(dec))
      .withColumn("_dev", vd.cast(dec) * col("_n") - col("_s"))
      .withColumn("_var",
        col("_n") * col("_ss") - col("_s") * col("_s"))
    base
      .filter(col("_i") - 1L >= minPrior && col("_var") > 0 &&
        col("_dev") * col("_dev") >
          lit(k.toLong * k).cast(dec) * col("_var"))
      .select(col(key), col(tiebreak), col("_ms").as("anomaly_ms"),
        col(value),
        (col("_i") - 1L).as("n_prior"),
        (floor(col("_dev").cast("double")
          / sqrt(col("_var").cast("double")) * 1000000d) / 1000000d).as("z"))
  }

  /** Quantile normalization — map every row's value to the GLOBAL
    * distribution's value at the same quantile, the classic cross-group
    * feature alignment (make each language's quality scores comparable by
    * forcing every group onto one reference distribution). Rank-exact,
    * no interpolation, no floats anywhere: a row at within-group rank r
    * of n maps to the global value at rank ⌈r·N/n⌉ — an ACTUAL data
    * value chosen by integer comparisons, so engines cannot disagree.
    * The target rank is computed in decimal (exact past the ~3·10⁹-row
    * point where r·N would overflow int64). Scale shape: the per-group
    * rank from the keyed bucketed prefix scan + a grouped count re-joined
    * (never `PARTITION BY group` windows — the group key is ~constant-
    * cardinality by design, it is what the operator normalizes across);
    * the global side collapses to the DISTINCT-value grid (one partial-agg'd
    * hash agg), gets inclusive cumulative counts via orderedPrefixSum's
    * bucket scheme (parallel per-bucket scans + O(buckets) driver
    * offsets — never a single-task global window), and N comes from the
    * same grid (O(1) driver traffic). The rank→value lookup is the
    * rangeJoin trick transplanted to RANK space: each grid value covers
    * the rank interval (cum−cnt, cum]; explode it into ⌈len/grain⌉
    * rank-cells, equi-join rows on their target rank's cell (+ exact
    * residual) — every row meets its value in EXACTLY one cell, fan-out
    * per row bounded by grain+1 candidates, never all-pairs. `value`
    * must be integral (cents grid). NULL values drop. Emits
    * (group, tiebreak, value, qn_value). */
  def quantileNormalize(df: DataFrame, group: String, value: String,
                        tiebreak: String,
                        grainRanks: Long = 1024L): DataFrame = {
    require(grainRanks > 0, s"grainRanks must be positive, got $grainRanks")
    require(integralTypes.contains(df.schema(value).dataType),
      s"quantileNormalize ranks '$value' on an exact integer grid; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("qn_value",
      "_r", "_n", "_v", "_c", "_pc", "_lo", "_t", "_cell", "_o1")
    require(!emitted.exists(df.columns.contains),
      s"quantileNormalize emits/uses ${emitted.mkString(", ")}; rename inputs")
    val base = qnRankedBase(df, group, value, tiebreak)
    val grid = df.filter(col(value).isNotNull)
      .groupBy(col(value).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val gridP = orderedPrefixSum(grid, col("_v"), "_v", "_c", "_pc")
    // O(1) driver traffic, same contract as timeRangeBucket's bounds agg
    val nTotal = grid.agg(coalesce(sum(col("_c")), lit(0L))).head().getLong(0)
    if (nTotal == 0L)
      return base.select(col(group), col(tiebreak), col(value),
        lit(null).cast("long").as("qn_value"))
    qnExactFrom(base, gridP, nTotal, group, value, tiebreak, grainRanks)
  }

  /** The quantile-normalization family's shared per-row frame: per-group
    * rank `_r` + group size `_n` from ONE fused keyed bucketed prefix
    * scan (orderedPrefixSumsKeyedWithTotals — the rank's offsets frame
    * already holds every group's size, so no second aggregation+join) —
    * never PARTITION BY group windows (the group key is
    * ~constant-cardinality by design: that is what the operator
    * normalizes ACROSS). */
  private def qnRankedBase(df: DataFrame, group: String, value: String,
                           tiebreak: String): DataFrame =
    orderedPrefixSumsKeyedWithTotals(
      df.filter(col(value).isNotNull).withColumn("_o1", lit(1L)),
      col(group), col(value), tiebreak, Seq("_o1" -> "_r"),
      Seq("_o1" -> "_n"))

  /** ⌈r·N/n⌉ in exact decimal, then back to long (target rank ≤ N) —
    * shared by the exact map and the checked verdict. */
  private def qnTargetRank(nTotal: Long): Column = {
    val dec = "decimal(38,0)"
    val rN = col("_r").cast(dec) * lit(nTotal).cast(dec) +
      col("_n").cast(dec) - 1
    ((rN - pmod(rN, col("_n").cast(dec))) / col("_n").cast(dec))
      .cast("long")
  }

  /** The exact rank→grid-value map from a precomputed base/grid — the
    * tail of quantileNormalize, split out so quantileNormalizeChecked can
    * share ONE base and ONE grid prefix across its three paths. */
  private def qnExactFrom(base: DataFrame, gridP: DataFrame, nTotal: Long,
                          group: String, value: String, tiebreak: String,
                          grainRanks: Long): DataFrame = {
    def cellOf(c: Column): Column =
      ((c - pmod(c, lit(grainRanks))) / lit(grainRanks)).cast("long")
    val rows = base.withColumn("_t", qnTargetRank(nTotal))
      .withColumn("_cell", cellOf(col("_t") - 1L))
    val cells = gridP.withColumn("_lo", col("_pc") - col("_c"))
      .withColumn("_cell",
        explode(sequence(cellOf(col("_lo")), cellOf(col("_pc") - 1L))))
    rows.join(cells, Seq("_cell"))
      .filter(col("_t") > col("_lo") && col("_t") <= col("_pc"))
      .select(col(group), col(tiebreak), col(value),
        col("_v").as("qn_value"))
  }

  /** Sketch twin of quantileNormalize — the 100 TB fast path: instead of
    * the exact distinct-value grid + rank-cell join, the global
    * distribution collapses to ONE approx_percentile sketch row of
    * `gridQuantiles`+1 values (one partial-agg'd aggregate to a single
    * row, broadcast back), and each row maps to the sketch value at its
    * group quantile rounded to the 1/gridQuantiles grid — a map-only
    * lookup into a plan-literal-sized array, zero extra shuffle beyond
    * the one group-keyed rank window the exact form also pays. Accuracy:
    * the emitted value's GLOBAL rank is within
    * N·(1/accuracy + 1/gridQuantiles) + O(1) of the exact target rank
    * ⌈r·N/n⌉ (sketch rank error + quantile-grid quantization) — feature
    * alignment quality, not oracle-exact placement. The estimate is an
    * ACTUAL data value (the sketch stores observed values). For the
    * oracle-checkable form see quantileNormalizeChecked; this is the
    * production path (SCALE.md). `value` must be integral (cents grid).
    * NULL values drop. Emits (group, tiebreak, value, qn_approx). */
  def quantileNormalizeApprox(df: DataFrame, group: String, value: String,
                              tiebreak: String, gridQuantiles: Int = 1000,
                              accuracy: Int = 10000): DataFrame = {
    require(gridQuantiles > 0,
      s"gridQuantiles must be positive, got $gridQuantiles")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    require(integralTypes.contains(df.schema(value).dataType),
      s"quantileNormalizeApprox ranks '$value' on an exact integer grid; " +
        s"got ${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("qn_approx", "_r", "_n", "_qs", "_idx", "_o1")
    require(!emitted.exists(df.columns.contains),
      s"quantileNormalizeApprox emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    // same fused keyed-prefix rank/size re-plan as the exact form
    val base = qnRankedBase(df, group, value, tiebreak)
    qnApproxFrom(base, df, group, value, tiebreak, gridQuantiles, accuracy)
  }

  /** The sketch-lookup tail of quantileNormalizeApprox from a precomputed
    * base — shared with quantileNormalizeChecked. */
  private def qnApproxFrom(base: DataFrame, df: DataFrame, group: String,
                           value: String, tiebreak: String,
                           gridQuantiles: Int, accuracy: Int): DataFrame = {
    val probs = (0 to gridQuantiles).map(j => lit(j.toDouble / gridQuantiles))
    val sketch = df.filter(col(value).isNotNull)
      .agg(percentile_approx(col(value), array(probs: _*),
        lit(accuracy)).as("_qs")) // ONE row: the whole global distribution
    // grid index round(r·B/n) in pure integer arithmetic:
    // ⌊(2rB + n) / 2n⌋ — partitioning-independent like the exact form
    val b2 = 2L * gridQuantiles
    base.crossJoin(broadcast(sketch))
      .withColumn("_idx",
        expr(s"(_r * CAST($b2 AS BIGINT) + _n) div (CAST(2 AS BIGINT) * _n)"))
      .select(col(group), col(tiebreak), col(value),
        element_at(col("_qs"), (col("_idx") + 1L).cast("int"))
          .as("qn_approx"))
  }

  /** Oracle-checkable composition of the exact and sketch quantile
    * normalizations (the q_outliers_approx / q_quantile_profile_approx
    * checked-twin convention): emits the EXACT qn_value per row plus a
    * `within_bound` verdict on the sketch estimate — the estimate itself
    * never leaves the engine, so DuckDB can oracle the row by recomputing
    * the exact side and asserting TRUE. The verdict is computed in RANK
    * space, where the sketch has a contract: the approx value's global
    * rank interval (its cumulative span in the distinct-value grid) must
    * come within `slack` ranks of the exact target rank ⌈r·N/n⌉, with
    * slack = ⌈N/accuracy⌉ (sketch rank error) + ⌈N/gridQuantiles⌉
    * (quantile-grid quantization) + 4 (boundary conventions) — guaranteed
    * by the approx_percentile accuracy contract, so a FALSE here is an
    * engine bug, not noise. Cost: ONE fused keyed-prefix base and ONE
    * grid prefix shared (checkpointed) across the exact map, the sketch
    * lookup, and the verdict join — where the pre-fusion form re-derived
    * the base three times and the grid twice (the r12 bench line item) —
    * plus the approx-onto-grid equi-join; the TEST harness shape,
    * production runs quantileNormalizeApprox alone. */
  def quantileNormalizeChecked(df: DataFrame, group: String, value: String,
                               tiebreak: String, gridQuantiles: Int = 1000,
                               accuracy: Int = 10000): DataFrame = {
    require(gridQuantiles > 0,
      s"gridQuantiles must be positive, got $gridQuantiles")
    require(accuracy > 0, s"accuracy must be positive, got $accuracy")
    require(integralTypes.contains(df.schema(value).dataType),
      s"quantileNormalizeChecked ranks '$value' on an exact integer grid; " +
        s"got ${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("qn_value", "within_bound", "qn_approx",
      "_r", "_n", "_v", "_c", "_pc", "_lo", "_t", "_cell", "_qs", "_idx",
      "_qa", "_alo", "_apc", "_t2", "_o1")
    require(!emitted.exists(df.columns.contains),
      s"quantileNormalizeChecked emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    // the shared frames: both are read by 2-3 paths below — materialize
    val base = qnRankedBase(df, group, value, tiebreak).localCheckpoint(true)
    val grid = df.filter(col(value).isNotNull)
      .groupBy(col(value).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val gridP = orderedPrefixSum(grid, col("_v"), "_v", "_c", "_pc")
      .localCheckpoint(true)
    // O(1) driver traffic, off the materialized grid prefix
    val nTotal = gridP.agg(coalesce(sum(col("_c")), lit(0L))).head().getLong(0)
    if (nTotal == 0L)
      return base.select(col(group), col(tiebreak), col(value),
          lit(null).cast("long").as("qn_value"))
        .withColumn("within_bound", lit(true))
    val exact = qnExactFrom(base, gridP, nTotal, group, value, tiebreak,
      1024L)
    val approx = qnApproxFrom(base, df, group, value, tiebreak,
        gridQuantiles, accuracy)
      .select(col(group), col(tiebreak), col("qn_approx").as("_qa"))
    val gridA = gridP.withColumn("_alo", col("_pc") - col("_c"))
      .select(col("_v").as("_qa"), col("_alo"), col("_pc").as("_apc"))
    val slack = nTotal / accuracy + nTotal / gridQuantiles + 6L
    val verdicts = base.select(col(group), col(tiebreak),
        qnTargetRank(nTotal).as("_t2"))
      .join(approx, Seq(group, tiebreak))
      .join(gridA, Seq("_qa")) // sketch values are observed values → hit
      .select(col(group), col(tiebreak),
        (col("_apc") >= col("_t2") - slack &&
          col("_alo") < col("_t2") + slack).as("within_bound"))
    exact.join(verdicts, Seq(group, tiebreak))
      .select(col(group), col(tiebreak), col(value), col("qn_value"),
        col("within_bound"))
  }

  /** Calibration / reliability curve — bucket an integral SCORE into
    * `nBins` equal-width bins over [lo, hi) and report, per bin, how the
    * observed positive rate tracks the mean score: the "is the model's
    * confidence honest?" diagnostic read before trusting scores as
    * probabilities downstream (quality-score gating, curation thresholds).
    * Bin assignment is EXACT integer arithmetic — ⌊(s−lo)·bins/(hi−lo)⌋
    * via the make-divisible-then-divide trick, so a score can never
    * straddle a bin edge through float rounding; out-of-range scores
    * clamp into the edge bins (they carry signal — a spike at the clamp
    * is itself a red flag — and dropping them silently would fake
    * coverage). Counts and score sums accumulate exactly (int64 +
    * decimal); mean score and positive rate are single trunc6'd
    * divisions. Plan shape: ONE partial-agg'd hash agg onto ≤ nBins rows
    * — nothing scales with input but the scan. NULL scores/outcomes
    * drop. Emits (bin, n, n_pos, mean_score, pos_rate) for bins that
    * OCCUR, in INPUT units. Streaming-compatible VERBATIM (complete/
    * update mode — one hash agg on ≤ nBins keys; StreamingParitySpec). */
  def calibrationCurve(df: DataFrame, score: String, outcome: Column,
                       lo: Long, hi: Long, nBins: Int): DataFrame = {
    require(hi > lo, s"need lo < hi, got [$lo, $hi)")
    require(nBins > 0, s"nBins must be positive, got $nBins")
    require(integralTypes.contains(df.schema(score).dataType),
      s"calibrationCurve bins '$score' on an exact integer grid; got " +
        s"${df.schema(score).dataType} — scale to cents/int64 first")
    val emitted = Seq("bin", "n", "n_pos", "mean_score", "pos_rate")
    require(!df.columns.exists(emitted.contains),
      s"calibrationCurve emits ${emitted.mkString(", ")}; rename inputs")
    val width = hi - lo
    // exact: (s−lo)·bins made divisible by width before the divide, then
    // clamped into [0, nBins)
    val num = (col(score).cast("long") - lo) * nBins.toLong
    val rawBin = ((num - pmod(num, lit(width))) / lit(width)).cast("long")
    val bin = least(greatest(rawBin, lit(0L)), lit(nBins.toLong - 1L))
    df.filter(col(score).isNotNull && outcome.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        count(when(outcome, lit(1))).as("n_pos"),
        sum(col(score).cast("decimal(19,0)")).cast("double").as("_s"))
      .select(col("bin"), col("n"), col("n_pos"),
        (floor(col("_s") / col("n").cast("double") * 1000000d) / 1000000d)
          .as("mean_score"),
        (floor(col("n_pos").cast("double") / col("n").cast("double")
          * 1000000d) / 1000000d).as("pos_rate"))
  }

  /** Isotonic (PAV) calibration over the calibrationCurve bins — the
    * curve DIAGNOSES dishonest confidence; this REPAIRS it: the best
    * monotone fit to the per-bin positive rates, computed by the
    * closed-form minimax identity iso(i) = max_{j≤i} min_{k≥i}
    * pooledRate(j..k) (equivalent to pool-adjacent-violators, but
    * RELATIONAL — no sequential merge loop exists anywhere, so it
    * distributes trivially). The pooled rates weight by bin mass and
    * skip absent bins (no mass, identical pooling); each interval rate
    * enters as ONE truncating decimal div to ppm, and minimax over
    * already-quantized integers is engine-exact — and provably monotone
    * for ANY value matrix (min over a shrinking k-set, max over a
    * growing j-set). Cost: the interval/minimax joins are O(nBins³)
    * rows over BIN-sized frames — plan constants, broadcast
    * nested-loops, nothing scales with the corpus beyond
    * calibrationCurve's one hash agg. Emits per occupied bin
    * (bin, n, n_pos, rate_ppm, iso_ppm), iso_ppm non-decreasing. */
  def isotonicCalibration(df: DataFrame, score: String, outcome: Column,
                          lo: Long, hi: Long, nBins: Int): DataFrame = {
    val bins = calibrationCurve(df, score, outcome, lo, hi, nBins)
      .select(col("bin"), col("n"), col("n_pos"))
      .localCheckpoint(true) // shared: prefix chain, minimax seed, output
    val pref = orderedPrefixSum(
        orderedPrefixSum(bins, col("bin"), "bin", "n", "_cn"),
        col("bin"), "bin", "n_pos", "_cp")
      .localCheckpoint(true) // shared: both interval endpoints
    val jSide = pref.select(col("bin").as("_jb"), col("n").as("_jn"),
      col("n_pos").as("_jp"), col("_cn").as("_jcn"), col("_cp").as("_jcp"))
    val kSide = pref.select(col("bin").as("_kb"), col("_cn").as("_kcn"),
      col("_cp").as("_kcp"))
    val intervals = jSide.join(broadcast(kSide), col("_jb") <= col("_kb"))
      .select(col("_jb"), col("_kb"),
        expr("(CAST((_kcp - _jcp + _jp) AS DECIMAL(38,0)) * 1000000)"
          + " div CAST((_kcn - _jcn + _jn) AS DECIMAL(38,0))")
          .cast("long").as("_m"))
    val iso = bins.select(col("bin"))
      .join(broadcast(intervals),
        col("_jb") <= col("bin") && col("_kb") >= col("bin"))
      .groupBy(col("bin"), col("_jb")).agg(min(col("_m")).as("_mn"))
      .groupBy(col("bin")).agg(max(col("_mn")).as("iso_ppm"))
    bins.join(iso, Seq("bin"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("(CAST(n_pos AS DECIMAL(38,0)) * 1000000)"
          + " div CAST(n AS DECIMAL(38,0))").cast("long").as("rate_ppm"),
        col("iso_ppm"))
  }

  /** Post-stratified average treatment effect — the experimentation
    * workhorse between the raw mean diff and CUPED: weight each stratum's
    * treatment−control mean difference by the stratum's share of the
    * population, Σₛ (nₛ/N)·(ȳₜ,ₛ − ȳ꜀,ₛ). Removes the composition bias a
    * raw diff inherits when arms are imbalanced WITHIN strata (the
    * Simpson's-paradox guard), and shrinks variance by the between-strata
    * component. Strata observed in only ONE arm are EXCLUDED (their diff
    * is undefined) and N is the total over USED strata, so the weights
    * still sum to 1 over what was actually estimable — n_used/n_strata in
    * the output make the exclusion visible. Arithmetic: sums are exact
    * DECIMAL(18,2) (the keyedSum convention), each per-stratum
    * contribution is floor-quantized to ppm as ONE fixed double chain
    * (((diff·nₛ)/N)·10⁶ — identical operand order on any IEEE engine),
    * and the final ATE is an exact BIGINT sum of those integers — never
    * an order-dependent float sum across strata. Shapes: one grouped agg
    * onto O(strata) rows, a 1-row broadcast total, a second O(strata)
    * agg. NULL stratum/value rows drop. Emits one row (n_strata, n_used,
    * n_total, ate_ppm). */
  def stratifiedAte(df: DataFrame, stratum: String, treat: Column,
                    value: String): DataFrame = {
    val emitted = Seq("n_strata", "n_used", "n_total", "ate_ppm",
      "_nt", "_nc", "_st", "_sc", "_ns", "_n", "_used")
    val clash = (Seq(stratum, value)).filter(emitted.contains)
    require(clash.isEmpty,
      s"stratifiedAte emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    val per = df.filter(col(stratum).isNotNull && col(value).isNotNull)
      .groupBy(col(stratum))
      .agg(
        sum(when(treat, 1L).otherwise(0L)).as("_nt"),
        sum(when(!treat, 1L).otherwise(0L)).as("_nc"),
        sum(when(treat, col(value).cast("decimal(18,2)"))).as("_st"),
        sum(when(!treat, col(value).cast("decimal(18,2)"))).as("_sc"))
      .withColumn("_used", col("_nt") > 0 && col("_nc") > 0)
      .localCheckpoint(true) // shared: the totals row and the fold
    val totals = per.agg(
      count(lit(1)).as("n_strata"),
      sum(when(col("_used"), 1L).otherwise(0L)).as("n_used"),
      coalesce(sum(when(col("_used"), col("_nt") + col("_nc"))), lit(0L))
        .as("n_total"))
    val contrib = floor(
      (col("_st").cast("double") / col("_nt").cast("double")
        - col("_sc").cast("double") / col("_nc").cast("double"))
        * (col("_nt") + col("_nc")).cast("double")
        / col("n_total").cast("double") * 1000000d).cast("long")
    per.crossJoin(broadcast(totals))
      .groupBy(col("n_strata"), col("n_used"), col("n_total"))
      .agg(coalesce(sum(when(col("_used"), contrib)), lit(0L)).as("ate_ppm"))
      .select(col("n_strata"), col("n_used"), col("n_total"), col("ate_ppm"))
  }

  /** Differential-privacy-SHAPED histogram release: the mechanics a DP
    * count release runs at corpus scale — per-user contribution bounding
    * (each user counts at most `clamp` times per category: row_number on
    * a deterministic tiebreak, the sensitivity bound), a k-threshold gate
    * (categories under `kMin` clamped contributors are SUPPRESSED, the
    * publish-safety floor), and Laplace-calibrated additive noise at
    * scale b = clamp/ε with ε = 1. HONESTY CONTRACT: the noise here is
    * the house SEEDED inverse-CDF draw (sign·ln-quantized from
    * md5(category‖salt), the weightedSampleK/A-Res idiom) so the whole
    * release replays bit-for-bit on any engine — that makes this a
    * deterministic TEST HARNESS for release plumbing, NOT a private
    * mechanism: real DP requires fresh secret randomness per release
    * (swap the hash for a CSPRNG draw at deploy; everything else — the
    * clamp, the gate, the calibration — is the production path). Noise
    * algebra: u32 = md5Int(category‖salt), v = u32 − 2³¹,
    * u = |v| + 1 ∈ [1, 2³¹], noise_ppm = sign(v)·(qlog(2³¹) − qlog(u))
    * (the quantized −ln of a uniform: Laplace by inversion, in exact
    * 1e-6 integer units), released_ppm = n_clamped·10⁶ + clamp·noise_ppm.
    * Shapes: one partitioned row_number + one category count agg —
    * corpus-scale-clean, output O(categories). Emits (category,
    * n_clamped, noise_ppm, released_ppm). */
  def dpRelease(df: DataFrame, user: String, category: String,
                tiebreak: String, clamp: Int, kMin: Long,
                salt: String = "dp"): DataFrame = {
    require(clamp >= 1, s"clamp must be >= 1, got $clamp")
    require(kMin >= 1, s"kMin must be >= 1, got $kMin")
    val emitted = Seq("n_clamped", "noise_ppm", "released_ppm", "_rn", "_h",
      "_v")
    val clash = Seq(user, category, tiebreak).filter(emitted.contains)
    require(clash.isEmpty,
      s"dpRelease emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    val w = Window.partitionBy(col(user), col(category))
      .orderBy(col(tiebreak))
    val h = graft.expressions.Md5Expressions
      .md5Int(concat(col(category).cast("string"), lit(salt)))
    val v = h - lit(2147483648L)
    val lap = (floor(log(lit(2147483648.0)) * 1000000d)
      - floor(log((abs(v) + 1L).cast("double")) * 1000000d)).cast("long")
    df.filter(col(user).isNotNull && col(category).isNotNull)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= clamp)
      .groupBy(col(category))
      .agg(count(lit(1)).as("n_clamped"))
      .filter(col("n_clamped") >= kMin)
      .select(col(category), col("n_clamped"),
        (when(v < 0, -1L).otherwise(1L) * lap).as("noise_ppm"),
        (col("n_clamped") * 1000000L
          + lit(clamp.toLong) * when(v < 0, -1L).otherwise(1L) * lap)
          .as("released_ppm"))
  }

  /** Simpson's-paradox check — the one-row verdict stratifiedAte's
    * docstring promises: the RAW arm mean difference beside the
    * post-stratified ATE over the SAME rows, with an explicit
    * `sign_flip` bit (strictly opposite signs = the aggregate tells the
    * opposite story from every stratum — ship the stratified number,
    * and audit the assignment imbalance that caused the flip). Raw diff
    * is exact decimal sums into one trunc-to-ppm double chain; the ATE
    * column is stratifiedAte's verbatim (same filters, so the two
    * numbers describe the same population). Emits one row (n_strata,
    * n_used, n_total, raw_diff_ppm, ate_ppm, sign_flip). */
  def simpsonCheck(df: DataFrame, stratum: String, treat: Column,
                   value: String): DataFrame = {
    val strat = stratifiedAte(df, stratum, treat, value)
    val raw = df.filter(col(stratum).isNotNull && col(value).isNotNull)
      .agg(
        sum(when(treat, 1L).otherwise(0L)).as("_nt"),
        sum(when(!treat, 1L).otherwise(0L)).as("_nc"),
        sum(when(treat, col(value).cast("decimal(18,2)"))).as("_st"),
        sum(when(!treat, col(value).cast("decimal(18,2)"))).as("_sc"))
      .select(
        when(col("_nt") > 0L && col("_nc") > 0L,
          floor((col("_st").cast("double") / col("_nt").cast("double")
            - col("_sc").cast("double") / col("_nc").cast("double"))
            * 1000000d).cast("long")).as("raw_diff_ppm"))
    strat.crossJoin(broadcast(raw))
      .select(col("n_strata"), col("n_used"), col("n_total"),
        col("raw_diff_ppm"), col("ate_ppm"),
        (col("raw_diff_ppm") * col("ate_ppm") < 0L).as("sign_flip"))
  }

  /** Seasonal STRENGTH per key (Wang, Smith & Hyndman 2006) — the
    * one-number read-out over seasonalDecompose: how much of the
    * detrended variance the seasonal component explains,
    * F = max(0, 1 − Var(residual)/Var(detrended)). ~0 = the slot means
    * are noise (don't build a weekly model); → 1 = the series is its
    * seasonal pattern. Moments are exact decimal(38,0) sums over the
    * decompose output's ppm integers; F is ONE trunc-to-ppm double
    * chain, clamped at zero, NULL when the detrended series is constant
    * (strength of nothing is undefined). Emits one row per key
    * (key, n_points, strength_ppm). */
  def seasonalStrength(df: DataFrame, key: String, idx: String,
                       value: String, period: Int, half: Int): DataFrame = {
    val dec = seasonalDecompose(df, key, idx, value, period, half)
      .select(col(key),
        (col("seasonal_ppm") + col("residual_ppm")).as("_det"),
        col("residual_ppm").as("_res"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val m = dec.groupBy(col(key))
      .agg(count(lit(1)).as("n_points"),
        sum(d38(col("_det"))).as("_sd"),
        sum(d38(col("_det")) * d38(col("_det"))).as("_sdd"),
        sum(d38(col("_res"))).as("_sr"),
        sum(d38(col("_res")) * d38(col("_res")))
          .as("_srr"))
    val nd = col("n_points").cast("double")
    val varD = (col("_sdd").cast("double") / nd
      - col("_sd").cast("double") / nd * (col("_sd").cast("double") / nd))
    val varR = (col("_srr").cast("double") / nd
      - col("_sr").cast("double") / nd * (col("_sr").cast("double") / nd))
    m.select(col(key), col("n_points"),
      when(varD > 0d,
        greatest(floor((lit(1d) - varR / varD) * 1000000d).cast("long"),
          lit(0L))).as("strength_ppm"))
  }

  /** dpRelease's SUM sibling: release per-category value TOTALS with the
    * same three production mechanics — per-user contribution bounding
    * (each user's per-category total clamps into [0, clampSum]: the
    * sensitivity bound a sum release needs where a count release needs
    * a row cap), the kMin contributor gate, and Laplace-calibrated
    * additive noise at scale b = clampSum/ε, ε = 1. Same HONESTY
    * CONTRACT as dpRelease: the noise is the seeded inverse-CDF draw
    * (engine-replayable test harness for the plumbing, NOT a private
    * mechanism — deploy swaps in a CSPRNG; clamp, gate and calibration
    * are the production path). released_ppm = Σclamped·10⁶ +
    * clampSum·noise_ppm, all exact BIGINT (ANSI fails loud on
    * overflow). Shapes: one (user, category) agg, one category agg —
    * output O(categories). Emits (category, n_users, sum_clamped,
    * noise_ppm, released_ppm). */
  def dpSumRelease(df: DataFrame, user: String, category: String,
                   value: String, clampSum: Long, kMin: Long,
                   salt: String = "dps"): DataFrame = {
    require(clampSum >= 1, s"clampSum must be >= 1, got $clampSum")
    require(kMin >= 1, s"kMin must be >= 1, got $kMin")
    requireIntegralCols(df, Seq(value), "dpSumRelease")
    val emitted = Seq("n_users", "sum_clamped", "noise_ppm", "released_ppm",
      "_t", "_c", "_v")
    val clash = Seq(user, category, value).filter(emitted.contains)
    require(clash.isEmpty,
      s"dpSumRelease emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    val h = graft.expressions.Md5Expressions
      .md5Int(concat(col(category).cast("string"), lit(salt)))
    val v = h - lit(2147483648L)
    val lap = (floor(log(lit(2147483648.0)) * 1000000d)
      - floor(log((abs(v) + 1L).cast("double")) * 1000000d)).cast("long")
    val signedLap = when(v < 0, -1L).otherwise(1L) * lap
    df.filter(col(user).isNotNull && col(category).isNotNull
        && col(value).isNotNull)
      .groupBy(col(user), col(category))
      .agg(sum(col(value)).as("_t"))
      .withColumn("_c", least(greatest(col("_t"), lit(0L)), lit(clampSum)))
      .groupBy(col(category))
      .agg(count(lit(1)).as("n_users"), sum(col("_c")).as("sum_clamped"))
      .filter(col("n_users") >= kMin)
      .select(col(category), col("n_users"), col("sum_clamped"),
        signedLap.as("noise_ppm"),
        (col("sum_clamped") * 1000000L + lit(clampSum) * signedLap)
          .as("released_ppm"))
  }

  /** Interval-OVERLAP join — both sides are time ranges (rangeJoin covers
    * point-in-interval): which left intervals intersect which right
    * intervals, without an all-pairs product. Each interval explodes into
    * the coarse time cells it covers (`sequence` over ⌊ms/cell⌋), the
    * sides equi-join on the cell (a plain shuffle hash join Catalyst can
    * partition), and the half-open overlap predicate
    * (l.start < r.end ∧ r.start < l.end) filters cell co-residents.
    * DEDUP-FREE emission: a pair overlapping across many cells is
    * emitted ONLY from the cell containing the later of the two starts
    * (greatest(⌊ls/cell⌋, ⌊rs/cell⌋) — a cell both sides provably
    * cover), so no distinct shuffle exists. Fail-loud scale contract:
    * any interval spanning more than `maxCells` cells aborts the job
    * (assert_true) — a degenerate months-long interval would otherwise
    * silently fan out; pick cellMs near the TYPICAL interval length so
    * fan-out stays O(1) per row. Empty/negative intervals (end ≤ start)
    * are dropped (they overlap nothing under half-open semantics).
    * Start/end are epoch-ms LONGs (integral-only contract). Emits every
    * overlapping pair (leftCols…, rightCols…, overlap_ms). */
  def intervalOverlapJoin(left: DataFrame, lStart: String, lEnd: String,
                          right: DataFrame, rStart: String, rEnd: String,
                          cellMs: Long, maxCells: Int): DataFrame = {
    require(cellMs > 0, s"cellMs must be positive, got $cellMs")
    require(maxCells >= 1, s"maxCells must be >= 1, got $maxCells")
    requireIntegralCols(left, Seq(lStart, lEnd), "intervalOverlapJoin")
    requireIntegralCols(right, Seq(rStart, rEnd), "intervalOverlapJoin")
    require(!(left.columns ++ right.columns).contains("_cell"),
      "intervalOverlapJoin uses an internal '_cell' column; rename inputs")
    require(left.columns.intersect(right.columns).isEmpty,
      s"intervalOverlapJoin emits both sides' columns; overlapping names " +
        s"${left.columns.intersect(right.columns).mkString(", ")} — alias one side")
    // exact integer cell ids (`div`, never a float quotient); start/end
    // are non-negative epoch ms by contract
    def cells(df: DataFrame, s: String, e: String): DataFrame = {
      val lo = expr(s"`$s` div $cellMs")
      val hi = expr(s"(`$e` - 1) div $cellMs")
      val guard = assert_true(hi - lo < maxCells,
        concat(lit(s"intervalOverlapJoin: interval spans >= $maxCells " +
          s"cells of $cellMs ms (a degenerate interval would fan out " +
          "unboundedly); raise cellMs or split the interval — got "),
          (hi - lo + 1L).cast("string")))
      df.filter(col(e) > col(s)).filter(guard.isNull)
        .withColumn("_cell", explode(sequence(lo, hi)))
    }
    cells(left, lStart, lEnd)
      .join(cells(right, rStart, rEnd), Seq("_cell"))
      .filter(col(lStart) < col(rEnd) && col(rStart) < col(lEnd))
      .filter(col("_cell") ===
        greatest(expr(s"`$lStart` div $cellMs"), expr(s"`$rStart` div $cellMs")))
      .drop("_cell")
      .withColumn("overlap_ms",
        least(col(lEnd), col(rEnd)) - greatest(col(lStart), col(rStart)))
  }

  /** Mann-Whitney U rank-sum test (Mann & Whitney 1947) with midrank tie
    * handling — the DISTRIBUTION-FREE cohort-shift test beside welchTTest:
    * Welch asks "did the mean move" and is dragged by outliers; U asks
    * "does a random A draw tend to exceed a random B draw", which is the
    * right question for the heavy-tailed spend/latency columns drift
    * monitoring actually watches. Also emits Cliff's delta (the effect
    * size U linearly rescales to: δ = 2U/(n_a·n_b) − 1) and the
    * tie-corrected normal z.
    *
    * Exactness: everything up to z is INTEGER. Ranks never materialize
    * per row — values collapse to a by-value frame first (one count
    * shuffle), the exclusive prefix count comes from the distributed
    * orderedPrefixSum (range buckets + O(buckets) driver offsets — no
    * unpartitioned window), and midranks ride the DOUBLED-rank trick:
    * 2·midrank(v) = 2·before(v) + t_v + 1 is always integral, so
    * u2 = Σ n_a,v·midrank2(v) − n_a·(n_a+1) is EXACTLY 2·U_a as a
    * BIGINT. Cliff's delta is ppm by integer div; the tie term
    * Σ(t³−t) is exact BIGINT (int64-bound documented: overflows past
    * t_v ~ 2×10⁶ duplicates of one value — fail-loud under ANSI, the
    * Hellinger convention). Only z runs ONE fixed IEEE chain, truncated
    * to 1e-6 like every emitted double here. NULL z when either side is
    * empty or all values tie (variance 0 — undefined, not "no shift").
    * Emits one row (n_a, n_b, u2_a, tie_term, cliffs_ppm, z). */
  def mannWhitney(df: DataFrame, cohortA: Column, value: String): DataFrame = {
    require(integralTypes.contains(df.schema(value).dataType),
      s"mannWhitney ranks '$value' as exact integers; got " +
        s"${df.schema(value).dataType} — scale to cents/int64 first")
    val emitted = Seq("n_a", "n_b", "u2_a", "tie_term", "cliffs_ppm", "z",
      "_nav", "_nbv", "_tv", "_cum", "_before", "_mr2")
    require(!emitted.contains(value),
      s"mannWhitney emits/uses ${emitted.mkString(", ")}; rename '$value'")
    val byValue = df.filter(col(value).isNotNull && cohortA.isNotNull)
      .groupBy(col(value))
      .agg(sum(when(cohortA, 1L).otherwise(0L)).as("_nav"),
        sum(when(!cohortA, 1L).otherwise(0L)).as("_nbv"))
      .withColumn("_tv", col("_nav") + col("_nbv"))
    val cum = orderedPrefixSum(byValue, col(value), value, "_tv", "_cum")
      .withColumn("_before", col("_cum") - col("_tv"))
      .withColumn("_mr2", lit(2L) * col("_before") + col("_tv") + 1L)
    val agg = cum.agg(
      sum(col("_nav")).as("n_a"), sum(col("_nbv")).as("n_b"),
      sum(col("_nav") * col("_mr2")).as("_r2a"),
      sum(col("_tv") * col("_tv") * col("_tv") - col("_tv")).as("tie_term"))
    // one fixed IEEE chain for z, mirrored verbatim in the oracle
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val nn = na + nb
    val u = (col("u2_a").cast("double") - na * nb) / 2d
    val varU = na * nb / 12d *
      (nn + 1d - col("tie_term").cast("double") / nn / (nn - 1d))
    agg
      .withColumn("u2_a", col("_r2a") - col("n_a") * (col("n_a") + 1L))
      .select(col("n_a"), col("n_b"), col("u2_a"), col("tie_term"),
        when(col("n_a") > 0L && col("n_b") > 0L,
          expr("((u2_a - n_a * n_b) * CAST(1000000 AS BIGINT)) " +
            "div (n_a * n_b)")).as("cliffs_ppm"),
        when(col("n_a") > 0L && col("n_b") > 0L && varU > 0d,
          floor(u / sqrt(varU) * 1000000d) / 1000000d).as("z"))
  }

  /** Permutation entropy (Bandt & Pompe, PRL 2002) per key — the
    * model-free "is this series structured or noise?" gauge: embed the
    * series in ordinal 3-patterns (the relative order of each value and
    * its two successors), count the 6 possible patterns, and take the
    * normalized Shannon entropy of the pattern distribution. 1.0 = the
    * ordinal dynamics are indistinguishable from white noise; well below
    * 1 = trends/cycles/regimes (a metric feed that suddenly JUMPS toward
    * 1 has lost its signal; one that falls has locked into a loop —
    * both are feed-health alarms). Ties break by position (earlier
    * element ranks first — the standard Bandt-Pompe convention), so the
    * pattern index is pure integer comparison, no float anywhere.
    * Entropy rides the house qlog algebra: Σ nᵖ·(qlog N − qlog nᵖ) in
    * exact micro-nat·count integer units, normalized by N·ln 6 at the
    * end (ONE fixed double chain over two exact integers → ppm of the
    * white-noise maximum). Shapes: one keyed bucketed prefix scan for the
    * per-key ordinal position (a key-partitioned lead() window would
    * one-task-sort each key's whole series at scale — the keys here are
    * event_type-like ~constant-NDV columns), two rank self-joins for the
    * successors, one (key, pattern) count shuffle, one per-key fold.
    * Keys with fewer than 3 points emit no row (no pattern exists).
    * Emits (key, n_patterns, n_distinct, perm_entropy_ppm). */
  def permutationEntropy(df: DataFrame, key: String, ts: String,
                         tiebreak: String, value: String): DataFrame = {
    val emitted = Seq("n_patterns", "n_distinct", "perm_entropy_ppm", "_v1",
      "_v2", "_v3", "_pat", "_n", "_tot", "_h", "_p1", "_ix")
    val clash = Seq(key, ts, tiebreak, value).filter(emitted.contains)
    require(clash.isEmpty,
      s"permutationEntropy emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    val v1 = col("_v1"); val v2 = col("_v2"); val v3 = col("_v3")
    // ordinal pattern of (v1, v2, v3) with position tie-break: rank of
    // each element = #(strictly smaller) + #(equal at earlier position);
    // encode as rank1*9 + rank2*3 + rank3 (6 distinct codes)
    val r1 = when(v2 < v1, 1).otherwise(0) + when(v3 < v1, 1).otherwise(0)
    val r2 = when(v1 <= v2, 1).otherwise(0) + when(v3 < v2, 1).otherwise(0)
    val r3 = when(v1 <= v3, 1).otherwise(0) + when(v2 <= v3, 1).otherwise(0)
    // NULL order keys excluded on BOTH engines (Spark sorts NULLs first,
    // DuckDB last — a NULL ts would silently reorder the embedding)
    val base0 = df.filter(col(value).isNotNull && col(key).isNotNull
        && col(ts).isNotNull && col(tiebreak).isNotNull)
      .select(col(key), col(ts), col(tiebreak), col(value).as("_v1"))
      .withColumn("_p1", lit(1L))
    // timestamps order by their exact micros image (injective — Spark
    // timestamps ARE micros); numeric order keys order raw
    val ordE = df.schema(ts).dataType match {
      case _: org.apache.spark.sql.types.TimestampType
         | _: org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col(ts).cast("timestamp"))
      case _ => col(ts)
    }
    // per-key ordinal position from the keyed bucketed prefix scan, the
    // two successors via rank self-joins — lead() without the per-key
    // one-task sort (this op keys by event_type-like ~constant-NDV
    // columns, where a keyed window is "partitioned" in name only)
    val idx = orderedPrefixSumKeyed(base0, col(key), ordE, tiebreak,
        "_p1", "_ix")
      .select(col(key), col("_ix"), col("_v1"))
      .localCheckpoint(true) // all three self-join sides read it
    val s1 = idx.select(col(key), (col("_ix") - 1L).as("_ix"),
      col("_v1").as("_v2"))
    val s2 = idx.select(col(key), (col("_ix") - 2L).as("_ix"),
      col("_v1").as("_v3"))
    val pats = idx.join(s1, Seq(key, "_ix")).join(s2, Seq(key, "_ix"))
      .select(col(key), (r1 * 9 + r2 * 3 + r3).as("_pat"))
      .groupBy(col(key), col("_pat")).agg(count(lit(1)).as("_n"))
    val tot = pats.groupBy(col(key)).agg(sum(col("_n")).as("_tot"),
      count(lit(1)).as("n_distinct"))
    pats.join(tot, Seq(key))
      .groupBy(col(key), col("_tot"), col("n_distinct"))
      .agg(sum((col("_n") * (InfoTheory.qlog(col("_tot"))
        - InfoTheory.qlog(col("_n")))).cast("decimal(38,0)")).as("_h"))
      .select(col(key), col("_tot").as("n_patterns"), col("n_distinct"),
        floor(col("_h").cast("double") / col("_tot").cast("double")
          / math.log(6d)).cast("long").as("perm_entropy_ppm"))
  }
}
