package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._

/** Scale lint over EVERY registered query's physical plan: the two shapes
  * that silently stop scaling — a cartesian product (all-pairs work) and an
  * unpartitioned window (every row through one task) — must never appear,
  * and representative scans must show column pruning. AdaptiveSparkPlanExec
  * is a LEAF node hiding the real tree from collect(), so the walker
  * unwraps it (and subqueries) explicitly — without that the whole lint is
  * vacuous. BroadcastNestedLoopJoin is deliberately NOT banned: the ANN
  * queries use it intentionally for broadcast-side non-equi joins, where
  * the large side stays partition-parallel. This encodes SCALE.md's rules
  * as a regression gate instead of a review convention. */
class PlanLintSpec extends SparkSpec {

  /** Run `body` with `f` installed as PlanProbe's pre-checkpoint capture. */
  private def withCapture[T](f: DataFrame => Unit)(body: => T): T = {
    graft.operators.PlanProbe.capture = Some(f)
    try body finally graft.operators.PlanProbe.capture = None
  }

  /** All nodes of the plan, looking through AQE wrappers and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    // an EXECUTED adaptive plan wraps its materialized stages in
    // QueryStageExec leaves (Shuffle/Broadcast/Result) whose real subtree
    // hangs off `plan`, not `children` — without this case the walker goes
    // blind on any plan captured before, but inspected after, execution
    // (the PlanProbe capture path)
    case q: QueryStageExec => q +: nodes(q.plan)
    case _ =>
      p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  test("no registered query plans a cartesian product or an unpartitioned window") {
    val dir = "/root/testdata/sf0.001"
    var scanned = 0
    SparkEntry.queries.foreach { case (name, fn) =>
      val all = nodes(fn(spark, dir).queryExecution.executedPlan)
      scanned += all.size
      val cartesian = all.collect { case c: CartesianProductExec => c }
      assert(cartesian.isEmpty, s"$name plans a CartesianProduct")
      val unpartitioned = all.collect {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty, s"$name plans an unpartitioned window")
    }
    // guard against the walker going vacuous again: 57 real plans have
    // hundreds of nodes between them
    assert(scanned > 500, s"plan walker saw only $scanned nodes — unwrap broken?")
  }

  test("the bucketed prefix scans keep their bucket window partitioned " +
      "on an empty input and on an all-NULL ordering column") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("k", "n")
    val nullOrd = Seq((1L, 2L), (2L, 3L)).toDF("id", "n")
      .withColumn("k", lit(null).cast("long"))
    Seq(empty, nullOrd).foreach { df =>
      val windows = Seq(
          graft.operators.CoreOps.orderedPrefixSum(df, col("k"),
            df.columns.head, "n", "cum"),
          graft.operators.CoreOps.orderedPrefixSumKeyed(df, lit(1L),
            col("k"), df.columns.head, "n", "cum"))
        .flatMap(r => nodes(r.queryExecution.executedPlan))
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
        s"unpartitioned bucket window: ${windows.map(_.partitionSpec)}")
    }
  }

  test("every StateMachines walk groups by the key column: no per-row " +
      "AppendColumns key lambda in its batch-mode executed plan") {
    import graft.streaming.StateMachines._
    val spk = spark
    import spk.implicits._
    val raw = Seq(("u", 1000L, 1L, "view", 5L), ("u", 2000L, 2L, "buy", 7L))
      .toDF("k", "ts", "id", "kind", "v")
    val (k, ts, id) = (col("k"), col("ts"), col("id"))
    val ke = keyedEvents(raw, k, ts, id, col("kind"))
    val ve = valuedEvents(raw, k, ts, id, col("v"))
    val walks: Seq[(String, org.apache.spark.sql.Dataset[_])] = Seq(
      "pageHinkley" -> pageHinkley(ve, 0L, 10L),
      "latestSnapshots" ->
        latestSnapshots(payloadEvents(raw, k, ts, id, col("kind"), col("v"))),
      "intervalAlerts" -> intervalAlerts(ke, "view", 1000L),
      "transitionPairs" -> transitionPairs(ke),
      "funnelStages" -> funnelStages(ke, Seq("view", "buy")),
      "sessionFunnelStages" -> sessionFunnelStages(ke, Seq("view", "buy"), 1000L),
      "burstEnds" -> burstEnds(ke, 10L, 100L),
      "streakEnds" -> streakEnds(ke),
      "transitionPairs2" -> transitionPairs2(ke),
      "actionDurations" -> actionDurations(ke, "login", "logout"),
      "tokenBucket" -> tokenBucket(ke, 2, 1L, 1L),
      "ewmaSnapshots" -> ewmaSnapshots(ve, 1, 2),
      "sprtDecisions" -> sprtDecisions(ke, "buy", 100L, -100L, 1000L, -1000L),
      "kmvSnapshots" -> kmvSnapshots(ve, 2),
      "holtSnapshots" -> holtSnapshots(ve, 1, 2, 1, 2),
      "holtWintersSnapshots" -> holtWintersSnapshots(ve, 2, 1, 2, 1, 2, 1, 2),
      "expandingAnomalies" -> expandingAnomalies(ve, 3, 2),
      "asofMatches" -> asofMatches(asofEvents(raw, k, ts, id, raw, k, ts, id)))
    walks.foreach { case (name, ds) =>
      val ops = nodes(ds.queryExecution.executedPlan).map(_.nodeName)
      // batch execution plans the walk as MapGroups over a sort
      assert(ops.contains("MapGroups"),
        s"$name: no walk in its plan (${ops.mkString(", ")})")
      assert(!ops.exists(_.startsWith("AppendColumns")),
        s"$name groups by a per-row key lambda: ${ops.mkString(", ")}")
    }
  }

  // ── low-cardinality-partition window lint ─────────────────────────────
  // "Partitioned by a ~constant is unpartitioned at scale" (the round-11
  // lesson): a Window PARTITION BY over a handful of values (lang, a
  // 5-value category) sorts each value's ENTIRE data-proportional frame
  // through one task at 100 TB — the same pathology as the empty
  // partitionSpec the test above bans, hidden behind a low-NDV key. The
  // smell needs BOTH measurements: few distinct partition values (≤ MaxNdv
  // at sf0.001 — a fixed enum, not a scale-growing key like user_id) AND a
  // data-proportional partition (≥ MinPartRows at sf0.001 — which exempts
  // the bucketed prefix-scan machinery's per-key offset windows, whose
  // partitions are bucket-count-sized plan constants ≤ 32 at ANY scale).

  private val MaxNdv = 10L
  private val MinPartRows = 64L

  /** Windows in `df`'s optimized plan whose partitions are both low-NDV
    * and data-proportional, measured by re-querying each Window child at
    * the test scale factor. Returns (partition columns sans exprIds,
    * measurement) per offender — the first element is stable across
    * re-plans, so the two-config confirmation below can match windows
    * between constructions. */
  private def lowCardWindows(df: DataFrame): Seq[(String, String)] = {
    val plan = df.queryExecution.optimizedPlan
    val windows = (plan +: plan.subqueriesAll).flatMap(_.collect {
      case w: logical.Window if w.partitionSpec.nonEmpty => w
    })
    windows.flatMap { w =>
      val child = GraftColumnBridge.ofRows(spark, w.child)
      val parts = w.partitionSpec.zipWithIndex.map { case (e, i) =>
        GraftColumnBridge.column(e).as(s"_p$i")
      }
      val r = child.groupBy(parts: _*).agg(count(lit(1)).as("_c"))
        .agg(count(lit(1)).as("_ndv"), max(col("_c")).as("_max")).head()
      val ndv = r.getLong(0)
      val maxRows = if (r.isNullAt(1)) 0L else r.getLong(1)
      if (ndv <= MaxNdv && maxRows >= MinPartRows)
        Some((w.partitionSpec.mkString(", ").replaceAll("#\\d+", ""),
          s"ndv=$ndv, maxPartitionRows=$maxRows"))
      else None
    }
  }

  test("the lint itself catches a hand-planted ntile-over-lang and passes " +
      "its distributed ntileKeyed replacement") {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val planted = docs.withColumn("b",
      ntile(3).over(Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))))
    val hits = lowCardWindows(planted)
    assert(hits.nonEmpty, "lint missed the planted per-lang ntile window")
    assert(hits.head._1.contains("lang"), s"unexpected description: $hits")
    val fixed = graft.operators.CoreOps.ntileKeyed(
      docs.select(col("doc_id"), col("lang"), col("n_chars")),
      col("lang"), col("n_chars"), "doc_id", 3, "b")
    assert(lowCardWindows(fixed).isEmpty,
      s"ntileKeyed's plan trips its own lint: ${lowCardWindows(fixed)}")
  }

  test("no registered query plans a low-cardinality-partition window " +
      "over a data-proportional frame") {
    val dir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      val first = lowCardWindows(fn(spark, dir))
      if (first.isEmpty) Nil
      else {
        // Two-config confirmation: partitions that track
        // spark.sql.shuffle.partitions (the bucketed prefix machinery's
        // range buckets) are PARALLELISM-MATCHED — re-planned with a
        // bigger knob their NDV widens past MaxNdv and they clear.
        // Fixed-enum partitions (lang, event_type, a flag) stay low
        // however the knob is set — those are the genuine scale-killers.
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        val second =
          try lowCardWindows(fn(spark, dir)).map(_._1).toSet
          finally spark.conf.set("spark.sql.shuffle.partitions", "4")
        first.filter(p => second.contains(p._1))
          .map { case (p, d) => s"$name: partitionBy($p): $d" }
      }
    }
    assert(offenders.isEmpty,
      s"low-cardinality-partition windows (each key's whole frame is one " +
        s"task at scale — use the bucketed keyed prefix machinery):\n" +
        offenders.mkString("\n"))
  }

  test("column pruning reaches the parquet scans (projection pushdown proof)") {
    // representative map/agg queries: the scan must read only the columns
    // the query touches, not the table's full schema — a scan that reads
    // everything for a two-column aggregate multiplies IO at 100 TB
    val dir = "/root/testdata/sf0.001"
    val expected = Map(
      "q_keyed_sum" -> Set("user_id", "value"),           // events has 6 cols
      // (q_dedup_exact now returns the memoized/persisted shared frame —
      // its scan sits behind the InMemoryRelation boundary; q_dedup_profile
      // proves the same documents-scan pruning on a live plan)
      "q_dedup_profile" -> Set("source", "lang", "text"),
      "q_doc_sample" -> Set("doc_id", "source", "lang"),  // filter + 3-col project
      "q_simhash" -> Set("doc_id", "text"),
      // round-6 operators: every scan stays minimal
      "q_json_extract" -> Set("props", "value"),          // no event_id/user/ts
      "q_char_hist" -> Set("text"),
      "q_bm25" -> Set("doc_id", "text"),
      "q_range_join" -> Set("event_id", "ts", "value", "event_type"),
      "q_sessionize" -> Set("event_id", "user_id", "ts"),
      "q_rank_norm" -> Set("doc_id", "lang", "n_chars"),
      "q_heavy_hitters" -> Set("event_type"),
      // both scans (sketch side + keyProfile candidate side) read only the key
      "q_heavy_hitters_hot" -> Set("user_id"),
      // round-7 operators: statistics/drift tier scans stay minimal
      // (q_chi2/q_tvd_drift/q_auc_shift/q_top_categories eagerly checkpoint
      // their aggregated frames, so their parquet scans sit upstream of the
      // final plan — ASSERTED via the PlanProbe pre-checkpoint capture
      // test below since round 16)
      "q_twap" -> Set("user_id", "ts", "event_id", "value"),
      "q_kfold" -> Set("doc_id"),
      "q_streaks" -> Set("user_id", "ts"),
      "q_drawdown" -> Set("user_id", "ts", "event_id", "value"),
      "q_ltv" -> Set("user_id", "ts", "value"),
      "q_mode" -> Set("user_id", "event_type"),
      "q_lexical_diversity" -> Set("doc_id", "text"),
      // this round's statistics-tier scans stay minimal too
      "q_welch" -> Set("user_id", "value"),
      "q_welch_by_type" -> Set("user_id", "event_type", "value"),
      "q_trimmed_mean" -> Set("event_type", "event_id", "value"),
      "q_anomaly" -> Set("user_id", "ts", "event_id", "value"),
      "q_calibration" -> Set("event_type", "value"),
      "q_knn_disagree" -> Set("vec_id", "embedding", "label"),
      // hybrid-retrieval/join/funnel batch (q_entity_clusters checkpoints
      // at construction — its scans sit upstream, same caveat as q_chi2;
      // q_rrf's SQ bounds run as an eager construction-time agg, the
      // remaining plan's scans still prune)
      "q_funnel_timed" -> Set("user_id", "ts", "event_type"),
      "q_asof_tolerant" -> Set("user_id", "ts", "event_id", "event_type"),
      // q_token_lift: basketLift eagerly checkpoints the collected-basket
      // frame since round 15 (three consumers re-executed the upstream 5×
      // without it), so its parquet scan sits upstream of the final plan —
      // ASSERTED via the PlanProbe capture test below since round 16
      "q_regression2" ->
        Set("l_returnflag", "l_extendedprice", "l_quantity", "l_discount"),
      "q_centroid_drift" -> Set("vec_id", "embedding", "label"),
      "q_rrf" -> Set("vec_id", "embedding"))
    expected.foreach { case (name, cols) =>
      val all = nodes(SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan)
      val scans = all.collect {
        case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
      }
      assert(scans.nonEmpty, s"$name has no parquet scan")
      scans.foreach { read =>
        assert(read.subsetOf(cols), s"$name scan reads unpruned columns: $read")
      }
    }
  }

  test("column pruning reaches the parquet scans BEHIND construction-time " +
      "checkpoints — the PlanProbe pre-checkpoint capture (round-16: the " +
      "q_chi2/q_token_lift caveat family moves back to asserted status)") {
    // An eager localCheckpoint truncates lineage, so the final-plan walk
    // above cannot see these queries' scans. Operators route their
    // construction-time checkpoints through PlanProbe.cut; installing a
    // capture hands every pre-checkpoint frame here, and the union of
    // scans across captured + final plans must stay pruned.
    val dir = "/root/testdata/sf0.001"
    val expected = Map(
      "q_chi2" -> Set("event_type", "ts"),          // typeByDow: dow from ts
      "q_tvd_drift" -> Set("user_id", "event_type"),
      "q_auc_shift" -> Set("user_id", "value"),
      "q_top_categories" -> Set("event_type"),
      "q_token_lift" -> Set("doc_id", "text"))
    expected.foreach { case (name, cols) =>
      val captured = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
      val finalPlan = withCapture(df =>
        captured += df.queryExecution.executedPlan) {
        SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
      }
      val all = (captured.toSeq :+ finalPlan).flatMap(nodes)
      val scans = all.collect {
        case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
      }
      assert(scans.nonEmpty,
        s"$name surfaced no parquet scan through the probe — capture broken?")
      scans.foreach { read =>
        assert(read.subsetOf(cols),
          s"$name scan reads unpruned columns: $read (allowed: $cols)")
      }
    }
  }

  test("Dedup.exactDedup's own scan prunes to (id, text) — the builder " +
      "behind the memoized shared frame, lint-checked unmemoized because " +
      "q_dedup_exact's plan hides it behind the InMemoryRelation boundary") {
    // the trivially-true filter makes this plan DIFFERENT from the
    // memoized exactDedupShared one — when the registry-wide lint above
    // has already persisted that frame, Spark's cache manager would
    // otherwise substitute the InMemoryRelation and hide the scan this
    // test exists to check
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") >= Long.MinValue)
    val all = nodes(graft.operators.Dedup
      .exactDedup(docs, "doc_id", "text").queryExecution.executedPlan)
    val scans = all.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty, "exactDedup has no parquet scan")
    scans.foreach { read =>
      assert(read.subsetOf(Set("doc_id", "text")),
        s"exactDedup scan reads unpruned columns: $read")
    }
  }

  test("driver-collect lint: every .collect() in main source sits next to " +
      "a documented driver-side bound, and the production funnel path " +
      "collects nothing") {
    // A .collect() folds a frame into the driver: fine for O(1)/O(buckets)/
    // O(categories) frames, a scale bug for anything data-proportional
    // (the round-12 verdict on the old q_curation_funnel_stream replay).
    // The physical plan cannot expose collects — they happen at query
    // CONSTRUCTION — so the lint is a source walk: each site must carry an
    // explicit bound within the preceding lines ("driver-bounded" or an
    // O(...) statement), which forces every new collect to argue its size
    // in writing where the reviewer (and this lint) can see it.
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList finally walk.close()
    assert(files.nonEmpty, "no main sources found — wrong working dir?")
    val marker = java.util.regex.Pattern.compile(
      "driver-bounded|O\\(1\\)|O\\([A-Za-z√·×., ()/·+-]+\\)")
    val violations = files.flatMap { f =>
      val lines = java.nio.file.Files.readAllLines(f).asScala.toVector
      lines.zipWithIndex.collect {
        case (line, i) if line.contains(".collect()") &&
            !line.trim.startsWith("//") =>
          val window = lines.slice(math.max(0, i - 10), i + 1).mkString("\n")
          if (marker.matcher(window).find()) None
          else Some(s"$f:${i + 1}: $line")
      }.flatten
    }
    assert(violations.isEmpty,
      "undocumented driver collect(s) — state the bound (\"driver-bounded:" +
        " O(...)\") within 10 lines above, or re-plan distributed:\n" +
        violations.mkString("\n"))
    // the production ingest path must not collect AT ALL — its stage
    // accounting is relational (the round-13 contract)
    val funnel = java.nio.file.Files.readString(java.nio.file.Paths.get(
      "src/main/scala/graft/streaming/FunnelPipeline.scala"))
    assert(!funnel.contains(".collect()"),
      "FunnelPipeline must keep its accounting relational — no collects")
  }
}
