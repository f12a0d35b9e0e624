package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph / association analytics over edge- and basket-shaped frames.
  *
  * Extension tier beyond the reference surface (the reference is a linear
  * stream pipeline — ref chapter2/BasicStreamingOperations.java:56-115 — with
  * no graph operators); these are the iterative/self-join shapes a
  * training-data pipeline needs for link analysis (document/source importance
  * for sampling weights) and co-occurrence mining (curriculum pairing,
  * dataset mixing diagnostics).
  *
  * Both operators follow the house determinism rule: every arithmetic step
  * that crosses the engine boundary is integer-only (`div` here ≡ DuckDB `//`
  * on non-negative operands), so results are bit-identical under any
  * partitioning and on any engine — the same argument as exactCorr's decimal
  * moments, taken all the way to an iterative fixpoint.
  */
object Graph {

  /** PageRank by fixed-point INTEGER arithmetic: rank mass is carried as a
    * BIGINT in units of 1/`scale`, every division is integral (`div`), so
    * after any number of iterations the scaled ranks are exactly reproducible
    * — across engines, partitionings, and reruns. (Float PageRank cannot
    * promise this: the per-node contribution sum is order-dependent.)
    *
    * Semantics: standard damped PageRank over the DISTINCT directed edge set,
    * 5-ish synchronous iterations, damping 85/100, uniform integer init
    * `scale div N`. Each iteration:
    *   pr'(v) = ((scale div N) * 15) div 100
    *          + (Σ_{u→v} (pr(u) div outdeg(u)) * 85) div 100
    * Truncating divisions leak a few units of mass per node per round (bounded
    * by outdeg·iters units of 1/scale ≈ 1e-12 — far below the trunc-6 emit
    * precision); sink nodes (outdeg 0) leak their damped mass entirely, the
    * classic simplification, documented rather than redistributed.
    *
    * Distributed shape: per iteration, one hash join of ranks onto the
    * (edge ⋈ outdeg) frame (both shuffled on src — co-partitioned after the
    * first round) + one hash agg on dst + one left join back to nodes:
    * O(|E| + |V|) through every exchange, never a materialized matrix. The
    * edge and node frames are laid out once (pagerankLayout) and reused
    * every round.
    * Driver traffic: ONE node count at build (folds N into plan literals);
    * zero per round — the iteration count is fixed, not convergence-tested,
    * so rank frames feed forward linearly through one lazy plan, with a
    * lineage cut only every 8th round (each rank frame is consumed exactly
    * once — nothing is recomputed, nothing eagerly materialized per round).
    * At 100 TB: |E| shuffles dominate; iters is a constant ≤ 50.
    *
    * Self-loops contribute to their own node (kept, documented). Parallel
    * edges collapse via distinct — this is unweighted PageRank. NULL
    * endpoints drop. Emits (node, pr_scaled, pr) where pr = pr_scaled/scale
    * in ONE double division (both operands exactly representable, identical
    * IEEE result on every engine — no trunc needed).
    *
    * Node identity keeps the INPUT type (src and dst must match): every
    * round joins and aggregates on the node key, and an 8-byte long key
    * shuffles several times faster than a string — callers with multiple
    * id spaces should pack them into disjoint integer ranges rather than
    * tag with string prefixes.
    */
  /** Shared setup for the PageRank family: the layout's distinct node and
    * (edge ⋈ outdeg) frames plus the ONE O(1)-result driver count that
    * folds N into plan literals. nNodes == 0 ⇒ the graph is empty. */
  private case class PrSetup(nodes: DataFrame, withDeg: DataFrame,
                             nNodes: Long, init: Long, base: Long)

  /** One synchronous PageRank round:
    * pr'(v) = base + (Σ_{u→v} (pr(u) div outdeg(u)) * 85) div 100. */
  private def prStep(s: PrSetup)(ranks: DataFrame): DataFrame = {
    val sums = s.withDeg
      .join(ranks, s.withDeg("_src") === ranks("node"))
      .select(col("_dst"), expr("pr_scaled div _deg").as("_c"))
      .groupBy(col("_dst")).agg(sum(col("_c")).as("_s"))
    s.nodes.join(sums, s.nodes("node") === sums("_dst"), "left")
      .select(s.nodes("node"),
        (lit(s.base)
          + expr("(coalesce(_s, CAST(0 AS BIGINT)) * 85) div 100"))
          .as("pr_scaled"))
  }

  // ── co-partitioned persisted input layouts (round-16, guide §2.4/§6) ──
  //
  // The in-session equivalent of a BUCKETED EDGE TABLE: every fixpoint in
  // this file joins its O(|V|) score/frontier frame onto a static edge-side
  // frame each round. With the edge frames localCheckpoint'd, the
  // partitioning is erased (a LogicalRDD reports unknown partitioning and
  // default stats), so EVERY round re-shuffles O(|E|) edge rows. Hash-
  // partitioning the edge frame by its per-round join key ONCE
  // (repartition + persist) and reusing it lets every round's join consume
  // the layout — the per-round edge Exchange disappears from the plan and
  // only the agg transpose (src→dst) still shuffles, which is the one
  // exchange the operation fundamentally requires. Persisted frames also
  // carry ACCURATE statistics, so the planner can pick broadcast joins for
  // the O(|V|) side where a LogicalRDD's default sizeInBytes forbade it.
  //
  // This is INPUT LAYOUT, never result caching: a layout holds only the
  // normalized static input (distinct edges, node set, degree frame) and
  // every fixpoint recomputes all of its rounds from it on every run.
  // Builders are meant to run inside an openly-timed one-time build step
  // (the bench's `_build:graph_edges_bucketed` line item). At 100 TB the
  // same move is a bucketBy(src) edge table persisted by the warehouse
  // (guide §2.4 "bucketed tables persist a partitioning across jobs");
  // repartition+persist is the session-lifetime form with identical join
  // semantics.

  /** Scale-adaptive partition count for a persisted layout frame: one
    * hash partition per ~8M rows (≈100-300 MB of edge rows — the guide
    * §2.2/§6 partition-size band), floored at 1. Derived from the frame's
    * MEASURED row count, never from the session's CPU-oriented shuffle
    * setting: at bench scale a 32-way layout multiplied every per-round
    * cache scan into 32 sub-second tasks (measured 4-6× task-count and
    * task-time inflation at sf0.1), while a handful of partitions keeps
    * the per-task fixed cost amortized; at 100 TB the same rule yields
    * the thousands of partitions the data actually needs. */
  private val LayoutRowsPerPartition = 8L * 1024 * 1024
  private def layoutPartitions(rows: Long): Int =
    math.min(math.max(1L,
      (rows + LayoutRowsPerPartition - 1) / LayoutRowsPerPartition),
      1000000L).toInt

  /** Sizing for layout frames whose consumers do heavy PER-ROW compute
    * (the wedge expansion, iterated peels): at least the bytes rule, but
    * also enough partitions to keep the session's cores busy once the
    * frame has ≥64k rows per core to chew — a narrow layout under a
    * compute-heavy consumer serializes the map side (measured: the
    * common-neighbor wedge 5.7 s on a 32-way frame vs 12.5 s on a 1-way
    * frame at sf0.1/32). Below 64k rows/core the per-task fixed cost
    * dominates and fewer partitions win again. */
  private def computeLayoutPartitions(df: DataFrame, rows: Long): Int = {
    val cores = df.sparkSession.sparkContext.defaultParallelism.toLong
    math.max(layoutPartitions(rows),
      math.max(1L, math.min(cores, rows / 65536L)).toInt)
  }

  /** PageRank-family input layout over one directed graph: the
    * (edge ⋈ outdeg) frame hash-partitioned by `_src` (every round joins
    * ranks on it), the node frame hash-partitioned by `node` (every
    * round's left join folds sums back onto it), both persisted and
    * eagerly materialized, plus the one N count every consumer folds
    * into plan literals. `edges` is a projection of the cached withDeg
    * frame (same rows, `_deg` dropped, partitioning kept) serving the
    * BFS walkers, which join their frontier on the same `_src` key. */
  case class PrLayout private[graft] (edges: DataFrame, nodes: DataFrame,
                                      withDeg: DataFrame, nNodes: Long)

  /** `inputNormalized = true` skips the layout's own normalization work
    * (the distinct shuffle and the NULL filter) — the CALLER's proof
    * obligation, stated where the flag is passed: the edge frame is
    * already (1) distinct and (2) NULL-free. The staging checkpoint still
    * runs either way, so lineage truncation, re-scan cost, and build-step
    * cost attribution are unchanged; only the redundant shuffle goes. Row
    * set and every emitted frame are identical — distinct on a distinct
    * frame is the identity (round-16 §2.4: don't re-shuffle what the
    * input already guarantees). */
  def pagerankLayout(edges: DataFrame, src: String, dst: String,
                     inputNormalized: Boolean = false): PrLayout = {
    val emitted = Seq("node", "pr_scaled", "pr", "dist", "_src", "_dst",
      "_deg", "_s", "_d")
    require(!emitted.contains(src) && !emitted.contains(dst),
      s"pagerankLayout emits/uses ${emitted.mkString(", ")}; rename inputs")
    require(edges.schema(src).dataType == edges.schema(dst).dataType,
      s"src/dst must share one node type; got ${edges.schema(src).dataType} " +
        s"vs ${edges.schema(dst).dataType}")
    // stage the normalized frame once (eager checkpoint), size the layout
    // from its measured row count, then lay it out
    val e0proj = edges.select(col(src).as("_src"), col(dst).as("_dst"))
    val e0 =
      (if (inputNormalized) e0proj
       else e0proj
         .filter(col("_src").isNotNull && col("_dst").isNotNull)
         .distinct())
        .localCheckpoint(true)
    val nParts = layoutPartitions(e0.count())
    val nodes = e0.select(col("_src").as("node"))
      .union(e0.select(col("_dst").as("node")))
      .distinct()
      .repartition(nParts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withDeg = e0
      .join(e0.groupBy(col("_src")).agg(count(lit(1)).as("_deg")),
        Seq("_src"))
      .repartition(nParts, col("_src"))
      // cluster the persisted edge rows by the join key (round-16, guide
      // §2.3/§6 sort-on-write): equal keys adjacent makes every downstream
      // exchange of this frame compress ~2x better (measured 13.4 -> 5.5
      // MB per fixpoint-segment shuffle write) for one in-partition sort
      // at build time
      .sortWithinPartitions(col("_src"), col("_dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize NOW — the caller's build step is the timed region; the
    // counts are the layout's only driver actions (N feeds plan literals)
    val nNodes = nodes.count()
    withDeg.count()
    PrLayout(withDeg.select(col("_src"), col("_dst")), nodes, withDeg,
      nNodes)
  }

  /** The PrSetup of a prebuilt layout: zero new work (the layout already
    * normalized, partitioned, and counted). */
  private def prSetupFrom(l: PrLayout, scale: Long): PrSetup = {
    require(scale >= 1000000L, s"scale must be >= 1e6, got $scale")
    val init = if (l.nNodes == 0L) 0L else scale / l.nNodes
    PrSetup(l.nodes, l.withDeg, l.nNodes, init, (init * 15L) / 100L)
  }

  /** PERSONALIZED PageRank — importance relative to a trusted seed set,
    * not the whole graph: teleport mass returns only to `seeds` (the
    * "random surfer restarts at an audited supplier" walk), so scores
    * rank nodes by proximity-weighted reachability FROM the seeds — the
    * trust-propagation gauge behind source-quality weighting and
    * contamination spread scoring. Same integer contract as
    * pagerankWithResidualOn's ranks, with the uniform base swapped for a
    * seed-conditional one:
    *   init(v)  = scale div S        if v ∈ seeds else 0   (S = |seeds∩V|)
    *   pr'(v)   = [v ∈ seeds]·((scale div S)·15) div 100
    *            + (Σ_{u→v} (pr(u) div outdeg(u)) · 85) div 100
    * Every op integral ⇒ bit-identical across engines/partitionings; the
    * oracle unrolls the same rounds with a CASE'd base. Seeds outside
    * the edge set are DROPPED (they hold mass the graph can never see;
    * S counts survivors — the oracle must agree on the same set);
    * an empty surviving seed set emits all-zero ranks. Per round: the
    * identical one-join-one-agg-one-left-join shape as plain PageRank —
    * the seed flag rides the checkpointed node frame, costing nothing
    * per round. Runs over a prebuilt co-partitioned layout (no per-call
    * setup, no per-round edge Exchange). Emits (node, pr_scaled, pr). */
  def pagerankPersonalizedOn(l: PrLayout, seeds: DataFrame, iters: Int,
                             scale: Long = 1000000000000L): DataFrame =
    pagerankPersonalizedCore(prSetupFrom(l, scale), seeds, iters, scale)

  private def pagerankPersonalizedCore(s: PrSetup, seeds: DataFrame,
                                       iters: Int, scale: Long): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(seeds.columns.sameElements(Array("node")),
      s"seeds must have exactly one column 'node'; got " +
        seeds.columns.mkString(", "))
    if (s.nNodes == 0L)
      return s.nodes.select(col("node"), lit(0L).as("pr_scaled"),
        lit(0d).as("pr"))
    // seed flag onto the node frame, checkpointed once — the per-round
    // join/agg shape is untouched; ONE O(1)-result count folds S into
    // plan literals exactly like prSetupFrom's N
    val flagged = s.nodes.join(
        seeds.filter(col("node").isNotNull).distinct()
          .select(col("node"), lit(true).as("_seed")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("_seed"), lit(false)).as("_seed"))
      .localCheckpoint(true)
    val nSeeds = flagged.filter(col("_seed")).count()
    if (nSeeds == 0L)
      return flagged.select(col("node"), lit(0L).as("pr_scaled"),
        lit(0d).as("pr"))
    val init = scale / nSeeds
    val base = (init * 15L) / 100L
    var ranks = flagged.select(col("node"),
      when(col("_seed"), lit(init)).otherwise(lit(0L)).as("pr_scaled"))
    for (i <- 1 to iters) {
      val sums = s.withDeg
        .join(ranks, s.withDeg("_src") === ranks("node"))
        .select(col("_dst"), expr("pr_scaled div _deg").as("_c"))
        .groupBy(col("_dst")).agg(sum(col("_c")).as("_s"))
      ranks = flagged.join(sums, flagged("node") === sums("_dst"), "left")
        .select(flagged("node"),
          (when(col("_seed"), lit(base)).otherwise(lit(0L))
            + expr("(coalesce(_s, CAST(0 AS BIGINT)) * 85) div 100"))
            .as("pr_scaled"))
      if (i % 8 == 0 && i < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"), col("pr_scaled"),
      (col("pr_scaled").cast("double") / lit(scale.toDouble)).as("pr"))
  }

  /** The (ranks, residual) PAIR over ONE shared fixpoint prefix — for a
    * registry exposing both queries (q_pagerank, q_pagerank_residual):
    * iters−1 rounds run once (the penultimate frame is eagerly
    * checkpointed; it feeds both the final step and the diff), the final
    * frame likewise (it feeds the rank output and the diff). The ranks are the fixed-iteration integer
    * PageRank above and the residual is its last-round movement — the
    * same integer arithmetic, so the same oracles hold — at one
    * fixpoint's cost instead of two. Construction is EAGER (the
    * checkpoints materialize now).
    *
    * The residual is the convergence gauge — "was `iters` enough?": the
    * L1 residual Σ_v |pr_iters(v) − pr_{iters−1}(v)| between the LAST TWO
    * rounds, as one summary row. Fixed-iteration PageRank is the right
    * oracle-checkable core (bit-exact integer arithmetic, zero per-round
    * driver traffic), but it reports no movement signal; the gauge
    * reads the SAME integer rounds (so the oracle reproduces it digit for
    * digit) off the penultimate rank frame — it has two consumers, the
    * last step and the diff, so the cut prevents a re-execution of the
    * whole chain, at the cost of one materialization — and folds the diff through one co-partitioned join + one global agg.
    * Reading: residual ≈ 0 ⇒ converged; large ⇒ raise iters. The scaled
    * residual is exact BIGINT; `l1` is one double division. Residual:
    * ONE row (n_nodes, l1_scaled, l1); an empty graph emits all-zero
    * ranks and the (0, 0, 0.0) row. Runs over a prebuilt co-partitioned
    * layout, so there is no per-call setup and no per-round edge
    * Exchange (see the layout scaladoc). */
  def pagerankWithResidualOn(l: PrLayout, iters: Int,
                             scale: Long = 1000000000000L)
      : (DataFrame, DataFrame) =
    pagerankWithResidualCore(prSetupFrom(l, scale), l.nodes.sparkSession,
      iters, scale)

  private def pagerankWithResidualCore(s: PrSetup,
                                       spark: org.apache.spark.sql.SparkSession,
                                       iters: Int, scale: Long)
      : (DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    import spark.implicits._
    if (s.nNodes == 0L)
      return (s.nodes.select(col("node"), lit(0L).as("pr_scaled"),
          lit(0d).as("pr")),
        Seq((0L, 0L, 0d)).toDF("n_nodes", "l1_scaled", "l1"))
    var prev = s.nodes.select(col("node"), lit(s.init).as("pr_scaled"))
    for (i <- 1 until iters) {
      prev = prStep(s)(prev)
      if (i % 8 == 0) prev = prev.localCheckpoint(true)
    }
    prev = prev.localCheckpoint(true)
    val last = prStep(s)(prev).localCheckpoint(true)
    val ranks = last.select(col("node"), col("pr_scaled"),
      (col("pr_scaled").cast("double") / lit(scale.toDouble)).as("pr"))
    val residual = prev.select(col("node"), col("pr_scaled").as("_prev"))
      .join(last.select(col("node"), col("pr_scaled")), Seq("node"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(abs(col("pr_scaled") - col("_prev"))), lit(0L))
          .as("l1_scaled"))
      .select(col("n_nodes"), col("l1_scaled"),
        (col("l1_scaled").cast("double") / lit(scale.toDouble)).as("l1"))
    (ranks, residual)
  }

  /** HITS hubs & authorities by fixed-point INTEGER arithmetic — the
    * bipartite-importance twin of integer PageRank: on a directed graph
    * (e.g. supplier→part sourcing edges) hubs are good pointers and
    * authorities are well-pointed-at targets, the two-sided importance
    * signal one PageRank score conflates. Kleinberg's iteration with
    * SUM-normalization each half-step, all arithmetic integral:
    *   a'(v) = Σ_{u→v} h(u);  a(v) = (a'(v)·scale) div Σ_w a'(w)
    *   h'(u) = Σ_{u→v} a(v);  h(u) = (h'(u)·scale) div Σ_w h'(w)
    * so after any number of rounds the scaled scores are bit-identical
    * across engines/partitionings (the PageRank argument; float HITS
    * is order-dependent in both the sums and the norm).
    *
    * Distributed shape per round: two co-partitioned hash joins (scores
    * onto edges by src, then by dst) + two hash aggs + two 1-row
    * normalizer aggs that ride back as broadcast crossJoins — O(|E|+|V|)
    * per exchange, zero driver traffic. Unlike PageRank (whose rank
    * frame has ONE consumer per round) the pre-normalization sum
    * frame here feeds BOTH the normalizer and the join back, so each
    * half-step eagerly localCheckpoints it — 2·iters materializations
    * of O(|V|) frames, which also keeps lineage depth constant.
    * Bounds: normalized scores sum to ≤ scale, so pre-normalized sums
    * obey a'(v) ≤ scale·indeg(v) and the scale-up product needs
    * scale²·maxdeg < 2⁶³ — at the default scale 10⁶ that admits degrees
    * to ~9·10⁶; past it ANSI fails loud (raise by pre-bucketing hubs or
    * lowering scale). Zero-edge graphs emit all-zero scores; nodes with
    * no in-edges (resp. out-edges) hold authority (resp. hub) exactly 0.
    * Self-loops kept; parallel edges collapse; NULL endpoints drop.
    * Scores: (node, hub_scaled, auth_scaled, hub, auth) — the doubles are
    * one exact division each.
    *
    * Emits the (scores, residual) PAIR over ONE shared HITS fixpoint —
    * the q_pagerank_residual pattern for HITS: "was `iters` enough?"
    * answered by the L1 movement of BOTH score vectors between the last
    * two rounds, Σ_v |h_i(v) − h_{i−1}(v)| and Σ_v |a_i(v) − a_{i−1}(v)|,
    * as one summary row next to the rank output. Every half-step frame
    * is already eagerly checkpointed (the two-consumer rule), so the
    * gauge costs one four-way co-keyed join + one global agg on top of
    * the fixpoint itself — never a second fixpoint. Same bit-exact
    * integer arithmetic, so the unrolled-CTE oracle reproduces both
    * outputs digit for digit. Residual row: (n_nodes,
    * l1_hub_scaled, l1_auth_scaled, l1_hub, l1_auth); a zero-edge graph
    * emits (0, 0, 0, 0.0, 0.0). Needs iters ≥ 2 (round 1 has no
    * predecessor authority vector to move from). Runs over a prebuilt
    * co-partitioned layout: the per-round edge Exchange disappears from
    * BOTH half-step joins (the layout carries the edge frame partitioned
    * by `_src` and by `_dst`). */
  def hitsWithResidualOn(l: HitsLayout, iters: Int, scale: Long = 1000000L)
      : (DataFrame, DataFrame) = {
    require(iters >= 2, s"hitsWithResidualOn needs iters >= 2, got $iters")
    val f = hitsLoop(l.eBySrc, l.eByDst, l.nodes, iters, scale)
    hitsResidualEmit(f, scale)
  }

  private def hitsResidualEmit(f: HitsFrames, scale: Long)
      : (DataFrame, DataFrame) = {
    def sc(df: DataFrame, as: String) =
      df.select(col("node"), col("_sc").as(as)).localCheckpoint(true)
    val residual = sc(f.hubs, "_h1").join(sc(f.prevHubs, "_h0"), Seq("node"))
      .join(sc(f.auths, "_a1"), Seq("node"))
      .join(sc(f.prevAuths, "_a0"), Seq("node"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(abs(col("_h1") - col("_h0"))), lit(0L))
          .as("l1_hub_scaled"),
        coalesce(sum(abs(col("_a1") - col("_a0"))), lit(0L))
          .as("l1_auth_scaled"))
      .select(col("n_nodes"), col("l1_hub_scaled"), col("l1_auth_scaled"),
        (col("l1_hub_scaled").cast("double") / lit(scale.toDouble))
          .as("l1_hub"),
        (col("l1_auth_scaled").cast("double") / lit(scale.toDouble))
          .as("l1_auth"))
    (hitsEmit(f.hubs, f.auths, scale), residual)
  }

  private def hitsEmit(hubs: DataFrame, auths: DataFrame,
                       scale: Long): DataFrame =
    hubs.select(col("node"), col("_sc").as("hub_scaled"))
      .join(auths.select(col("node"), col("_sc").as("auth_scaled")),
        Seq("node"))
      .select(col("node"), col("hub_scaled"), col("auth_scaled"),
        (col("hub_scaled").cast("double") / lit(scale.toDouble)).as("hub"),
        (col("auth_scaled").cast("double") / lit(scale.toDouble)).as("auth"))

  private case class HitsFrames(hubs: DataFrame, auths: DataFrame,
                                prevHubs: DataFrame, prevAuths: DataFrame)

  /** HITS input layout: the distinct edge frame persisted TWICE — hash-
    * partitioned by `_src` (the authority half-step joins hub scores on
    * it) and by `_dst` (the hub half-step joins authority scores) — plus
    * the node frame partitioned by `node` (every half-step's left join
    * folds sums back onto it). See the layout section scaladoc above. */
  case class HitsLayout private[graft] (eBySrc: DataFrame, eByDst: DataFrame,
                                        nodes: DataFrame)

  /** `inputNormalized`: see pagerankLayout — same caller contract
    * (distinct, NULL-free), same identity argument, checkpoint kept. */
  def hitsLayout(edges: DataFrame, src: String, dst: String,
                 inputNormalized: Boolean = false): HitsLayout = {
    val emitted = Seq("node", "hub_scaled", "auth_scaled", "hub", "auth",
      "_src", "_dst", "_s", "_t")
    require(!emitted.contains(src) && !emitted.contains(dst),
      s"hitsLayout emits/uses ${emitted.mkString(", ")}; rename inputs")
    require(edges.schema(src).dataType == edges.schema(dst).dataType,
      s"src/dst must share one node type; got ${edges.schema(src).dataType} " +
        s"vs ${edges.schema(dst).dataType}")
    val e0proj = edges.select(col(src).as("_src"), col(dst).as("_dst"))
    val e0 =
      (if (inputNormalized) e0proj
       else e0proj
         .filter(col("_src").isNotNull && col("_dst").isNotNull)
         .distinct())
        .localCheckpoint(true)
    val nParts = layoutPartitions(e0.count())
    // key-clustered on write — the pagerankLayout withDeg rationale
    val eBySrc = e0.repartition(nParts, col("_src"))
      .sortWithinPartitions(col("_src"), col("_dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val eByDst = e0.repartition(nParts, col("_dst"))
      .sortWithinPartitions(col("_dst"), col("_src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = e0.select(col("_src").as("node"))
      .union(e0.select(col("_dst").as("node")))
      .distinct()
      .repartition(nParts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // materialize now — the caller's build step is the timed region
    nodes.count()
    eBySrc.count()
    eByDst.count()
    HitsLayout(eBySrc, eByDst, nodes)
  }

  private def hitsLoop(eBySrc: DataFrame, eByDst: DataFrame,
                       nodes: DataFrame, iters: Int,
                       scale: Long): HitsFrames = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(scale >= 1000000L && scale <= 1000000000L,
      s"scale must be in [1e6, 1e9], got $scale")

    // Σ over the incoming frame, scale-normalize, keep zero-score nodes:
    // the left join back onto the checkpointed node frame preserves the
    // full node set every half-step (authority-less hubs and vice versa).
    // The pre-normalization sum frame has TWO consumers — the 1-row
    // normalizer total and the join back — so it is localCheckpoint'd
    // (the pagerankWithResidualOn two-consumer rule); without the cut each
    // round re-executes its whole prefix through both consumers and the
    // fixpoint goes exponential in iters.
    def halfStep(e: DataFrame, scores: DataFrame, joinKey: String,
                 aggKey: String): DataFrame = {
      val sums = e.join(scores, e(joinKey) === scores("node"))
        .select(col(aggKey).as("_t"), col("_sc"))
        .groupBy(col("_t")).agg(sum(col("_sc")).as("_s"))
        .localCheckpoint(true)
      // NOTE (round-15, measured): inlining the 1-row normalizer as a
      // driver literal cuts one broadcast job per half-step but changes
      // the plan TEXT every round, so whole-stage codegen recompiles all
      // 2·iters half-steps instead of reusing one cached class — measured
      // 12.3s vs 6.8s at sf0.1/32. The broadcast crossJoin keeps every
      // round's generated code identical (only LogicalRDD identities
      // differ), which is worth more than the extra job. Kept.
      val total = sums.groupBy()
        .agg(coalesce(sum(col("_s")), lit(0L)).as("_tot")) // 1 row
      nodes.join(sums, nodes("node") === sums("_t"), "left")
        .crossJoin(broadcast(total))
        .select(nodes("node"),
          when(col("_tot") > 0L,
            expr(s"(coalesce(_s, CAST(0 AS BIGINT)) * CAST($scale AS BIGINT))" +
              " div _tot"))
            .otherwise(lit(0L)).as("_sc"))
    }

    var hubs = nodes.select(col("node"), lit(scale).as("_sc"))
    var auths: DataFrame = null
    var prevHubs: DataFrame = hubs
    var prevAuths: DataFrame = null
    for (i <- 1 to iters) {
      if (i == iters) { prevHubs = hubs; prevAuths = auths }
      auths = halfStep(eBySrc, hubs, "_src", "_dst") // authority from hubs
      hubs = halfStep(eByDst, auths, "_dst", "_src") // hub from authorities
    }
    HitsFrames(hubs, auths, prevHubs, prevAuths)
  }

  /** Multi-source BFS hop distances — "how far is every node from the
    * seed set?", the reachability/radius gauge behind contamination
    * tracing (which documents sit within k derivation hops of a flagged
    * source) and graph-radius sanity checks. Synchronous relaxation for
    * a FIXED `rounds`: dist₀ = 0 on seeds; each round
    *   dist'(v) = min(dist(v), min_{u→v} dist(u) + 1)
    * — pure integer min/+1, so the result is exactly the true hop
    * distance capped at `rounds`, bit-identical on any engine (oracle:
    * unrolled CTE of the same rounds). Nodes beyond the cap are ABSENT
    * (their distance is not yet determined — emitting ∞ would lie).
    *
    * Shape per round: one hash join of the current frontier frame onto
    * the checkpointed edge frame (shuffle on the 8-byte node key), one
    * hash agg (min on dst), one union + min-agg fold back — O(|E|+|V|)
    * per exchange, zero driver traffic, fixed rounds ⇒ one lazy plan
    * with a lineage cut every 4th round. `seeds` is a one-column
    * ("node") frame; seed nodes absent from the edge set still emit
    * dist 0 (they are legitimate sources). NULL endpoints/seeds drop;
    * parallel edges collapse. Emits (node, dist).
    *
    * Runs over a prebuilt layout. The loop re-scans the edge frame once
    * per round; a row-RDD checkpoint scans measurably faster than the
    * columnar cache (one cache read per call buys `rounds` cheap scans),
    * so the layout is re-staged here rather than consumed directly. */
  def bfsDistancesOn(l: PrLayout, seeds: DataFrame, rounds: Int): DataFrame =
    bfsDistancesCore(l.edges.localCheckpoint(true), seeds, rounds)

  private def bfsDistancesCore(e: DataFrame, seeds: DataFrame,
                               rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1,50], got $rounds")
    require(seeds.columns.sameElements(Array("node")),
      s"seeds must have exactly one column 'node'; got " +
        seeds.columns.mkString(", "))
    var dist = seeds.filter(col("node").isNotNull).distinct()
      .select(col("node"), lit(0L).as("dist"))
    for (i <- 1 to rounds) {
      val relaxed = e.join(dist, e("_src") === dist("node"))
        .select(col("_dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      if (i % 4 == 0 && i < rounds) dist = dist.localCheckpoint(true)
    }
    dist
  }

  /** Per-seed BFS hop distances — bfsDistancesOn keyed by (seed, node)
    * instead of collapsed to the min over seeds, so each seed's whole
    * distance field survives (what closeness/harmonic estimators and
    * landmark-distance features consume). Same exact min/+1 integer
    * relaxation, fixed `rounds`, per-4-rounds checkpoint; state is
    * O(|seeds|·|V|) rows — pick the seed sample accordingly (this is
    * the Boldi-Vigna sampling regime: a handful of seeds estimates
    * centralities on a 100 TB graph where the all-pairs field cannot
    * exist). Runs over a prebuilt layout, re-staged as bfsDistancesOn
    * does. Emits (seed, node, dist ≤ rounds). */
  def bfsDistancesPerSeedOn(l: PrLayout, seeds: DataFrame,
                            rounds: Int): DataFrame =
    bfsDistancesPerSeedCore(l.edges.localCheckpoint(true), seeds, rounds)

  private def bfsDistancesPerSeedCore(e: DataFrame, seeds: DataFrame,
                                      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1,50], got $rounds")
    require(seeds.columns.sameElements(Array("node")),
      s"seeds must have exactly one column 'node'; got " +
        seeds.columns.mkString(", "))
    var dist = seeds.filter(col("node").isNotNull).distinct()
      .select(col("node").as("seed"), col("node"), lit(0L).as("dist"))
    for (i <- 1 to rounds) {
      val relaxed = e.join(dist, e("_src") === dist("node"))
        .select(col("seed"), col("_dst").as("node"),
          (col("dist") + 1L).as("dist"))
      dist = dist.union(relaxed)
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
      if (i % 4 == 0 && i < rounds) dist = dist.localCheckpoint(true)
    }
    dist
  }

  /** Sampled harmonic centrality (Boldi & Vigna 2014): per node, the sum
    * of reciprocal hop distances FROM the seed sample,
    * H(v) = Σ_{s: 0 < d(s,v) ≤ rounds} 1/d(s,v) — the centrality that
    * stays well-defined on disconnected graphs (unreachable seeds
    * contribute zero, not infinity, unlike closeness). Exact integer:
    * each reciprocal enters as 10⁶ div d, the per-node sum is BIGINT.
    * One bfsDistancesPerSeedOn frame + one node-keyed agg; n_reached
    * makes the sample coverage visible beside the score. Nodes no seed
    * reaches within `rounds` are absent (unmeasured, not zero). Emits
    * (node, n_reached, harmonic_ppm). Taking the BFS frame as input lets
    * a caller share ONE BFS between this and betweennessSampledFromOn
    * when both run on the same seeds/rounds. */
  def harmonicCentralityFrom(dist: DataFrame): DataFrame =
    dist
      .filter(col("dist") > 0L)
      .groupBy(col("node"))
      .agg(count(lit(1)).as("n_reached"),
        sum(expr("CAST(1000000 AS BIGINT) div dist")).as("harmonic_ppm"))

  /** Sampled betweenness centrality (Brandes 2001, seed-sampled as in
    * Brandes & Pich 2007) — which nodes do shortest paths FUNNEL
    * through? The bridge/broker gauge degree and PageRank both miss
    * (a low-degree node connecting two communities scores ~0 on both
    * and dominates here). Exact per-seed Brandes, RELATIONALLY: the
    * per-seed BFS fields (bfsDistancesPerSeedOn) induce the shortest-path
    * DAG (edges where dist(v) = dist(u)+1, each seed's own levels);
    * path counts σ accumulate FORWARD level by level (σ_seed = 1,
    * σ(v) = Σ_pred σ(u) — decimal(38,0): path counts compound);
    * dependencies δ accumulate BACKWARD level by level,
    * δ(u) += (σ(u)·(10⁶ + δ(v))) div σ(v) — each term ONE truncating
    * decimal div to ppm, so both engines walk identical integers.
    * BC(v) = Σ_seeds δ(v) over non-seed rows. Like every sampled
    * centrality here this is the Boldi-Vigna/Brandes-Pich regime:
    * O(|seeds|·|V|) state and 2·rounds bounded joins — the exact
    * all-sources form cannot exist at 100 TB, the sample's can. Emits
    * (node, bc_ppm) for every node some seed reaches at dist ≥ 1
    * (zeros kept: "on no shortest path" is a finding).
    *
    * The Brandes passes run over a precomputed bfsDistancesPerSeedOn
    * frame — the BFS is the piece harmonic centrality shares, so a
    * caller running both memoizes `dist` and pays for it once. CONTRACT: `distIn` must already be materialized
    * (cached/eagerly checkpointed) — it feeds the DAG induction, the σ
    * seed rows, and the δ init, and an unmaterialized frame would re-run
    * the whole BFS three times. `rounds` must match the hop cap the
    * frame was built with (levels past it simply don't exist). The
    * DAG-induction join consumes the layout's already-distinct persisted
    * edge frame. */
  def betweennessSampledFromOn(distIn: DataFrame, l: PrLayout,
                               rounds: Int): DataFrame =
    betweennessSampledCore(distIn, l.edges, rounds)

  private def betweennessSampledCore(distIn: DataFrame, eIn: DataFrame,
                                     rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1,50], got $rounds")
    val dist = distIn // see contract above: already materialized
    val e = eIn
    // pre-shrink both join inputs: a u at the hop cap has no successor
    // level, and a v at level 0 has no predecessor — the deepest level
    // is the bulk of a bipartite expansion, so dropping it from the u
    // side is the big lever
    val du = dist.filter(col("dist") < rounds.toLong)
      .select(col("seed"), col("node").as("_u"), col("dist").as("_du"))
    val dv = dist.filter(col("dist") > 0L)
      .select(col("seed").as("_s2"), col("node").as("_v"),
        col("dist").as("_dv"))
    val dag = e.join(du, e("_src") === du("_u"))
      .join(dv, e("_dst") === dv("_v") && du("seed") === dv("_s2"))
      .filter(col("_dv") === col("_du") + 1L)
      .select(col("seed"), col("_u"), col("_v"), col("_dv"))
      .localCheckpoint(true) // consumed per level, both passes
    // both passes are LEVEL-SYNCHRONOUS over level SLICES: every DAG edge
    // spans adjacent levels and a node sits at exactly one level per seed,
    // so σ is complete after the one forward step that consumes its
    // predecessor slice, and δ is FINALIZED by the one backward step that
    // consumes its successor slice. A running whole-frame accumulator
    // (re-joined and re-checkpointed every round) would cost
    // O(rounds·|dist|) join + write work; the slices cost
    // O(|dag| + |dist|) total.
    var sigLvl = dist.filter(col("dist") === 0L)
      .select(col("seed"), col("node"),
        lit(1L).cast("decimal(38,0)").as("_sig"))
    val sigLevels = scala.collection.mutable.ArrayBuffer(sigLvl)
    for (d <- 1 to rounds) {
      sigLvl = dag.filter(col("_dv") === lit(d.toLong))
        .join(sigLvl.select(col("seed"), col("node").as("_u"),
          col("_sig")), Seq("seed", "_u"))
        .groupBy(col("seed"), col("_v"))
        .agg(sum(col("_sig")).as("_sig"))
        .select(col("seed"), col("_v").as("node"), col("_sig"))
        .localCheckpoint(true)
      sigLevels += sigLvl
    }
    val sigma = sigLevels.reduce(_.unionByName(_))
    // σ attaches per backward LEVEL SLICE, not to the whole DAG — the
    // full-DAG double join (and its checkpoint) would dominate the pass
    val sigU = sigma.select(col("seed"), col("node").as("_u"),
      col("_sig").as("_sigu"))
    val sigV = sigma.select(col("seed"), col("node").as("_v"),
      col("_sig").as("_sigv"))
    var prevDel: DataFrame = null // δ of the current successor-level slice
    val delLevels = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (d <- rounds to 1 by -1) {
      val lvl = dag.filter(col("_dv") === lit(d.toLong))
        .join(sigU, Seq("seed", "_u"))
        .join(sigV, Seq("seed", "_v"))
      // δ_v: zero at the deepest level (no successors); otherwise the
      // previous backward slice, zero-defaulted for leaves of level d
      val withDel =
        if (prevDel == null) lvl.withColumn("_delv", lit(0L))
        else lvl.join(prevDel.select(col("seed"), col("node").as("_v"),
            col("_del").as("_delv")), Seq("seed", "_v"), "left")
          .withColumn("_delv", coalesce(col("_delv"), lit(0L)))
      prevDel = withDel
        .groupBy(col("seed"), col("_u"))
        .agg(sum(expr("(_sigu * (CAST(1000000 AS DECIMAL(38,0))"
          + " + CAST(_delv AS DECIMAL(38,0)))) div _sigv")).as("_c"))
        .select(col("seed"), col("_u").as("node"),
          col("_c").cast("long").as("_del"))
        .localCheckpoint(true)
      delLevels += prevDel
    }
    // zeros kept: reached nodes on no shortest path still emit bc_ppm = 0
    val contribs = delLevels.reduce(_.unionByName(_))
    dist.filter(col("dist") > 0L).select(col("seed"), col("node"))
      .join(contribs, Seq("seed", "node"), "left")
      .groupBy(col("node"))
      .agg(sum(coalesce(col("_del"), lit(0L))).as("bc_ppm"))
  }

  /** Global triangle census of an undirected graph — node/edge/wedge/triangle
    * counts plus the global clustering coefficient, the structure summary
    * that says whether a similarity graph is clumpy (communities, duplicate
    * nests) or stringy. One output row.
    *
    * The triangle join uses DEGREE ORIENTATION — each undirected edge is
    * directed from its (degree, node)-smaller endpoint to the larger — so
    * every node's out-degree is O(√|E|) regardless of hubs (the standard
    * distributed-triangle bound: a node of degree d only fans out to
    * neighbors of degree ≥ d, and there can be at most ~√(2|E|) such
    * neighbors). Wedges are pairs of out-neighbors (one self-join on the
    * oriented source), and each triangle is counted EXACTLY once: of a
    * triangle's three orientation orders u<v<w, only the wedge (v,w) rooted
    * at u matches the oriented edge v→w. A naive canonical-order join (the
    * oracle's brute-force form) explodes on low-id hubs; degree orientation
    * is what survives a power-law graph at 100 TB.
    *
    * Clustering = 3·triangles / wedges with wedges = Σ d(d−1)/2 — integer
    * numerator and denominator, one trunc6'd division, engine-exact (the
    * d(d−1) product is always even, so the halving is exact integer math).
    * Self-loops and NULL endpoints drop; parallel edges collapse. Endpoints
    * are canonicalized as strings; node identity, not order, affects every
    * emitted count. Shuffles: distinct + degree agg + 2 joins for
    * orientation + the wedge self-join + the closing join — all hash,
    * all bounded, zero driver traffic. */
  def triangleStats(edges: DataFrame, src: String, dst: String): DataFrame = {
    val emitted = Seq("n_nodes", "n_edges", "n_wedges", "n_triangles",
      "clustering", "_a", "_b", "_da", "_db", "_u", "_v", "_x", "_y", "node")
    require(!emitted.contains(src) && !emitted.contains(dst),
      s"triangleStats emits/uses ${emitted.mkString(", ")}; rename inputs")
    val sa = col(src).cast("string"); val sb = col(dst).cast("string")
    val und = edges
      .select(least(sa, sb).as("_a"), greatest(sa, sb).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull
        && col("_a") =!= col("_b"))
      .distinct()
      .localCheckpoint(true) // reused by degree, orientation, and closing join
    val deg = und.select(col("_a").as("node"))
      .union(und.select(col("_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("_da"))
      .localCheckpoint(true)
    triangleStatsCore(und, deg)
  }

  private def triangleStatsCore(und: DataFrame, deg: DataFrame): DataFrame = {
    val lower = (col("_da") < col("_db")) ||
      (col("_da") === col("_db") && col("_a") < col("_b"))
    val oriented = und
      .join(deg.select(col("node").as("_a"), col("_da")), Seq("_a"))
      .join(deg.select(col("node").as("_b"), col("_da").as("_db")), Seq("_b"))
      .select(when(lower, col("_a")).otherwise(col("_b")).as("_u"),
        when(lower, col("_b")).otherwise(col("_a")).as("_v"))
      .localCheckpoint(true) // two consumers: wedge self-join + closure
    // NOTE (round-15, measured): expanding wedges from a collected
    // out-neighbor array (the localClusteringOn rewrite) REGRESSED here —
    // q_triangles runs on the support-filtered co-order graph, small
    // enough that both the self-join and the closure plan as broadcast
    // joins with near-zero shuffle (0.4 MB), so the array form's groupBy
    // exchange was pure added cost (1.0s → 2.6s at sf0.1). The self-join
    // stays; localClusteringOn keeps the array form because its co-sourcing
    // graph genuinely shuffles (24.7 MB, task time halved there).
    val wedgePairs = oriented
      .join(oriented.select(col("_u"), col("_v").as("_y")), Seq("_u"))
      .select(col("_v").as("_x"), col("_y"))
      .filter(col("_x") =!= col("_y")) // drop the e1 == e2 diagonal
    val triangles = wedgePairs
      .join(oriented, col("_x") === col("_u") && col("_y") === col("_v"))
      .groupBy().agg(count(lit(1)).as("n_triangles"))
    val nodeStats = deg.groupBy().agg(count(lit(1)).as("n_nodes"),
      // d(d-1) is even, so the integral halving is exact — no double detour
      expr("sum(_da * (_da - CAST(1 AS BIGINT))) div CAST(2 AS BIGINT)")
        .as("n_wedges"))
    val edgeStats = und.groupBy().agg(count(lit(1)).as("n_edges"))
    nodeStats.crossJoin(broadcast(edgeStats)).crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        when(col("n_wedges") > 0,
          floor((col("n_triangles") * 3).cast("double")
            / col("n_wedges").cast("double") * 1000000d) / 1000000d)
          .as("clustering"))
  }

  /** Market-basket association lift over (basket, item) rows — which item
    * pairs co-occur more than independence predicts. The mixing/curriculum
    * diagnostic: lift(a,b) = P(a,b) / (P(a)·P(b)) =
    * (n_ab · n_baskets) / (n_a · n_b), computed as ONE double division of two
    * BIGINT products (trunc6'd) so the score is engine-exact. Products stay
    * below 2^53 up to ~3e9 baskets with typical supports — past that, ANSI
    * mode fails the BIGINT product loudly rather than wrapping.
    *
    * Distributed shape: distinct (basket, item), basket-size filter, then the
    * pair expansion is a SELF-JOIN ON BASKET — shuffle on the basket key,
    * expansion bounded by `maxBasketSize`² per basket (the require'd cap
    * makes a degenerate mega-basket a diagnostic, not an executor OOM — the
    * rangeJoin replication-guard argument). Support filtering (`minSupport`)
    * happens straight after the pair count, so low-support pairs never reach
    * the two item-frequency joins. The n_baskets total rides in as a 1-row
    * broadcast. At 100 TB: pairs ≤ baskets · maxBasketSize², uniform in the
    * pair key; no all-pairs product anywhere.
    *
    * Baskets larger than `maxBasketSize` are EXCLUDED entirely (their
    * distinct-item count exceeds the cap) — the standard mining cutoff;
    * n_baskets counts only surviving baskets so probabilities stay
    * consistent. NULL baskets/items drop. Output ordered by the caller.
    */
  def basketLift(df: DataFrame, basket: String, item: String,
                 minSupport: Long, maxBasketSize: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    require(maxBasketSize >= 2, s"maxBasketSize must be >= 2, got $maxBasketSize")
    val emitted = Seq("item_a", "item_b", "n_ab", "n_a", "n_b", "n_baskets",
      "lift", "_bk", "_it", "_bsize")
    require(!emitted.contains(basket) && !emitted.contains(item),
      s"basketLift emits/uses ${emitted.mkString(", ")}; rename inputs")

    val items = df
      .select(col(basket).as("_bk"), col(item).as("_it"))
      .filter(col("_bk").isNotNull && col("_it").isNotNull)
      .distinct()
    val kept = items.join(
      items.groupBy(col("_bk")).agg(count(lit(1)).as("_bsize"))
        .filter(col("_bsize") <= maxBasketSize)
        .select(col("_bk")),
      Seq("_bk"))
    // Round-15 (§2.3 aggregate-before-shuffle, §2.4 share the exchange):
    // the pair expansion used to be a self-join of `kept` with itself on
    // the basket key — n² generated rows per basket with the a<b filter
    // throwing half away, and a second full shuffle of the item rows.
    // Instead collect each surviving basket's item set ONCE (arrays are
    // bounded by `maxBasketSize` — the size filter runs BEFORE the
    // collect, so a degenerate mega-basket never materializes a row) and
    // expand the exact a<b combinations inside the array with
    // codegen'd higher-order functions: n·(n−1)/2 rows, zero join. The
    // size-cap aggregation, the cap join, and the basket collect all key
    // on _bk, so they ride one exchange of the item rows; totals and
    // freq fold off the same collected frame. Identical output: pairs
    // are the same a<b set (sort_array uses the engine's own ordering,
    // the ordering the old `item_a < item_b` filter used), counts and
    // probabilities unchanged.
    // THREE consumers (totals, freq, pairs) — materialize once, or the
    // distinct + size-cap join + collect upstream re-executes down every
    // path (profiled: 5× the task time of a single pass at sf0.1)
    val bk = PlanProbe.cut(kept.groupBy(col("_bk"))
      .agg(sort_array(collect_list(col("_it"))).as("_its")))
    val totals = bk.groupBy().agg(count(lit(1)).as("n_baskets")) // 1 row
    val freq = bk.select(explode(col("_its")).as("_it"))
      .groupBy(col("_it")).agg(count(lit(1)).as("_n"))
      .localCheckpoint(true) // two consumers: the n_a and n_b joins
    val pairs = bk
      .select(col("_its"), posexplode(col("_its")).as(Seq("_i", "item_a")))
      .select(col("item_a"),
        explode(expr("slice(_its, _i + 2, size(_its))")).as("item_b"))
      .groupBy(col("item_a"), col("item_b")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minSupport)
    pairs
      .join(freq.select(col("_it").as("item_a"), col("_n").as("n_a")),
        Seq("item_a"))
      .join(freq.select(col("_it").as("item_b"), col("_n").as("n_b")),
        Seq("item_b"))
      .crossJoin(broadcast(totals))
      .withColumn("lift",
        floor((col("n_ab") * col("n_baskets")).cast("double")
          / (col("n_a") * col("n_b")).cast("double") * 1000000d) / 1000000d)
      .select(col("item_a"), col("item_b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_baskets"), col("lift"))
  }


  /** WEIGHTED PageRank — mass flows proportionally to edge weight (the
    * co-sourcing frequency, citation count, co-click strength), not
    * uniformly per neighbor: the form that separates "linked once" from
    * "linked a thousand times". Same integer contract as unweighted PageRank:
    *   pr'(v) = base + (Σ_{u→v} (pr(u)·w(u,v)) div W(u) · 85) div 100
    * with W(u) = Σ_v w(u,v), every op integral. Parallel edges COLLAPSE
    * BY SUMMING their weights (groupBy, not distinct); weights must be
    * positive integers — zero/negative/NULL weights and NULL endpoints
    * fail loud / drop. Overflow bound: pr(u)·w needs scale·maxWeight
    * < 2⁶³ (at the default scale 10¹² that admits weights to ~9·10⁶ —
    * pre-bucket heavier multiplicities or lower scale; ANSI fails loud).
    * Same per-round shape and driver contract as unweighted PageRank (one
    * extra checkpointed weight column on the edge frame). Emits
    * (node, pr_scaled, pr). */
  /** Weighted-PageRank input layout: the weight-summed edge frame joined
    * with its per-source weight totals, hash-partitioned by `_src` and
    * persisted; nodes partitioned by `node`. See the layout section
    * scaladoc above. */
  case class WprLayout private[graft] (nodes: DataFrame, withTw: DataFrame,
                                       nNodes: Long)

  /** `inputGrouped`: the weighted twin of pagerankLayout's
    * `inputNormalized` — the caller guarantees the edge frame already
    * carries ONE row per (src, dst) with positive non-NULL summed long
    * weights and NULL-free endpoints, so the weight-summing groupBy (the
    * identity on single-row groups) is skipped; the staging checkpoint
    * stays. The positivity guard still rides the scan: it is a map-side
    * filter, not a pass. */
  def pagerankWeightedLayout(edges: DataFrame, src: String, dst: String,
                             weight: String,
                             inputGrouped: Boolean = false): WprLayout = {
    val emitted = Seq("node", "pr_scaled", "pr", "_src", "_dst", "_w", "_tw",
      "_s", "_c")
    require(!emitted.contains(src) && !emitted.contains(dst)
        && !emitted.contains(weight),
      s"pagerankWeightedLayout emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    require(edges.schema(src).dataType == edges.schema(dst).dataType,
      s"src/dst must share one node type; got ${edges.schema(src).dataType} " +
        s"vs ${edges.schema(dst).dataType}")
    val wGuard = assert_true(col(weight).isNull || col(weight) > 0,
      concat(lit("pagerankWeighted: weights must be positive (a zero or " +
        "negative weight silently distorts every division); got "),
        col(weight).cast("string")))
    val e0staged = edges.filter(wGuard.isNull)
      .select(col(src).as("_src"), col(dst).as("_dst"),
        col(weight).cast("long").as("_w"))
    val e0 =
      (if (inputGrouped) e0staged
       else e0staged
         .filter(col("_src").isNotNull && col("_dst").isNotNull
           && col("_w").isNotNull)
         .groupBy(col("_src"), col("_dst")).agg(sum(col("_w")).as("_w")))
        .localCheckpoint(true)
    val nParts = layoutPartitions(e0.count())
    val nodes = e0.select(col("_src").as("node"))
      .union(e0.select(col("_dst").as("node")))
      .distinct()
      .repartition(nParts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withTw = e0
      .join(e0.groupBy(col("_src")).agg(sum(col("_w")).as("_tw")),
        Seq("_src"))
      .repartition(nParts, col("_src"))
      .sortWithinPartitions(col("_src"), col("_dst")) // key-clustered
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nNodes = nodes.count()
    withTw.count() // materialize now — the caller's build step is timed
    WprLayout(nodes, withTw, nNodes)
  }

  def pagerankWeighted(edges: DataFrame, src: String, dst: String,
                       weight: String, iters: Int,
                       scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(scale >= 1000000L, s"scale must be >= 1e6, got $scale")
    val emitted = Seq("node", "pr_scaled", "pr", "_src", "_dst", "_w", "_tw",
      "_s", "_c")
    require(!emitted.contains(src) && !emitted.contains(dst)
        && !emitted.contains(weight),
      s"pagerankWeighted emits/uses ${emitted.mkString(", ")}; rename inputs")
    require(edges.schema(src).dataType == edges.schema(dst).dataType,
      s"src/dst must share one node type; got ${edges.schema(src).dataType} " +
        s"vs ${edges.schema(dst).dataType}")
    val wGuard = assert_true(col(weight).isNull || col(weight) > 0,
      concat(lit("pagerankWeighted: weights must be positive (a zero or " +
        "negative weight silently distorts every division); got "),
        col(weight).cast("string")))
    val e = edges.filter(wGuard.isNull)
      .select(col(src).as("_src"), col(dst).as("_dst"),
        col(weight).cast("long").as("_w"))
      .filter(col("_src").isNotNull && col("_dst").isNotNull
        && col("_w").isNotNull)
      .groupBy(col("_src"), col("_dst")).agg(sum(col("_w")).as("_w"))
      .localCheckpoint(true)
    val nodes = e.select(col("_src").as("node"))
      .union(e.select(col("_dst").as("node")))
      .distinct()
      .localCheckpoint(true)
    val withTw = e
      .join(e.groupBy(col("_src")).agg(sum(col("_w")).as("_tw")), Seq("_src"))
      .localCheckpoint(true)
    val nNodes = nodes.count()
    pagerankWeightedCore(nodes, withTw, nNodes, iters, scale)
  }

  /** pagerankWeighted over a prebuilt co-partitioned layout — same rounds,
    * same output, minus the per-call setup and the per-round edge Exchange
    * (see the layout scaladoc). */
  def pagerankWeightedOn(l: WprLayout, iters: Int,
                         scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    require(scale >= 1000000L, s"scale must be >= 1e6, got $scale")
    pagerankWeightedCore(l.nodes, l.withTw, l.nNodes, iters, scale)
  }

  private def pagerankWeightedCore(nodes: DataFrame, withTw: DataFrame,
                                   nNodes: Long, iters: Int,
                                   scale: Long): DataFrame = {
    if (nNodes == 0L)
      return nodes.select(col("node"), lit(0L).as("pr_scaled"),
        lit(0d).as("pr"))
    val init = scale / nNodes
    val base = (init * 15L) / 100L
    var ranks = nodes.select(col("node"), lit(init).as("pr_scaled"))
    for (i <- 1 to iters) {
      val sums = withTw
        .join(ranks, withTw("_src") === ranks("node"))
        .select(col("_dst"), expr("(pr_scaled * _w) div _tw").as("_c"))
        .groupBy(col("_dst")).agg(sum(col("_c")).as("_s"))
      ranks = nodes.join(sums, nodes("node") === sums("_dst"), "left")
        .select(nodes("node"),
          (lit(base)
            + expr("(coalesce(_s, CAST(0 AS BIGINT)) * 85) div 100"))
            .as("pr_scaled"))
      if (i % 8 == 0 && i < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"), col("pr_scaled"),
      (col("pr_scaled").cast("double") / lit(scale.toDouble)).as("pr"))
  }

  /** Canonical-undirected input layout shared by the whole string-
    * canonical tier (k-core, triangles, local clustering, the common-
    * neighbor wedge, modularity): the distinct (least, greatest)-cast
    * pair frame — the normalization every one of those operators
    * rebuilds from the raw edge list per call — hash-partitioned by
    * `_a` and persisted, plus the degree frame over it (partitioned by
    * `node` via its own aggregate). See the layout section scaladoc. */
  case class UndLayout private[graft] (und: DataFrame, deg: DataFrame)

  /** `inputCanonicalDistinct`: pagerankLayout's `inputNormalized` for the
    * canonical-undirected form — the caller guarantees the edge frame's
    * (least, greatest)-cast-string pair set is already duplicate-free
    * (each unordered pair reachable from exactly one input row), NULL-free
    * and loop-free; the distinct shuffle is then skipped (identity). The
    * canonicalizing projection and the staging checkpoint always run. */
  def undirectedLayout(edges: DataFrame, src: String, dst: String,
                       inputCanonicalDistinct: Boolean = false): UndLayout = {
    val sa = col(src).cast("string"); val sb = col(dst).cast("string")
    val und0proj = edges
      .select(least(sa, sb).as("_a"), greatest(sa, sb).as("_b"))
    val und0 =
      (if (inputCanonicalDistinct) und0proj
       else und0proj
         .filter(col("_a").isNotNull && col("_b").isNotNull
           && col("_a") =!= col("_b"))
         .distinct())
        .localCheckpoint(true)
    val nParts = computeLayoutPartitions(und0, und0.count())
    val und = und0.repartition(nParts, col("_a"))
      .sortWithinPartitions(col("_a"), col("_b")) // key-clustered
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = und0.select(col("_a").as("node"))
      .union(und0.select(col("_b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("_da"))
      .repartition(nParts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    deg.count() // materialize now — the caller's build step is timed
    und.count()
    UndLayout(und, deg)
  }

  /** k-core membership after `rounds` synchronous peels — the density
    * skeleton of a graph (spam nests and duplicate clusters live in
    * high cores; stringy crawl frontiers die in the first peel). Each
    * round removes every node whose CURRENT degree (over surviving
    * undirected edges, parallel edges collapsed, self-loops dropped)
    * is < k, simultaneously. Fixed `rounds` is the oracle-checkable
    * core (the semantics are "after R peels" — peeling converges in a
    * handful of rounds on real graphs; raise `rounds` deliberately):
    * pure integer degree comparisons, bit-identical everywhere.
    * Shape per round (round-15 form, guide §2.3/§2.4 — restrict a
    * SHRINKING frame, not the original): the LIVE edge frame is carried
    * forward and re-restricted by two semi joins on the round's
    * survivors — peeling only removes nodes, so filtering the previous
    * round's live frame equals re-filtering the full edge set, and every
    * round's degree agg and semi joins run over a frame that only gets
    * smaller instead of re-scanning all edges. Rounds also EXIT EARLY at
    * the fixpoint: survivors only shrink, so an unchanged survivor
    * COUNT means an unchanged survivor SET, every remaining round is the
    * identity, and the emitted frame is already final — "after R peels"
    * semantics are unchanged, the identity rounds are just not paid for.
    * Emits (node, deg) over the round-R survivor-restricted edges —
    * survivors that lost their last edge inside round R are absent
    * (deg 0 has nothing to stand on; one more round would peel them
    * anyway). Runs over a prebuilt canonical-undirected layout. */
  def kcoreSurvivorsOn(l: UndLayout, k: Int, rounds: Int): DataFrame =
    kcoreSurvivorsCore(l.und, k, rounds)

  private def kcoreSurvivorsCore(undIn: DataFrame, k: Int,
                                 rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50,
      s"rounds must be in [1,50], got $rounds")
    var live = undIn
    def degrees(of: DataFrame): DataFrame =
      of.select(col("_a").as("node"))
        .union(of.select(col("_b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    // every node in `live` has deg >= 1 by construction, so round 1's
    // input ("all endpoints") needs no explicit survivor frame
    var prevAlive = -1L
    var it = 0
    var fixed = false
    while (!fixed && it < rounds) {
      // checkpointed: consumed by both endpoint semi joins; the survivor
      // count — the fixpoint gauge — rides the checkpoint job itself
      // (Gauges.checkpointObserved, round-16): one job per round where
      // the round-15 form paid checkpoint + count
      val (alive, aliveRow) = Gauges.checkpointObserved(
        degrees(live).filter(col("deg") >= k).select(col("node")),
        count(lit(1)))
      val n = aliveRow.map(_.getLong(0)).getOrElse(alive.count())
      // survivors are monotone-shrinking: an equal count IS an equal set
      fixed = n == prevAlive
      prevAlive = n
      if (!fixed) {
        live = live
          .join(alive.select(col("node").as("_a")), Seq("_a"), "left_semi")
          .join(alive.select(col("node").as("_b")), Seq("_b"), "left_semi")
          .localCheckpoint(true)
        it += 1
      }
    }
    degrees(live)
  }

  /** Per-node triangle counts and local clustering coefficients —
    * triangleStats' corner-attributed form: which nodes sit in tight
    * co-occurrence pockets (lcc → 1) vs pure hubs bridging strangers
    * (lcc → 0). Same degree-orientation trick (each triangle is closed
    * exactly once, from its lowest-degree corner's wedge), then the one
    * found triple credits ALL THREE corners via a 3-way explode —
    * O(triangles) extra rows, nothing quadratic beyond the wedge join
    * triangleStats already pays. lcc = 2·t_v/(d_v·(d_v−1)) is one
    * trunc6'd division of exact integers; degree-1 nodes emit NULL
    * (no possible wedge — undefined, not zero). Self-loops/parallel
    * edges collapse; NULL endpoints drop. Emits one row per node
    * (node, degree, n_triangles, lcc). Runs over a prebuilt
    * canonical-undirected layout. */
  def localClusteringOn(l: UndLayout): DataFrame =
    localClusteringCore(l.und, l.deg)

  private def localClusteringCore(und: DataFrame,
                                  deg: DataFrame): DataFrame = {
    val lower = (col("_da") < col("_db")) ||
      (col("_da") === col("_db") && col("_a") < col("_b"))
    val oriented = und
      .join(deg.select(col("node").as("_a"), col("_da")), Seq("_a"))
      .join(deg.select(col("node").as("_b"), col("_da").as("_db")), Seq("_b"))
      .select(when(lower, col("_a")).otherwise(col("_b")).as("_u"),
        when(lower, col("_b")).otherwise(col("_a")).as("_v"))
    // single consumer since the array-expansion rewrite — no checkpoint
    // each wedge pair once (ascending-array expansion ≡ the old _v < _y
    // filter — both use the engine's string order, matching und's
    // canonical order), so the left-semi closure finds every triangle
    // exactly once — from its unique lowest-degree-oriented middle.
    // Round-15: the wedge comes from ONE collected out-neighbor array
    // per oriented root instead of the oriented⋈oriented self-join —
    // degree orientation bounds every out-list at ~√(2|E|) (see
    // triangleStats), so the collect is hub-safe, one shuffle of the
    // oriented frame replaces two, and only the d(d−1)/2 ordered pairs
    // are ever generated.
    val closed = oriented
      .groupBy(col("_u"))
      .agg(sort_array(collect_list(col("_v"))).as("_vs"))
      .select(col("_u"), col("_vs"),
        posexplode(col("_vs")).as(Seq("_i", "_v")))
      .select(col("_u"), col("_v"),
        explode(expr("slice(_vs, _i + 2, size(_vs))")).as("_y"))
      .join(und.select(col("_a").as("_v"), col("_b").as("_y")),
        Seq("_v", "_y"), "left_semi")
      .localCheckpoint(true) // three corner projections read it
    val corners = closed.select(col("_u").as("node"))
      .union(closed.select(col("_v").as("node")))
      .union(closed.select(col("_y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("_t"))
    deg.join(corners, Seq("node"), "left")
      .select(col("node"), col("_da").as("degree"),
        coalesce(col("_t"), lit(0L)).as("n_triangles"),
        when(col("_da") >= 2L,
          floor((coalesce(col("_t"), lit(0L)) * 2).cast("double")
            / (col("_da") * (col("_da") - 1)).cast("double") * 1000000d)
            / 1000000d).as("lcc"))
  }

  /** Newman modularity of a given node partition — "do the edges stay
    * inside the communities?" — the partition-quality gauge for any
    * clustering the engine produces (dup clusters, labels, k-core
    * shells): Q = Σ_c [e_c/m − (d_c/2m)²] over communities, with e_c the
    * intra-community edge count, d_c the community degree sum, m the
    * labeled edge count.
    *
    * Exactness: both terms share the denominator 4m², so
    * Q·4m² = 4m·Σe_c − Σd_c² is EXACT integer arithmetic (d_c ≤ 2m ⇒
    * Σd_c² ≤ 4m², safe to m ~ 1.5·10⁹ in int64; ANSI fails the product
    * loudly past that) and the emitted `modularity` is ONE trunc6'd
    * division. Engine- and partitioning-exact.
    *
    * Contract: `labels` carries ONE community per node (duplicates are
    * collapsed by DISTINCT; a node with two conflicting labels would
    * double-count its edges — dedupe upstream). Edges with an UNLABELED
    * endpoint are excluded from m entirely (the quality of a partition
    * is judged on the subgraph it labels). Self-loops and parallel edges
    * collapse as everywhere in this file.
    *
    * Distributed shape: canonical undirected distinct + two label joins
    * on the endpoint keys + one O(communities) agg each for e_c and d_c,
    * totals as a 1-row fold — no unpartitioned windows, no driver
    * traffic. Emits ONE row (n_edges, n_communities, q_num, modularity);
    * zero labeled edges emit nothing (no graph, no quality). */
  def modularity(edges: DataFrame, src: String, dst: String,
                 labels: DataFrame, node: String,
                 community: String): DataFrame = {
    val sa = col(src).cast("string"); val sb = col(dst).cast("string")
    modularityFrom(edges
      .select(least(sa, sb).as("_a"), greatest(sa, sb).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull
        && col("_a") =!= col("_b"))
      .distinct(), src, dst, labels, node, community)
  }

  /** modularity over a prebuilt canonical-undirected layout — the
    * distinct canonical pair frame every call otherwise rebuilds. */
  def modularityOn(l: UndLayout, labels: DataFrame, node: String,
                   community: String): DataFrame =
    modularityFrom(l.und, "src", "dst", labels, node, community)

  private def modularityFrom(undIn: DataFrame, src: String, dst: String,
                             labels: DataFrame, node: String,
                             community: String): DataFrame = {
    val emitted = Seq("n_edges", "n_communities", "q_num", "modularity",
      "_a", "_b", "_ca", "_cb", "_c", "_e", "_d", "_m")
    require(!emitted.contains(src) && !emitted.contains(dst)
        && !emitted.contains(node) && !emitted.contains(community),
      s"modularity emits/uses ${emitted.mkString(", ")}; rename inputs")
    val lab = labels
      .filter(col(node).isNotNull && col(community).isNotNull)
      .select(col(node).cast("string").as("_a"),
        col(community).cast("string").as("_c"))
      .distinct()
    val und = undIn
      .join(lab.select(col("_a"), col("_c").as("_ca")), Seq("_a"))
      .join(lab.select(col("_a").as("_b"), col("_c").as("_cb")), Seq("_b"))
      .localCheckpoint(true) // feeds e_c, d_c, and the total
    val ec = und.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("_c")).agg(count(lit(1)).as("_e"))
    val dc = und.select(col("_ca").as("_c"))
      .union(und.select(col("_cb").as("_c")))
      .groupBy(col("_c")).agg(count(lit(1)).as("_d"))
    val m = und.agg(count(lit(1)).as("_m"))
    dc.join(ec, Seq("_c"), "left")
      .crossJoin(broadcast(m))
      .agg(first(col("_m")).as("n_edges"),
        count(lit(1)).as("n_communities"),
        sum(lit(4L) * col("_m") * coalesce(col("_e"), lit(0L))
          - col("_d") * col("_d")).as("q_num"))
      .filter(col("n_edges") > 0L)
      .select(col("n_edges"), col("n_communities"), col("q_num"),
        trunc6(col("q_num").cast("double")
          / (lit(4d) * col("n_edges").cast("double")
             * col("n_edges").cast("double"))).as("modularity"))
  }

  /** WEIGHTED Newman modularity — `modularity` with every edge counted
    * `weight` times (Newman 2004, "Analysis of weighted networks"): m
    * becomes the total canonical weight, e_c the intra-community weight,
    * d_c the weighted degree sum; Q·4m² = 4m·Σe_c − Σd_c² stays EXACT
    * int64 (d_c ≤ 2m ⇒ safe to m ~ 1.5·10⁹ total weight; ANSI fails
    * loud past it). The natural gauge for labelPropagationWeightedOn's
    * partitions — the unweighted form would grade a multiplicity-aware
    * vote on a multiplicity-blind score. Parallel canonical edges
    * collapse by SUMMING weights (the lpaWeightedLayout rule);
    * same labeling contract and O(communities) shape as modularity.
    * Emits ONE row (total_weight, n_communities, q_num, modularity). */
  def modularityWeighted(edges: DataFrame, src: String, dst: String,
                         weight: String, labels: DataFrame, node: String,
                         community: String): DataFrame = {
    val emitted = Seq("total_weight", "n_communities", "q_num",
      "modularity", "_a", "_b", "_w", "_ca", "_cb", "_c", "_e", "_d", "_m")
    require(!emitted.contains(src) && !emitted.contains(dst)
        && !emitted.contains(weight) && !emitted.contains(node)
        && !emitted.contains(community),
      s"modularityWeighted emits/uses ${emitted.mkString(", ")}; rename " +
        "inputs")
    CoreOps.requireIntegralCols(edges, Seq(weight), "modularityWeighted")
    val sa = col(src).cast("string"); val sb = col(dst).cast("string")
    val lab = labels
      .filter(col(node).isNotNull && col(community).isNotNull)
      .select(col(node).cast("string").as("_a"),
        col(community).cast("string").as("_c"))
      .distinct()
    val und = edges
      .select(least(sa, sb).as("_a"), greatest(sa, sb).as("_b"),
        col(weight).cast("long").as("_w"))
      .filter(col("_a").isNotNull && col("_b").isNotNull
        && col("_a") =!= col("_b"))
      .groupBy(col("_a"), col("_b")).agg(sum(col("_w")).as("_w"))
      .join(lab.select(col("_a"), col("_c").as("_ca")), Seq("_a"))
      .join(lab.select(col("_a").as("_b"), col("_c").as("_cb")), Seq("_b"))
      .localCheckpoint(true) // feeds e_c, d_c, and the total
    val ec = und.filter(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("_c")).agg(sum(col("_w")).as("_e"))
    val dc = und.select(col("_ca").as("_c"), col("_w"))
      .union(und.select(col("_cb").as("_c"), col("_w")))
      .groupBy(col("_c")).agg(sum(col("_w")).as("_d"))
    val m = und.agg(sum(col("_w")).as("_m"))
    dc.join(ec, Seq("_c"), "left")
      .crossJoin(broadcast(m))
      .agg(first(col("_m")).as("total_weight"),
        count(lit(1)).as("n_communities"),
        sum(lit(4L) * col("_m") * coalesce(col("_e"), lit(0L))
          - col("_d") * col("_d")).as("q_num"))
      .filter(col("total_weight") > 0L)
      .select(col("total_weight"), col("n_communities"), col("q_num"),
        trunc6(col("q_num").cast("double")
          / (lit(4d) * col("total_weight").cast("double")
             * col("total_weight").cast("double"))).as("modularity"))
  }

  /** Label-propagation input layout (shared by the weighted form when
    * built from weighted edges): the both-orientations adjacency hash-
    * partitioned by `_s` (every round joins labels on it) and the initial
    * identity labeling partitioned by `node`, persisted and eagerly
    * materialized. See the layout section scaladoc above. */
  case class LpaLayout private[graft] (adj: DataFrame, initLabels: DataFrame)

  def lpaLayout(edges: DataFrame, src: String, dst: String): LpaLayout = {
    val emitted = Seq("node", "label", "_a", "_b", "_s", "_d", "_n", "_mn")
    require(!emitted.contains(src) && !emitted.contains(dst),
      s"lpaLayout emits/uses ${emitted.mkString(", ")}; rename inputs")
    require(edges.schema(src).dataType == edges.schema(dst).dataType,
      s"src/dst must share one node type; got ${edges.schema(src).dataType} " +
        s"vs ${edges.schema(dst).dataType}")
    val und = edges
      .select(least(col(src), col(dst)).as("_a"),
        greatest(col(src), col(dst)).as("_b"))
      .filter(col("_a").isNotNull && col("_b").isNotNull
        && col("_a") =!= col("_b"))
      .distinct()
    lpaLayoutFrom(und.select(col("_a").as("_s"), col("_b").as("_d"))
      .union(und.select(col("_b").as("_s"), col("_a").as("_d"))))
  }

  def lpaWeightedLayout(edges: DataFrame, src: String, dst: String,
                        weight: String): LpaLayout = {
    val emitted = Seq("node", "label", "_a", "_b", "_s", "_d", "_w", "_n",
      "_mn")
    require(!emitted.contains(src) && !emitted.contains(dst) &&
        !emitted.contains(weight),
      s"lpaWeightedLayout emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    require(edges.schema(src).dataType == edges.schema(dst).dataType,
      s"src/dst must share one node type; got ${edges.schema(src).dataType} " +
        s"vs ${edges.schema(dst).dataType}")
    CoreOps.requireIntegralCols(edges, Seq(weight), "lpaWeightedLayout")
    val guard = assert_true(col(weight) > 0,
      concat(lit("lpaWeightedLayout: non-positive weight (zero " +
        "votes are dead edges, negative votes invert the argmax); got "),
        col(weight).cast("string")))
    val und = edges
      .select(least(col(src), col(dst)).as("_a"),
        greatest(col(src), col(dst)).as("_b"),
        col(weight).cast("long").as("_w"))
      .filter(col("_a").isNotNull && col("_b").isNotNull
        && col("_a") =!= col("_b"))
      .filter(guard.isNull)
      .groupBy(col("_a"), col("_b")).agg(sum(col("_w")).as("_w"))
    lpaLayoutFrom(
      und.select(col("_a").as("_s"), col("_b").as("_d"), col("_w"))
        .union(und.select(col("_b").as("_s"), col("_a").as("_d"),
          col("_w"))))
  }

  private def lpaLayoutFrom(adjIn: DataFrame): LpaLayout = {
    val adj0 = adjIn.localCheckpoint(true)
    val nParts = layoutPartitions(adj0.count())
    val adj = adj0.repartition(nParts, col("_s"))
      .sortWithinPartitions(col("_s"), col("_d")) // key-clustered
      .persist(StorageLevel.MEMORY_AND_DISK)
    val initLabels = adj0.select(col("_s").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .repartition(nParts, col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    initLabels.count() // materialize now — the caller's build step is timed
    adj.count()
    LpaLayout(adj, initLabels)
  }

  /** Community detection by fixed-round SYNCHRONOUS label propagation —
    * the generative companion to `modularity` (which can only score a
    * partition someone else produced): nodes start as their own label
    * and each round simultaneously adopt the most frequent label among
    * their neighbors, ties broken by the MINIMUM label. Both rules are
    * total-order argmins over exact integer counts, so after any fixed
    * number of rounds the labeling is bit-identical across engines and
    * partitionings — the integer-PageRank discipline (float-free, fixed
    * `iters`, never convergence-tested; synchronous LPA can 2-cycle on
    * bipartite graphs, which a fixed round count renders harmless for
    * reproducibility — raise `iters` deliberately, or compare two
    * consecutive counts like q_pagerank_residual if movement matters).
    *
    * Graph semantics match kcoreSurvivorsOn: UNDIRECTED, self-loops
    * dropped, parallel edges collapsed; neighbors only (a node's own
    * current label does not vote — its id won round 0). Every node has
    * ≥ 1 neighbor by construction (nodes come from edges), so each
    * round relabels the full node set.
    *
    * Distributed shape per round: one hash join of labels onto the
    * checkpointed adjacency (shuffles O(|E|)), one (node, label) count
    * agg, one O(|V|) max agg, one co-keyed join + min agg — O(|E|+|V|)
    * through every exchange, zero driver traffic. The per-round count
    * frame feeds BOTH the max and the tie-break join, so it is
    * localCheckpoint'd each round (the HITS two-consumer rule —
    * without the cut each round re-executes its whole prefix twice and
    * the fixpoint goes exponential in iters). Labels keep the input
    * node type (longs shuffle faster than strings — the PageRank
    * note; min-label ties then compare numerically on both engines).
    * Emits (node, label); the labels of a community converge to its
    * minimum member id, so `label` doubles as a canonical community
    * representative. Score the partition with `modularityOn` — the
    * composed form is oracle-checked end to end (q_communities_modularity).
    *
    * Emits the (labels, movement) PAIR over ONE propagation run — "did
    * `iters` rounds settle?" answered by the count of nodes whose label still
    * changed in the LAST round, next to the partition itself (the
    * pagerankWithResidualOn pattern; LPA has no score vector, so the
    * movement COUNT is its natural residual — 0 means a fixed point was
    * reached, and on bipartite graphs a persistent nonzero count is the
    * documented 2-cycle, not a bug). Same integer walk, so the oracle
    * reproduces both frames digit for digit. Movement row: (n_nodes,
    * n_moved, moved_share) with the share one trunc6'd division; an
    * empty graph emits (0, 0, NULL). */
  def labelPropagationWithMovementOn(l: LpaLayout, iters: Int)
      : (DataFrame, DataFrame) = {
    val (labels, prev) =
      lpaLoop(l.adj, l.initLabels, iters, count(lit(1)), trackPrev = true)
    lpaMovementEmit(labels, prev)
  }

  /** Weighted label propagation — label propagation with each neighbor's
    * vote counted `weight` times (the pagerankWeighted precedent: the
    * co-sourcing graph has lineitem multiplicities, and a neighbor
    * co-sourced 40 times should out-vote three co-sourced once). Same
    * fixed-round synchronous discipline, same min-label ties; the vote
    * is an exact integer SUM of weights instead of a count, so the
    * partition is still bit-identical across engines and partitionings.
    * Parallel edges collapse by SUMMING their canonical-pair weights
    * (the natural multigraph reading — `distinct()` would silently
    * drop multiplicity). Weights must be positive integers (fail-loud,
    * the weightedMedian convention). The layout must come from
    * lpaWeightedLayout, so `adj` carries `_w`. Emits (node, label). */
  def labelPropagationWeightedOn(l: LpaLayout, iters: Int): DataFrame = {
    require(l.adj.columns.contains("_w"),
      "labelPropagationWeightedOn needs a weighted layout " +
        "(lpaWeightedLayout); this one has no _w column")
    lpaLoop(l.adj, l.initLabels, iters, sum(col("_w")), trackPrev = false)._1
  }

  private def lpaMovementEmit(labels: DataFrame,
                              prev: DataFrame): (DataFrame, DataFrame) = {
    val movement = prev.select(col("node"), col("label").as("_pl"))
      .join(labels, Seq("node"))
      .agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(when(col("label") =!= col("_pl"), 1L).otherwise(0L)),
          lit(0L)).as("n_moved"))
      .select(col("n_nodes"), col("n_moved"),
        when(col("n_nodes") > 0L,
          floor(col("n_moved").cast("double") / col("n_nodes").cast("double")
            * 1000000d) / 1000000d).as("moved_share"))
    (labels, movement)
  }

  /** The canonical weight-summed undirected frame (_a, _b, _w) shared by
    * communityCardFrom and the weighted-LPA layout — least/greatest canonical
    * pairs, parallel edges collapsed by SUMMING weights, self-loops and
    * NULLs dropped. A caller serving several per-pass consumers memoizes
    * and persists THIS frame once (the UndLayout idea for the weighted
    * tier). */
  def weightedUndirected(edges: DataFrame, src: String, dst: String,
                         weight: String): DataFrame = {
    CoreOps.requireIntegralCols(edges, Seq(weight), "weightedUndirected")
    // the lpaWeightedLayout positivity guard, applied to the RAW
    // weights before summing (a negative weight could hide inside a
    // positive sum): every consumer of this frame assumes positive votes
    val guard = assert_true(col(weight) > 0,
      concat(lit("weightedUndirected: non-positive weight (zero votes " +
        "are dead edges, negative votes invert every argmax/cut); got "),
        col(weight).cast("string")))
    edges
      .select(least(col(src), col(dst)).as("_a"),
        greatest(col(src), col(dst)).as("_b"),
        col(weight).cast("long").as("_w"))
      .filter(col("_a").isNotNull && col("_b").isNotNull
        && col("_a") =!= col("_b"))
      .filter(guard.isNull)
      .groupBy(col("_a"), col("_b")).agg(sum(col("_w")).as("_w"))
  }

  /** Per-community quality card — the q_data_card idiom keyed by a
    * propagation partition: for every community, its size and the three
    * numbers that say whether it is real structure or an artifact —
    * intra-community edge count and weight, weighted cut to the rest of
    * the graph, and the weighted CONDUCTANCE cut_w / (2·intra_w + cut_w)
    * (0 = island, →1 = no internal cohesion; the standard community-
    * quality gauge, here as one trunc6'd division of exact integer
    * sums). `labels` must label every endpoint (LPA labels every node of
    * its edge set by construction — fail-loud if not, a silently dropped
    * endpoint would understate cuts). Parallel canonical edges collapse
    * by summing weights, exactly like lpaWeightedLayout, so the
    * card agrees with the partition it grades.
    *
    * Shape: two id-keyed joins tag endpoints, ONE community-keyed agg
    * for intra stats, one union'd endpoint agg for volumes — all output
    * frames O(communities); no windows, no driver traffic. Emits
    * (community, n_nodes, n_intra_edges, intra_weight, cut_weight,
    * conductance). `undIn` is a weightedUndirected frame — the canonical
    * weight-summing both cards of a shared graph otherwise rebuild per
    * call. */
  def communityCardFrom(undIn: DataFrame, labels: DataFrame, node: String,
                        label: String): DataFrame = {
    val emitted = Seq("community", "n_nodes", "n_intra_edges",
      "intra_weight", "cut_weight", "conductance", "_a", "_b", "_w",
      "_la", "_lb", "_c")
    require(!emitted.contains(node) && !emitted.contains(label),
      s"communityCardFrom emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    val und = undIn
    val lab = labels.select(col(node), col(label))
    val tagged = und
      .join(lab.select(col(node).as("_a"), col(label).as("_la")), Seq("_a"))
      .join(lab.select(col(node).as("_b"), col(label).as("_lb")), Seq("_b"))
      .localCheckpoint(true) // two consumers: intra stats and volumes
    val nTagged = tagged.groupBy().agg(count(lit(1)).as("_n"))
    val nUnd = und.groupBy().agg(count(lit(1)).as("_n"))
    // fail loud on unlabeled endpoints: inner joins dropping edges would
    // silently zero the very cuts the card exists to surface
    val covGuard = nUnd.crossJoin(broadcast(nTagged).select(col("_n").as("_nt")))
      .select(assert_true(col("_n") === col("_nt"),
        concat(lit("communityCardFrom: "),
          (col("_n") - col("_nt")).cast("string"),
          lit(" edge(s) have an unlabeled endpoint — label every node " +
            "(LPA output does) or filter the edge set first"))).as("_g"))
    val sizes = lab.groupBy(col(label).as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val intra = tagged.filter(col("_la") === col("_lb"))
      .groupBy(col("_la").as("community"))
      .agg(count(lit(1)).as("n_intra_edges"), sum(col("_w")).as("intra_weight"))
    val cut = tagged.filter(col("_la") =!= col("_lb"))
      .select(col("_la").as("community"), col("_w"))
      .union(tagged.filter(col("_la") =!= col("_lb"))
        .select(col("_lb").as("community"), col("_w")))
      .groupBy(col("community")).agg(sum(col("_w")).as("cut_weight"))
    sizes.join(intra, Seq("community"), "left")
      .join(cut, Seq("community"), "left")
      .crossJoin(broadcast(covGuard)) // 1 row; throws if coverage fails
      .filter(col("_g").isNull)
      .select(col("community"), col("n_nodes"),
        coalesce(col("n_intra_edges"), lit(0L)).as("n_intra_edges"),
        coalesce(col("intra_weight"), lit(0L)).as("intra_weight"),
        coalesce(col("cut_weight"), lit(0L)).as("cut_weight"))
      .withColumn("conductance",
        when(lit(2L) * col("intra_weight") + col("cut_weight") > 0L,
          trunc6(col("cut_weight").cast("double")
            / (lit(2L) * col("intra_weight") + col("cut_weight"))
              .cast("double"))))
  }

  /** The shared fixed-round propagation loop (unweighted vote =
    * count(1), weighted vote = sum(_w)): per round ONE join of labels
    * onto the adjacency and the single-aggregation argmax —
    * min(struct(-votes, label)) picks the highest vote total, then the
    * smallest label (the round-15 rewrite: one join and one exchange
    * fewer per round than the max-join + tie-break form, vote frame
    * single-consumer so no per-round checkpoint; the whole fixed-round
    * fixpoint is one lazy linear plan). With `trackPrev` the penultimate
    * frame is localCheckpoint'd — it then has two consumers, the final
    * round and the movement diff. */
  private def lpaLoop(adj: DataFrame, labels0: DataFrame, iters: Int,
                      vote: Column, trackPrev: Boolean)
      : (DataFrame, DataFrame) = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    var labels = labels0
    var prev = labels
    for (i <- 1 to iters) {
      if (trackPrev && i == iters) {
        prev = labels.localCheckpoint(true); labels = prev
      }
      labels = adj.join(labels, adj("_s") === labels("node"))
        .groupBy(col("_d"), col("label")).agg(vote.as("_n"))
        .groupBy(col("_d"))
        .agg(min(struct((-col("_n")).as("_neg"), col("label"))).as("_m"))
        .select(col("_d").as("node"), col("_m.label").as("label"))
    }
    (labels, prev)
  }

  private def trunc6(c: Column): Column = floor(c * 1000000d) / 1000000d

  /** Adamic–Adar link prediction: for non-adjacent node pairs sharing at
    * least one neighbor, AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — the
    * classic common-neighbor score that discounts promiscuous middles
    * (Adamic & Adar 2003, "Friends and neighbors on the Web"). On the
    * co-sourcing graph this surfaces the supplier/part pairs most likely
    * to co-occur next — the recommendation/missing-edge gauge next to
    * triangleStats' closure rate.
    *
    * Exactness: the score is Σ floor(10¹²/qlog(deg(w))) as BIGINT —
    * qlog = floor(ln·10⁶) (InfoTheory's quantized log, probed
    * cross-engine), and the reciprocal is one exact INTEGER division per
    * middle, summed exactly, so ranking and values are engine- and
    * partitioning-independent. Common neighbors have deg ≥ 2, so
    * qlog ≥ 693147 > 0 — no division hazard.
    *
    * Distributed shape: canonical undirected distinct edges → one degree
    * agg → wedge self-join ON THE MIDDLE NODE with the middle's degree
    * filtered to `maxMiddleDegree` BEFORE the join, so per-middle fan-out
    * is ≤ cap² and a hub is excluded, not quadratic (the basketLift
    * cutoff: hubs carry the least AA weight anyway — 1/ln(deg) vanishes
    * exactly where the join would blow up). Existing edges leave by
    * LEFT ANTI join on the canonical pair; the top-N compiles to
    * TakeOrderedAndProject (per-partition top-N, never a global sort).
    * Self-loops and NULL endpoints drop. Deterministic order:
    * (aa_scaled DESC, node_a ASC, node_b ASC).
    * The ranking view over a commonNeighborStatsOn frame.
    * Emits topN × (node_a, node_b, n_common, aa_scaled). */
  def adamicAdarFrom(stats: DataFrame, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    stats
      .orderBy(col("aa_scaled").desc, col("node_a"), col("node_b"))
      .limit(topN)
      .select(col("node_a"), col("node_b"), col("n_common"),
        col("aa_scaled"))
  }

  /** The fused common-neighbor pair frame adamicAdarFrom and
    * neighborJaccardFrom are both views over — ONE wedge self-join
    * instead of two, over a prebuilt canonical-undirected layout (the
    * layout's `_da` degree column is renamed to this operator's `deg`).
    * The two scores rank the same candidate set (non-adjacent canonical
    * pairs sharing >= 1 common neighbor of degree in [2,
    * maxMiddleDegree]) and differ only in the per-pair arithmetic, so
    * every heavy pass — the capped adjacency build, the wedge self-join
    * on the middle, the existing-edge anti join, and the pair-count
    * aggregation — runs once here; each consumer is just its own TakeOrderedAndProject. A caller
    * registering both scores should memoize THIS frame. Integer math is
    * documented on the two consumers and is unchanged by the fusion: the
    * same wedge rows feed the same aggregates. Emits one row per
    * candidate pair: (node_a, node_b, n_common, aa_scaled, deg_a, deg_b,
    * jac_scaled). The endpoint-degree joins can never drop a pair — a
    * wedge endpoint is adjacent to its middle, so it always has a degree
    * row. */
  def commonNeighborStatsOn(l: UndLayout,
                            maxMiddleDegree: Int): DataFrame =
    commonNeighborStatsCore(l.und,
      l.deg.select(col("node"), col("_da").as("deg")), maxMiddleDegree)

  private def commonNeighborStatsCore(und: DataFrame, deg: DataFrame,
                                      maxMiddleDegree: Int): DataFrame = {
    require(maxMiddleDegree >= 2, s"maxMiddleDegree must be >= 2 (a common" +
      s" neighbor has degree >= 2), got $maxMiddleDegree")
    // adjacency oriented middle→endpoint, middles capped BEFORE the join
    val adj = und.select(col("_a").as("_w"), col("_b").as("_n"))
      .union(und.select(col("_b").as("_w"), col("_a").as("_n")))
      .join(deg.filter(col("deg") >= 2 && col("deg") <= maxMiddleDegree)
        .select(col("node").as("_w"), col("deg").as("_dw")), Seq("_w"))
    // Round-15 (guide §2.3 aggregate-before-shuffle, §2.4 share the
    // exchange — the q_basket_lift rewrite applied to the wedge join):
    // instead of self-joining `adj` on the middle (which shuffles the
    // adjacency twice and generates d_w² rows per middle, the a<b filter
    // discarding half), collect each CAPPED middle's neighbor list once —
    // bounded by `maxMiddleDegree`, enforced before the collect, so a hub
    // never materializes a row — and expand the exact a<b combinations
    // with generator expressions: d_w·(d_w−1)/2 rows, one exchange, no
    // join. sort_array orders neighbors by the engine ordering, the SAME
    // ordering the old `_n < _b2` filter used, so the emitted pair set is
    // identical; _qw is the same per-middle qlog weight. `adj` now has a
    // single consumer, so its checkpoint is gone too.
    adj
      .groupBy(col("_w"), col("_dw"))
      .agg(sort_array(collect_list(col("_n"))).as("_ns"))
      // the middle's AA reciprocal computed ONCE per middle, not once per
      // wedge row (round-16, §1.2 per-task work): same true integer
      // division (`div`, NOT `/` — Column./ on integrals promotes to
      // double and a 1-ulp rounding could cross an integer), same
      // per-middle divisor, so every wedge row carries the identical
      // summand and the aggregate is unchanged
      .select(InfoTheory.qlog(col("_dw")).as("_qw"), col("_ns"))
      .select(expr("CAST(1000000000000 AS BIGINT) div _qw").as("_recip"),
        col("_ns"), posexplode(col("_ns")).as(Seq("_i", "_a")))
      .select(col("_recip"), col("_a"),
        explode(expr("slice(_ns, _i + 2, size(_ns))")).as("_b"))
      .join(und, Seq("_a", "_b"), "left_anti")
      .groupBy(col("_a"), col("_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(col("_recip")).as("aa_scaled"))
      .join(deg.select(col("node").as("_a"), col("deg").as("deg_a")),
        Seq("_a"))
      .join(deg.select(col("node").as("_b"), col("deg").as("deg_b")),
        Seq("_b"))
      .withColumn("jac_scaled", expr(
        "(n_common * CAST(1000000 AS BIGINT)) div (deg_a + deg_b - n_common)"))
      .select(col("_a").as("node_a"), col("_b").as("node_b"),
        col("n_common"), col("aa_scaled"), col("deg_a"), col("deg_b"),
        col("jac_scaled"))
  }

  /** Neighborhood-Jaccard link prediction — Adamic-Adar's size-normalized
    * sibling (|N(a)∩N(b)| / |N(a)∪N(b)|): AA rewards many rare shared
    * neighbors, Jaccard asks what FRACTION of the combined neighborhoods
    * is shared — the right gauge when endpoint degrees vary wildly (a hub
    * sharing 3 of its 500 neighbors is not like a leaf sharing 3 of 4).
    * Same hub-proof shape as adamicAdarFrom: undirected-distinct edges,
    * middles capped at `maxMiddleDegree` BEFORE the wedge join (common
    * neighbors above the cap are dropped — the documented approximation;
    * ENDPOINT degrees stay exact and uncapped), existing edges excluded,
    * deterministic (score DESC, a, b) top-N. jac_scaled enters as the
    * exact integer (n_common·10⁶) div (deg_a + deg_b − n_common); the
    * emitted `jaccard` is one double division. The ranking view over a
    * commonNeighborStatsOn frame. Emits
    * (node_a, node_b, n_common, deg_a, deg_b, jac_scaled, jaccard). */
  def neighborJaccardFrom(stats: DataFrame, topN: Int): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    stats
      .orderBy(col("jac_scaled").desc, col("node_a"), col("node_b"))
      .limit(topN)
      .select(col("node_a"), col("node_b"), col("n_common"), col("deg_a"),
        col("deg_b"), col("jac_scaled"),
        (col("jac_scaled").cast("double") / 1000000d).as("jaccard"))
  }
}
