package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators._

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is a batch twin of a reference pipeline (SURVEY.md §2,
  * cites inside the operator objects) or a training-data extension operator,
  * with matching ANSI SQL in `oracleSql` for the DuckDB hash-compare. Window /
  * gap / threshold parameters are hour-scale because the driver's `events`
  * table spans 30 days (the reference used seconds over a ~30-second demo
  * stream; the operator semantics are parameter-independent).
  *
  * All epoch outputs are bigint milliseconds and all money sums accumulate in
  * DECIMAL (CoreOps.exactSum) so results are bit-identical across engines and
  * partitionings.
  */
object SparkEntry {

  private val H  = 3600000L  // 1 hour in ms
  private val D  = 86400000L // 1 day in ms
  private val HorizonMs = 21600000L // 6 h: q_dedup_horizon's event-time bound
  private val RangeWindowMs = 600000L // 10-min incident window (range join)
  private val RangeDayMs    = D       // 1-day keyed incident window
  private val BmTerms = Seq("join", "scan", "window") // BM25 query terms
  private val BmK1 = 1.2; private val BmB = 0.75
  private val JourneyMax = 20 // events kept per user journey
  private val CmsD = 4; private val CmsW = 512 // count-min sketch shape
  private val PrIters = 5          // pagerank fixed-point iterations
  private val PrScale = 1000000000000L // pagerank integer mass scale
  // the synthetic events table keeps nearly every user active to the
  // corpus edge, so the registry uses the tightest churn horizon (quiet
  // ≥ 1 day ⇒ churned) to exercise real death steps; the operator takes
  // any horizon
  private val KmGapDays = 1
  private val KmCohortDays = 7 // weekly Kaplan-Meier signup cohorts
  private val RmstTau = 20L    // RMST horizon (days)
  // SPRT: H0 purchase rate 1/5 vs H1 2/5, α = β = 0.05 — the ppm
  // constants DERIVED from the declared design (SprtDesign.ppm, so they
  // cannot drift from the statistics they encode; SprtDesignSpec pins
  // the identity); the oracle interpolates the SAME values, so both
  // engines walk identical integers
  private val (sprtIncS, sprtIncF, sprtA, sprtB) =
    graft.streaming.SprtDesign.ppm(p0 = 0.2, p1 = 0.4,
      alpha = 0.05, beta = 0.05)
  private val SprtIncS = sprtIncS
  private val SprtIncF = sprtIncF
  private val SprtA = sprtA
  private val SprtB = sprtB
  private val KAnonK = 5L      // k-anonymity class-size floor
  private val LDivL = 3L       // l-diversity distinct-sensitive floor
  // adamic-adar: middle-degree cap (keeps part middles, excludes supplier
  // hubs on the co-sourcing graph) and emitted top pairs
  private val AaMaxDeg = 64; private val AaTopN = 100
  // quality-gate what-if grid (logistic score_ppm cuts), built AROUND the
  // classifier's live boundary (LogReg.PredBoundaryPpm — the one shared
  // constant, so the "live row must reproduce stage ppl_head" invariant
  // can't silently split): boundary ± 2 grid steps
  private val GateSweepThrs =
    (-2 to 2).map(i => LogReg.PredBoundaryPpm + i * 100000L)
  // near-dup what-if grid (jaccard pct cuts); 50 IS the pipeline's
  // verify floor, so that row must reproduce stage ppl_head too
  private val NearDupSweepThrs = Seq(50, 60, 70, 80, 90)
  // Page-Hinkley drift tolerance / alarm threshold, in cents (δ=1.00,
  // λ=500.00 — fires ~37 alarms on the sf0.01 corpus, probed)
  private val PhDelta = 100L; private val PhLambda = 50000L

  /** The quasi-identifier projection the privacy audits run over:
    * (event_type, activity day, 50-currency spend bucket) — the kind of
    * released cut that looks anonymous and often is not. */
  private def quasiCut(s: SparkSession, dir: String): DataFrame = {
    val msCol = unix_millis(col("ts"))
    Tables.events(s, dir).select(col("event_type"),
      ((msCol - pmod(msCol, lit(D))) / lit(D)).cast("long").as("day"),
      floor(col("value") / 50d).cast("long").as("spend_bucket"),
      col("user_id"))
  }
  private val BurstLo = 2 * H // two events within 2h OPEN a burst
  private val BurstHi = 8 * H // a gap past 8h CLOSES it (hysteresis band)
  // token-bucket throttle: burst capacity 3 tokens, refill 1 token/hour
  // (5/18 micro-tokens per ms), 1 token per event
  private val ThrottleCap = 3
  private val ThrottleNum = 5L; private val ThrottleDen = 18L
  private val EwmaNum = 1; private val EwmaDen = 8 // EWMA α = 1/8
  // Holt double-exponential: level α = 1/4, trend β = 1/8
  private val HoltANum = 1; private val HoltADen = 4
  private val HoltBNum = 1; private val HoltBDen = 8
  // Holt-Winters seasonal tier: period 4, seasonal γ = 1/4
  private val HwPeriod = 4
  private val HwGNum = 1; private val HwGDen = 4
  private val EwmaScale = 1000000L // EWMA fixed-point value scale
  private val KcoreK = 30      // co-sourcing density threshold
  private val KcoreRounds = 5  // synchronous k-core peeling rounds
  private val WprIters = 5     // weighted pagerank iterations
  private val TextRankTopK = 50 // keywords kept by q_textrank
  private val HitsIters = 5        // HITS fixed-point iterations
  private val HitsScale = 1000000L // HITS integer score scale (see hitsWithResidualOn)
  private val LpaIters = 4         // label-propagation rounds (even: the
                                   // bipartite co-sourcing graph 2-cycles)
  private val BfsSeedMod = 50L     // every 50th supplier seeds the BFS
  private val BfsRounds = 4        // BFS hop cap
  // the per-seed centralities carry O(|seeds|·|V|) state — a sparser seed
  // sample and one less hop keep them at the same bench weight as the
  // min-collapsed BFS (the sample size IS the documented cost knob)
  private val CentSeedMod = 499L   // every 499th supplier seeds them
  private val CentRounds = 3       // per-seed hop cap
  private val LiftSupport = 2L     // basket-lift min pair support
  private val LiftMaxBasket = 32   // basket-lift size cap (OOM guard)
  private val HistLo = 0d; private val HistWidth = 5000d; private val HistBins = 20
  private val DegLo = 0d; private val DegWidth = 16d; private val DegBins = 64
  private val SessLiftMaxTypes = 5 // distinct event types bound session baskets
  private val KfoldK = 5           // cross-validation fold count
  private val KfoldSalt = "cv"
  private val OverlapMaxDf = 10    // source-overlap ubiquitous-token cutoff
  private val KmvK = 64            // KMV sketch size (≈1/√k ≈ 12% rel. error)
  private val DpClamp = 4          // dpRelease per-user contribution bound
  private val DpKMin = 50L         // dpRelease suppression floor
  private val DpSumClamp = 10000L  // dpSumRelease per-user cents bound
  private val OvCell = 21600000L   // intervalOverlapJoin cell width (6 h)
  private val OvMaxCells = 200     // fail-loud span bound (50 days of cells)
  private val OvTopN = 300         // q_interval_overlap emission cap

  /** Shared by q_anomaly (window-function batch twin) and q_anomaly_stream
    * (moment-state machine in batch mode): both must emit these exact
    * flags — the predicate compares HUGEINTs, so rounding can never flip
    * a flag on any engine. */
  private val anomalyOracle =
    """WITH s AS (SELECT user_id, epoch_ms(ts) AS msv, event_id,
      |        floor(value * 100)::BIGINT AS c
      |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |p AS (SELECT user_id, msv, event_id, c,
      |        row_number() OVER (PARTITION BY user_id
      |                           ORDER BY msv, event_id) AS i,
      |        sum(c) OVER (PARTITION BY user_id ORDER BY msv, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS cs,
      |        sum(c::HUGEINT * c) OVER (PARTITION BY user_id
      |                     ORDER BY msv, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS css
      |      FROM s),
      |d AS (SELECT user_id, event_id, msv, c, i - 1 AS n,
      |        cs - c AS sm, css - c::HUGEINT * c AS ss
      |      FROM p),
      |e AS (SELECT *, c::HUGEINT * n - sm AS dev,
      |        n::HUGEINT * ss - sm::HUGEINT * sm AS var FROM d)
      |SELECT user_id, event_id, msv AS anomaly_ms, c AS cents,
      |  n::BIGINT AS n_prior,
      |  floor(dev::DOUBLE / sqrt(var::DOUBLE) * 1000000) / 1000000 AS z
      |FROM e
      |WHERE n >= 5 AND var > 0 AND dev::HUGEINT * dev > 9 * var"""
      .stripMargin

  /** Shared by q_funnel_timed (batch join-chain) and
    * q_funnel_timed_stream (state machine in batch mode): the greedy
    * earliest-chain under a 24h per-stage deadline. */
  private val funnelTimedOracle =
    """WITH v AS (SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, v.t0, min(epoch_ms(e.ts)) AS t1
      |      FROM events e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.t0
      |        AND epoch_ms(e.ts) - v.t0 <= 86400000
      |      GROUP BY e.user_id, v.t0)
      |SELECT e.user_id, c.t0, c.t1, min(epoch_ms(e.ts)) AS t2
      |FROM events e JOIN c ON e.user_id = c.user_id
      |WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t1
      |  AND epoch_ms(e.ts) - c.t1 <= 86400000
      |GROUP BY e.user_id, c.t0, c.t1""".stripMargin

  /** Shared by q_transitions (batch lag twin) and q_transitions_stream
    * (state machine in batch mode): both must emit this exact matrix. */
  private val transitionsOracle =
    """WITH seq AS (SELECT user_id, event_type,
      |        lag(event_type) OVER (PARTITION BY user_id
      |          ORDER BY epoch_ms(ts), event_id) AS prev
      |      FROM events
      |      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |        AND user_id IS NOT NULL),
      |c AS (SELECT prev AS from_state, event_type AS to_state,
      |        count(*)::BIGINT AS n
      |      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_state, sum(n)::BIGINT AS n_from FROM c GROUP BY 1)
      |SELECT c.from_state, c.to_state, n, n_from,
      |  floor(n::DOUBLE / n_from::DOUBLE * 1000000) / 1000000 AS prob
      |FROM c JOIN t USING (from_state)""".stripMargin

  /** Shared by q_chi2 and q_cramers_v (the effect size is a projection of
    * the same engine-exact contingency pipeline): rational per-cell
    * (O·n − r·c)²/(r·c·n), summed cross-cell in integer micro-units. */
  private val chi2OracleCte =
    """WITH base AS (SELECT event_type AS a,
      |        (epoch_ms(ts) // 86400000) % 7 AS b
      |      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      |cells AS (SELECT a, b, count(*)::BIGINT AS o FROM base GROUP BY 1, 2),
      |r AS (SELECT a, sum(o)::BIGINT AS rr FROM cells GROUP BY 1),
      |c AS (SELECT b, sum(o)::BIGINT AS cc FROM cells GROUP BY 1),
      |t AS (SELECT sum(o)::BIGINT AS n, count(DISTINCT a)::BIGINT AS na,
      |        count(DISTINCT b)::BIGINT AS nb FROM cells),
      |cell AS (SELECT n, na, nb,
      |    floor((o * n - rr * cc)::DOUBLE * (o * n - rr * cc)::DOUBLE
      |          / (rr * cc * n)::DOUBLE * 1000000)::BIGINT AS micro
      |  FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN t),
      |agg AS (SELECT n, na, nb, (na - 1) * (nb - 1) AS dof,
      |    sum(micro)::BIGINT::DOUBLE / 1000000 AS chi2
      |  FROM cell GROUP BY n, na, nb)""".stripMargin

  /** Unrolled-CTE DuckDB twin of Graph.pagerankWithResidualOn over the
    * bidirected supplier-part co-sourcing graph. Every arithmetic step is
    * the SAME integer op as the Spark side (`//` ≡ `div` on non-negative
    * operands), so after `iters` rounds the scaled ranks match
    * bit-for-bit; the final `pr` is one double division with both
    * operands exactly representable. */
  private def pagerankOracleCtes(iters: Int, scale: Long): String = {
    val head =
      s"""WITH sp AS (SELECT DISTINCT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM sp
         |      UNION SELECT dst AS src, src AS dst FROM sp),
         |nodes AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1),
         |r0 AS (SELECT node, $scale // (SELECT n FROM nn) AS pr FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.node,
         |    (($scale // (SELECT n FROM nn)) * 15) // 100
         |    + (COALESCE(s.s, 0) * 85) // 100 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.pr // d.deg)::BIGINT AS s
         |    FROM e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY 1) s ON s.node = nd.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def pagerankOracleSql(iters: Int, scale: Long): String =
    pagerankOracleCtes(iters, scale) +
      s"\nSELECT node, pr AS pr_scaled, pr::DOUBLE / CAST($scale AS DOUBLE) AS pr FROM r$iters"

  /** Convergence gauge twin: the L1 diff of the LAST TWO unrolled rounds —
    * same integer chain, one extra join + global sum. */
  private def pagerankResidualOracleSql(iters: Int, scale: Long): String =
    pagerankOracleCtes(iters, scale) +
      s"""
         |SELECT count(*)::BIGINT AS n_nodes,
         |  COALESCE(sum(abs(a.pr - b.pr)), 0)::BIGINT AS l1_scaled,
         |  COALESCE(sum(abs(a.pr - b.pr)), 0)::BIGINT::DOUBLE
         |    / CAST($scale AS DOUBLE) AS l1
         |FROM r$iters a JOIN r${iters - 1} b ON a.node = b.node""".stripMargin
  /** Unrolled-CTE DuckDB twin of Graph.hitsWithResidualOn over the DIRECTED
    * supplier→part edges. Each half-step mirrors the Spark side's
    * integer ops exactly: Σ incoming scores, then (s·scale) // total
    * with zero-score nodes kept by the LEFT JOIN onto the node frame.
    * CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and each round
    * references its predecessor ~3×, so inlining would expand the scan
    * tree 3^iters-fold (observed as an fd-exhaustion failure). */
  private def hitsOracleCtes(iters: Int, scale: Long): String = {
    val head =
      s"""WITH sp AS MATERIALIZED (SELECT DISTINCT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst FROM lineitem),
         |nodes AS MATERIALIZED (SELECT src AS node FROM sp UNION SELECT dst FROM sp),
         |h0 AS MATERIALIZED (SELECT node, CAST($scale AS BIGINT) AS sc FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""ap$i AS MATERIALIZED (SELECT e.dst AS node, sum(h.sc)::BIGINT AS s
         |  FROM sp e JOIN h${i - 1} h ON h.node = e.src GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT nd.node,
         |    CASE WHEN (SELECT sum(s)::BIGINT FROM ap$i) > 0
         |         THEN (COALESCE(p.s, 0) * $scale)
         |              // (SELECT sum(s)::BIGINT FROM ap$i)
         |         ELSE 0 END AS sc
         |  FROM nodes nd LEFT JOIN ap$i p ON p.node = nd.node),
         |hp$i AS MATERIALIZED (SELECT e.src AS node, sum(a.sc)::BIGINT AS s
         |  FROM sp e JOIN a$i a ON a.node = e.dst GROUP BY 1),
         |h$i AS MATERIALIZED (SELECT nd.node,
         |    CASE WHEN (SELECT sum(s)::BIGINT FROM hp$i) > 0
         |         THEN (COALESCE(p.s, 0) * $scale)
         |              // (SELECT sum(s)::BIGINT FROM hp$i)
         |         ELSE 0 END AS sc
         |  FROM nodes nd LEFT JOIN hp$i p ON p.node = nd.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def hitsOracleSql(iters: Int, scale: Long): String =
    hitsOracleCtes(iters, scale) +
      s"""
         |SELECT h.node, h.sc AS hub_scaled, a.sc AS auth_scaled,
         |  h.sc::DOUBLE / CAST($scale AS DOUBLE) AS hub,
         |  a.sc::DOUBLE / CAST($scale AS DOUBLE) AS auth
         |FROM h$iters h JOIN a$iters a ON a.node = h.node""".stripMargin

  /** Convergence gauge twin: L1 movement of both score vectors between
    * the last two unrolled rounds — same integer chain, one four-way
    * join + global sum (the pagerankResidualOracleSql pattern). */
  private def hitsResidualOracleSql(iters: Int, scale: Long): String =
    hitsOracleCtes(iters, scale) +
      s"""
         |SELECT count(*)::BIGINT AS n_nodes,
         |  COALESCE(sum(abs(h1.sc - h0.sc)), 0)::BIGINT AS l1_hub_scaled,
         |  COALESCE(sum(abs(a1.sc - a0.sc)), 0)::BIGINT AS l1_auth_scaled,
         |  COALESCE(sum(abs(h1.sc - h0.sc)), 0)::BIGINT::DOUBLE
         |    / CAST($scale AS DOUBLE) AS l1_hub,
         |  COALESCE(sum(abs(a1.sc - a0.sc)), 0)::BIGINT::DOUBLE
         |    / CAST($scale AS DOUBLE) AS l1_auth
         |FROM h$iters h1 JOIN h${iters - 1} h0 ON h0.node = h1.node
         |JOIN a$iters a1 ON a1.node = h1.node
         |JOIN a${iters - 1} a0 ON a0.node = h1.node""".stripMargin

  /** Unrolled-CTE twin of Graph.labelPropagationWithMovementOn over the
    * undirected co-sourcing graph: per round, neighbor-label counts,
    * per-node max count, min label among the ties — every step an integer argmin, so
    * the partition matches bit-for-bit after any fixed round count. */
  private def lpaOracleCtes(iters: Int): String = {
    val head =
      s"""WITH und AS MATERIALIZED (SELECT DISTINCT
         |        least(l_suppkey * 2, l_partkey * 2 + 1) AS a,
         |        greatest(l_suppkey * 2, l_partkey * 2 + 1) AS b
         |      FROM lineitem
         |      WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         |adj AS MATERIALIZED (SELECT a AS s, b AS d FROM und
         |      UNION ALL SELECT b AS s, a AS d FROM und),
         |l0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM adj)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT a.d AS node, l.label,
         |    count(*)::BIGINT AS n
         |  FROM adj a JOIN l${i - 1} l ON l.node = a.s GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT node, max(n)::BIGINT AS mn
         |  FROM c$i GROUP BY 1),
         |l$i AS MATERIALIZED (SELECT c.node, min(c.label) AS label
         |  FROM c$i c JOIN m$i m ON m.node = c.node AND c.n = m.mn
         |  GROUP BY 1)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private def lpaOracleSql(iters: Int): String =
    lpaOracleCtes(iters) + s"\nSELECT node, label FROM l$iters"

  /** Movement gauge twin: nodes whose label still changed in the last
    * unrolled round (the hitsResidualOracleSql pattern). */
  private def lpaMovedOracleSql(iters: Int): String =
    lpaOracleCtes(iters) +
      s"""
         |SELECT count(*)::BIGINT AS n_nodes,
         |  COALESCE(sum(CASE WHEN a.label <> b.label THEN 1 ELSE 0 END),
         |    0)::BIGINT AS n_moved,
         |  CASE WHEN count(*) > 0 THEN
         |    floor(COALESCE(sum(CASE WHEN a.label <> b.label THEN 1 ELSE 0
         |      END), 0)::DOUBLE / count(*)::DOUBLE * 1000000) / 1000000
         |  END AS moved_share
         |FROM l$iters a JOIN l${iters - 1} b ON b.node = a.node""".stripMargin

  /** The LPA chain composed with the modularity algebra (the
    * q_modularity oracle shape over the l$iters partition): LPA labels
    * every node of the edge set, so no unlabeled-endpoint filter. */
  private def lpaModularityOracleSql(iters: Int): String =
    lpaOracleCtes(iters) +
      s""",
         |lj AS MATERIALIZED (SELECT x.label AS cx, y.label AS cy
         |  FROM und e JOIN l$iters x ON x.node = e.a
         |  JOIN l$iters y ON y.node = e.b),
         |d AS (SELECT cls, count(*)::BIGINT AS dd FROM
         |        (SELECT cx AS cls FROM lj UNION ALL SELECT cy FROM lj)
         |      GROUP BY 1),
         |e AS (SELECT cx AS cls, count(*)::BIGINT AS ee FROM lj
         |      WHERE cx = cy GROUP BY 1),
         |m AS (SELECT count(*)::BIGINT AS mm FROM lj),
         |q AS (SELECT count(*)::BIGINT AS nc,
         |        sum(4 * (SELECT mm FROM m) * COALESCE(ee, 0)
         |            - dd * dd)::BIGINT AS qn
         |      FROM d LEFT JOIN e USING (cls))
         |SELECT m.mm AS n_edges, q.nc AS n_communities, q.qn AS q_num,
         |  floor(q.qn::DOUBLE / (4 * m.mm * m.mm)::DOUBLE * 1000000)
         |    / 1000000 AS modularity
         |FROM m CROSS JOIN q WHERE m.mm > 0""".stripMargin

  /** Unrolled-CTE twin of Graph.labelPropagationWeightedOn over the
    * co-sourcing graph with lineitem multiplicities: the lpaOracleCtes
    * chain with canonical-pair weight sums voting in place of counts. */
  private def lpaWeightedOracleSql(iters: Int): String =
    lpaWeightedOracleCtes(iters) + s"\nSELECT node, label FROM wl$iters"

  /** The weighted card keyed by the WEIGHTED partition — the
    * lpaCardOracleSql tail over wl$iters, reusing the weighted chain's
    * own undw canonical edge set. */
  private def lpaWeightedCardOracleSql(iters: Int): String =
    lpaWeightedOracleCtes(iters) +
      s""",
         |ctg AS MATERIALIZED (SELECT u.w, x.label AS la, y.label AS lb
         |  FROM undw u JOIN wl$iters x ON x.node = u.a
         |  JOIN wl$iters y ON y.node = u.b),
         |csz AS (SELECT label AS community, count(*)::BIGINT AS n_nodes
         |  FROM wl$iters GROUP BY 1),
         |cintra AS (SELECT la AS community, count(*)::BIGINT AS n_intra_edges,
         |    sum(w)::BIGINT AS intra_weight FROM ctg WHERE la = lb GROUP BY 1),
         |ccut AS (SELECT community, sum(w)::BIGINT AS cut_weight FROM (
         |    SELECT la AS community, w FROM ctg WHERE la <> lb
         |    UNION ALL SELECT lb AS community, w FROM ctg WHERE la <> lb)
         |  GROUP BY 1)
         |SELECT s.community, s.n_nodes,
         |  COALESCE(i.n_intra_edges, 0)::BIGINT AS n_intra_edges,
         |  COALESCE(i.intra_weight, 0)::BIGINT AS intra_weight,
         |  COALESCE(c.cut_weight, 0)::BIGINT AS cut_weight,
         |  CASE WHEN 2 * COALESCE(i.intra_weight, 0)
         |            + COALESCE(c.cut_weight, 0) > 0 THEN
         |    floor(COALESCE(c.cut_weight, 0)::DOUBLE
         |      / (2 * COALESCE(i.intra_weight, 0)
         |         + COALESCE(c.cut_weight, 0))::DOUBLE * 1000000) / 1000000
         |  END AS conductance
         |FROM csz s LEFT JOIN cintra i USING (community)
         |LEFT JOIN ccut c USING (community)""".stripMargin

  /** Weighted LPA composed with the WEIGHTED modularity algebra — the
    * lpaModularityOracleSql shape with weight sums in place of counts. */
  private def lpaWeightedModularityOracleSql(iters: Int): String =
    lpaWeightedOracleCtes(iters) +
      s""",
         |mj AS MATERIALIZED (SELECT u.w, x.label AS cx, y.label AS cy
         |  FROM undw u JOIN wl$iters x ON x.node = u.a
         |  JOIN wl$iters y ON y.node = u.b),
         |d AS (SELECT cls, sum(w)::BIGINT AS dd FROM
         |        (SELECT cx AS cls, w FROM mj UNION ALL SELECT cy, w FROM mj)
         |      GROUP BY 1),
         |e AS (SELECT cx AS cls, sum(w)::BIGINT AS ee FROM mj
         |      WHERE cx = cy GROUP BY 1),
         |m AS (SELECT sum(w)::BIGINT AS mm FROM mj),
         |q AS (SELECT count(*)::BIGINT AS nc,
         |        sum(4 * (SELECT mm FROM m) * COALESCE(ee, 0)
         |            - dd * dd)::BIGINT AS qn
         |      FROM d LEFT JOIN e USING (cls))
         |SELECT m.mm AS total_weight, q.nc AS n_communities, q.qn AS q_num,
         |  floor(q.qn::DOUBLE / (4 * m.mm * m.mm)::DOUBLE * 1000000)
         |    / 1000000 AS modularity
         |FROM m CROSS JOIN q WHERE m.mm > 0""".stripMargin

  private def lpaWeightedOracleCtes(iters: Int): String = {
    val head =
      s"""WITH undw AS MATERIALIZED (SELECT
         |        least(l_suppkey * 2, l_partkey * 2 + 1) AS a,
         |        greatest(l_suppkey * 2, l_partkey * 2 + 1) AS b,
         |        count(*)::BIGINT AS w
         |      FROM lineitem
         |      WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
         |      GROUP BY 1, 2),
         |adjw AS MATERIALIZED (SELECT a AS s, b AS d, w FROM undw
         |      UNION ALL SELECT b AS s, a AS d, w FROM undw),
         |wl0 AS MATERIALIZED (SELECT DISTINCT s AS node, s AS label FROM adjw)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""wc$i AS MATERIALIZED (SELECT a.d AS node, l.label,
         |    sum(a.w)::BIGINT AS n
         |  FROM adjw a JOIN wl${i - 1} l ON l.node = a.s GROUP BY 1, 2),
         |wm$i AS MATERIALIZED (SELECT node, max(n)::BIGINT AS mn
         |  FROM wc$i GROUP BY 1),
         |wl$i AS MATERIALIZED (SELECT c.node, min(c.label) AS label
         |  FROM wc$i c JOIN wm$i m ON m.node = c.node AND c.n = m.mn
         |  GROUP BY 1)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** The per-community card over the UNWEIGHTED LPA partition and the
    * weighted canonical edge set (Graph.communityCardFrom twin): size, intra
    * edges/weight, weighted cut (both endpoints' communities charged),
    * trunc6'd conductance. */
  private def lpaCardOracleSql(iters: Int): String =
    lpaOracleCtes(iters) +
      s""",
         |cundw AS MATERIALIZED (SELECT
         |    least(l_suppkey * 2, l_partkey * 2 + 1) AS a,
         |    greatest(l_suppkey * 2, l_partkey * 2 + 1) AS b,
         |    count(*)::BIGINT AS w
         |  FROM lineitem
         |  WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL
         |  GROUP BY 1, 2),
         |ctg AS MATERIALIZED (SELECT u.w, x.label AS la, y.label AS lb
         |  FROM cundw u JOIN l$iters x ON x.node = u.a
         |  JOIN l$iters y ON y.node = u.b),
         |csz AS (SELECT label AS community, count(*)::BIGINT AS n_nodes
         |  FROM l$iters GROUP BY 1),
         |cintra AS (SELECT la AS community, count(*)::BIGINT AS n_intra_edges,
         |    sum(w)::BIGINT AS intra_weight FROM ctg WHERE la = lb GROUP BY 1),
         |ccut AS (SELECT community, sum(w)::BIGINT AS cut_weight FROM (
         |    SELECT la AS community, w FROM ctg WHERE la <> lb
         |    UNION ALL SELECT lb AS community, w FROM ctg WHERE la <> lb)
         |  GROUP BY 1)
         |SELECT s.community, s.n_nodes,
         |  COALESCE(i.n_intra_edges, 0)::BIGINT AS n_intra_edges,
         |  COALESCE(i.intra_weight, 0)::BIGINT AS intra_weight,
         |  COALESCE(c.cut_weight, 0)::BIGINT AS cut_weight,
         |  CASE WHEN 2 * COALESCE(i.intra_weight, 0)
         |            + COALESCE(c.cut_weight, 0) > 0 THEN
         |    floor(COALESCE(c.cut_weight, 0)::DOUBLE
         |      / (2 * COALESCE(i.intra_weight, 0)
         |         + COALESCE(c.cut_weight, 0))::DOUBLE * 1000000) / 1000000
         |  END AS conductance
         |FROM csz s LEFT JOIN cintra i USING (community)
         |LEFT JOIN ccut c USING (community)""".stripMargin

  /** Unrolled-CTE twin of Graph.pagerankPersonalizedOn over the
    * bidirected sourcing graph with the q_bfs_dist seed set: the pagerank
    * CTE chain with the uniform base swapped for a seed-CASE'd one (S = surviving
    * seeds via the LEFT JOIN flag, exactly the Spark side's set). */
  private def pprOracleSql(iters: Int, scale: Long, seedMod: Long): String = {
    val head =
      s"""WITH sp AS MATERIALIZED (SELECT DISTINCT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst FROM lineitem),
         |e AS MATERIALIZED (SELECT src, dst FROM sp
         |      UNION SELECT dst AS src, src AS dst FROM sp),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e
         |      UNION SELECT dst AS node FROM e),
         |sv AS MATERIALIZED (SELECT DISTINCT l_suppkey * 2 AS node
         |      FROM lineitem WHERE l_suppkey % $seedMod = 0),
         |ns AS (SELECT count(*)::BIGINT AS s FROM sv),
         |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS deg
         |      FROM e GROUP BY 1),
         |r0 AS (SELECT nd.node,
         |    CASE WHEN v.node IS NOT NULL
         |         THEN $scale // (SELECT s FROM ns) ELSE 0 END AS pr
         |  FROM nodes nd LEFT JOIN sv v ON v.node = nd.node)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS (SELECT nd.node,
         |    CASE WHEN v.node IS NOT NULL
         |         THEN (($scale // (SELECT s FROM ns)) * 15) // 100
         |         ELSE 0 END
         |    + (COALESCE(s.s, 0) * 85) // 100 AS pr
         |  FROM nodes nd
         |  LEFT JOIN sv v ON v.node = nd.node
         |  LEFT JOIN (
         |    SELECT e.dst AS node, sum(r.pr // d.deg)::BIGINT AS s
         |    FROM e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN deg d ON d.src = e.src
         |    GROUP BY 1) s ON s.node = nd.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, pr AS pr_scaled, pr::DOUBLE / CAST($scale AS DOUBLE)" +
      s" AS pr FROM r$iters"
  }

  /** Unrolled-CTE twin of Graph.pagerankWeighted over the bidirected
    * frequency-weighted co-sourcing graph: identical integer ops —
    * (pr·w) // W(u) per edge — per round. */
  /** Shared CTE chain for the PCA pair: quantized covariance (term-exact
    * BIGINT sums, the Spark covarianceScaled algebra verbatim) + unrolled
    * power-iteration rounds in HUGEINT (= the Spark decimal(38,0)), the
    * pagerankWeightedOracleSql discipline. */
  private def pcaOracleCtes(iters: Int): String = {
    val head =
      s"""WITH e AS MATERIALIZED (SELECT embedding::DOUBLE[] AS v
         |      FROM embeddings
         |      WHERE embedding IS NOT NULL AND len(embedding) = $EmbDims),
         |gs AS (SELECT unnest(range(0, $EmbDims)) AS i),
         |mu AS MATERIALIZED (SELECT g.i,
         |        sum(floor(e.v[g.i + 1] * 1000000)::BIGINT)::BIGINT
         |          // count(*)::BIGINT AS mu,
         |        count(*)::BIGINT AS n
         |      FROM e CROSS JOIN gs g GROUP BY 1),
         |cov AS MATERIALIZED (SELECT mi.i, mj.i AS j, mi.n AS n_rows,
         |        sum(floor((e.v[mi.i + 1] - mi.mu::DOUBLE / 1000000)
         |              * (e.v[mj.i + 1] - mj.mu::DOUBLE / 1000000)
         |              * 1000000)::BIGINT)::BIGINT AS cv
         |      FROM e CROSS JOIN mu mi CROSS JOIN mu mj
         |      GROUP BY 1, 2, 3),
         |v0 AS (SELECT i AS dim, 1000000::HUGEINT AS w FROM gs)""".stripMargin
    val rounds = (1 to iters).map { r =>
      s"""w$r AS MATERIALIZED (SELECT c.i,
         |    sum(c.cv::HUGEINT * v.w)::HUGEINT AS s
         |  FROM cov c JOIN v${r - 1} v ON v.dim = c.j GROUP BY 1),
         |m$r AS (SELECT max(abs(s))::HUGEINT AS m FROM w$r),
         |v$r AS MATERIALIZED (SELECT i AS dim,
         |    CASE WHEN (SELECT m FROM m$r) > 0
         |         THEN (s * 1000000::HUGEINT) // (SELECT m FROM m$r)
         |         ELSE 0::HUGEINT END AS w
         |  FROM w$r)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** q_textrank's twin: the word-adjacency head feeding the SAME unrolled
    * weighted-pagerank rounds as pagerankWeightedOracleSql, ending at the
    * deterministic (pr DESC, word ASC) top-K. */
  private def textRankOracleSql(iters: Int, scale: Long, topK: Int): String = {
    val stop = inList(stopEn ++ stopDe ++ stopFr ++ stopEs ++ stopZh)
    val head =
      s"""WITH tk AS (SELECT list_filter(
         |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
         |                    x -> x <> ''),
         |        x -> x NOT IN $stop) AS toks
         |      FROM documents WHERE text IS NOT NULL),
         |ap AS (SELECT unnest([struct_pack(a := toks[i + 1], b := toks[i + 2])
         |                      for i in range(0, len(toks) - 1)]) AS p
         |      FROM tk WHERE len(toks) >= 2),
         |sp AS MATERIALIZED (SELECT p.a AS src, p.b AS dst,
         |        count(*)::BIGINT AS w
         |      FROM ap WHERE p.a <> p.b GROUP BY 1, 2),
         |eu AS (SELECT src, dst, w FROM sp
         |       UNION ALL SELECT dst AS src, src AS dst, w FROM sp),
         |eg AS MATERIALIZED (SELECT src, dst, sum(w)::BIGINT AS w
         |      FROM eu GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT src AS node FROM eg
         |      UNION SELECT dst FROM eg),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |tw AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS tw
         |      FROM eg GROUP BY 1),
         |r0 AS (SELECT node, $scale // (SELECT n FROM nn) AS pr FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT nd.node,
         |    (($scale // (SELECT n FROM nn)) * 15) // 100
         |    + (COALESCE(s.s, 0) * 85) // 100 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum((r.pr * e.w) // t.tw)::BIGINT AS s
         |    FROM eg e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN tw t ON t.src = e.src
         |    GROUP BY 1) s ON s.node = nd.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"""
         |SELECT node AS word, pr AS pr_scaled,
         |  pr::DOUBLE / CAST($scale AS DOUBLE) AS pr
         |FROM r$iters ORDER BY pr_scaled DESC, word ASC LIMIT $topK""".stripMargin
  }

  private def pagerankWeightedOracleSql(iters: Int, scale: Long): String = {
    val head =
      s"""WITH sp AS MATERIALIZED (SELECT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst, count(*)::BIGINT AS w
         |      FROM lineitem GROUP BY 1, 2),
         |eu AS (SELECT src, dst, w FROM sp
         |       UNION ALL SELECT dst AS src, src AS dst, w FROM sp),
         |eg AS MATERIALIZED (SELECT src, dst, sum(w)::BIGINT AS w
         |      FROM eu GROUP BY 1, 2),
         |nodes AS MATERIALIZED (SELECT src AS node FROM eg
         |      UNION SELECT dst FROM eg),
         |nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
         |tw AS MATERIALIZED (SELECT src, sum(w)::BIGINT AS tw
         |      FROM eg GROUP BY 1),
         |r0 AS (SELECT node, $scale // (SELECT n FROM nn) AS pr FROM nodes)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (SELECT nd.node,
         |    (($scale // (SELECT n FROM nn)) * 15) // 100
         |    + (COALESCE(s.s, 0) * 85) // 100 AS pr
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS node, sum((r.pr * e.w) // t.tw)::BIGINT AS s
         |    FROM eg e JOIN r${i - 1} r ON r.node = e.src
         |    JOIN tw t ON t.src = e.src
         |    GROUP BY 1) s ON s.node = nd.node)""".stripMargin
    }
    (head +: rounds).mkString(",\n") +
      s"\nSELECT node, pr AS pr_scaled, pr::DOUBLE / CAST($scale AS DOUBLE)" +
      s" AS pr FROM r$iters"
  }

  /** Unrolled-CTE twin of Graph.kcoreSurvivorsOn: R synchronous peels;
    * canonical orientation differs (numeric vs lexicographic least) but
    * the UNORDERED pair set — and therefore every degree — is
    * orientation-independent. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val head =
      s"""WITH und AS MATERIALIZED (SELECT DISTINCT
         |        least(l_suppkey * 2, l_partkey * 2 + 1) AS a,
         |        greatest(l_suppkey * 2, l_partkey * 2 + 1) AS b
         |      FROM lineitem
         |      WHERE l_suppkey IS NOT NULL AND l_partkey IS NOT NULL),
         |a0 AS MATERIALIZED (SELECT a AS node FROM und
         |      UNION SELECT b FROM und)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT e.a, e.b FROM und e
         |  JOIN a${i - 1} x ON x.node = e.a
         |  JOIN a${i - 1} y ON y.node = e.b),
         |d$i AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM l$i UNION ALL SELECT b FROM l$i) t
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |, lf AS (SELECT e.a, e.b FROM und e
         |  JOIN a$rounds x ON x.node = e.a
         |  JOIN a$rounds y ON y.node = e.b)
         |SELECT node::VARCHAR AS node, count(*)::BIGINT AS deg FROM (
         |  SELECT a AS node FROM lf UNION ALL SELECT b FROM lf) t
         |GROUP BY 1""".stripMargin
  }

  /** Unrolled-CTE twin of Graph.bfsDistancesOn: seeds at dist 0, `rounds`
    * synchronous min/+1 relaxations over the bidirected sourcing edges. */
  /** q_harmonic's twin: the bfsOracleSql relaxation keyed by (seed,
    * node), folded to Σ 10⁶ // d per node. */
  private def harmonicOracleSql(rounds: Int, seedMod: Long): String = {
    val head =
      s"""WITH sp AS (SELECT DISTINCT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM sp
         |      UNION SELECT dst AS src, src AS dst FROM sp),
         |d0 AS (SELECT DISTINCT l_suppkey * 2 AS seed,
         |        l_suppkey * 2 AS node, CAST(0 AS BIGINT) AS dist
         |       FROM lineitem WHERE l_suppkey % $seedMod = 0)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT seed, node, min(dist)::BIGINT AS dist
         |  FROM (
         |    SELECT seed, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON d.node = e.src) GROUP BY 1, 2)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"""
         |SELECT node, count(*)::BIGINT AS n_reached,
         |  sum(1000000 // dist)::BIGINT AS harmonic_ppm
         |FROM d$rounds WHERE dist > 0 GROUP BY 1""".stripMargin
  }

  /** q_betweenness's twin: the harmonicOracleSql distance chain, the
    * shortest-path DAG, σ forward per level, δ backward per level —
    * every δ term the same truncating HUGEINT div the Spark
    * decimal(38,0) runs. */
  private def betweennessOracleSql(rounds: Int, seedMod: Long): String = {
    val head =
      s"""WITH sp AS (SELECT DISTINCT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM sp
         |      UNION SELECT dst AS src, src AS dst FROM sp),
         |d0 AS (SELECT DISTINCT l_suppkey * 2 AS seed,
         |        l_suppkey * 2 AS node, CAST(0 AS BIGINT) AS dist
         |       FROM lineitem WHERE l_suppkey % $seedMod = 0)""".stripMargin
    val distSteps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT seed, node, min(dist)::BIGINT AS dist
         |  FROM (
         |    SELECT seed, node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT d.seed, e.dst AS node, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON d.node = e.src) GROUP BY 1, 2)""".stripMargin
    }
    val dag =
      s"""dg AS MATERIALIZED (SELECT du.seed, e.src AS u, e.dst AS v,
         |    dv.dist AS dv
         |  FROM e JOIN d$rounds du ON du.node = e.src
         |  JOIN d$rounds dv ON dv.node = e.dst AND dv.seed = du.seed
         |  WHERE dv.dist = du.dist + 1),
         |s0 AS (SELECT seed, node, 1::HUGEINT AS sig FROM d$rounds
         |       WHERE dist = 0)""".stripMargin
    val sigSteps = (1 to rounds).map { d =>
      s"""s$d AS MATERIALIZED (SELECT dg.seed, dg.v AS node,
         |    sum(su.sig)::HUGEINT AS sig
         |  FROM dg JOIN s${d - 1} su ON su.seed = dg.seed AND su.node = dg.u
         |  WHERE dg.dv = $d GROUP BY 1, 2)""".stripMargin
    }
    val sigAll = "sa AS MATERIALIZED (" +
      (0 to rounds).map(d => s"SELECT * FROM s$d").mkString(" UNION ALL ") +
      ")"
    val deltaInit =
      s"""dl${rounds + 1} AS (SELECT seed, node, dist, CAST(0 AS BIGINT)
         |  AS del FROM d$rounds)""".stripMargin
    val deltaSteps = (rounds to 1 by -1).map { d =>
      s"""c$d AS (SELECT dg.seed, dg.u AS node,
         |    sum((su.sig * (1000000::HUGEINT + dlv.del::HUGEINT))
         |        // sv.sig)::BIGINT AS c
         |  FROM dg
         |  JOIN sa su ON su.seed = dg.seed AND su.node = dg.u
         |  JOIN sa sv ON sv.seed = dg.seed AND sv.node = dg.v
         |  JOIN dl${d + 1} dlv ON dlv.seed = dg.seed AND dlv.node = dg.v
         |  WHERE dg.dv = $d GROUP BY 1, 2),
         |dl$d AS MATERIALIZED (SELECT dl.seed, dl.node, dl.dist,
         |    (dl.del + COALESCE(c.c, 0))::BIGINT AS del
         |  FROM dl${d + 1} dl LEFT JOIN c$d c
         |    ON c.seed = dl.seed AND c.node = dl.node)""".stripMargin
    }
    (Seq(head) ++ distSteps ++ Seq(dag) ++ sigSteps ++ Seq(sigAll)
      ++ Seq(deltaInit) ++ deltaSteps).mkString(",\n") +
      s"""
         |SELECT node, sum(del)::BIGINT AS bc_ppm
         |FROM dl1 WHERE dist > 0 GROUP BY 1""".stripMargin
  }

  private def bfsOracleSql(rounds: Int, seedMod: Long): String = {
    val head =
      s"""WITH sp AS (SELECT DISTINCT l_suppkey * 2 AS src,
         |        l_partkey * 2 + 1 AS dst FROM lineitem),
         |e AS (SELECT src, dst FROM sp
         |      UNION SELECT dst AS src, src AS dst FROM sp),
         |d0 AS (SELECT DISTINCT l_suppkey * 2 AS node, CAST(0 AS BIGINT) AS dist
         |       FROM lineitem WHERE l_suppkey % $seedMod = 0)""".stripMargin
    val steps = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(dist)::BIGINT AS dist FROM (
         |    SELECT node, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, d.dist + 1 AS dist
         |    FROM e JOIN d${i - 1} d ON d.node = e.src) GROUP BY 1)""".stripMargin
    }
    (head +: steps).mkString(",\n") + s"\nSELECT node, dist FROM d$rounds"
  }

  /** The q_survival oracle body, shared with the q_km_quantile
    * threshold-crossing composition. */
  private def survivalOracleSql: String =
    s"""WITH ev AS (SELECT user_id, $evMs // 86400000 AS day FROM events
         |            WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |u AS (SELECT user_id, min(day) AS f, max(day) AS l
         |      FROM ev GROUP BY 1),
         |m AS (SELECT max(l)::BIGINT AS mx FROM u),
         |w AS (SELECT (f - f % $KmCohortDays)::BIGINT AS cohort_day,
         |        (l - f)::BIGINT AS dur,
         |        CASE WHEN l <= (SELECT mx FROM m) - $KmGapDays
         |             THEN 1 ELSE 0 END AS death
         |      FROM u),
         |s AS (SELECT cohort_day, dur, sum(death)::BIGINT AS d,
         |        count(*)::BIGINT AS uu FROM w GROUP BY 1, 2),
         |r AS (SELECT cohort_day, dur, d, uu,
         |        sum(uu) OVER (PARTITION BY cohort_day)::BIGINT
         |        - COALESCE(sum(uu) OVER (PARTITION BY cohort_day
         |            ORDER BY dur
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0)::BIGINT AS n_risk
         |      FROM s),
         |p AS (SELECT cohort_day, dur, d, uu, n_risk,
         |        sum(CASE WHEN d > 0 AND n_risk > d
         |              THEN floor(ln((n_risk - d)::DOUBLE) * 1000000)::BIGINT
         |                 - floor(ln(n_risk::DOUBLE) * 1000000)::BIGINT
         |              ELSE 0 END)
         |          OVER (PARTITION BY cohort_day ORDER BY dur
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         |          )::BIGINT AS ls
         |      FROM r)
         |SELECT cohort_day, dur AS dur_days, n_risk, d AS n_deaths,
         |  (uu - d)::BIGINT AS n_censored,
         |  CASE WHEN n_risk > d THEN ls END AS logsurv_scaled,
         |  CASE WHEN n_risk = d THEN 0.0
         |       ELSE floor(exp(ls::DOUBLE / 1000000) * 1000000) / 1000000
         |  END AS survival
         |FROM p WHERE d > 0""".stripMargin

  /** Nelson-Aalen oracle: the survivalOracleSql lifetime chain with the
    * additive hazard prefix sum in place of the log-survival one. */
  private def nelsonAalenOracleSql: String =
    s"""WITH ev AS (SELECT user_id, $evMs // 86400000 AS day FROM events
         |            WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |u AS (SELECT user_id, min(day) AS f, max(day) AS l
         |      FROM ev GROUP BY 1),
         |m AS (SELECT max(l)::BIGINT AS mx FROM u),
         |w AS (SELECT (f - f % $KmCohortDays)::BIGINT AS cohort_day,
         |        (l - f)::BIGINT AS dur,
         |        CASE WHEN l <= (SELECT mx FROM m) - $KmGapDays
         |             THEN 1 ELSE 0 END AS death
         |      FROM u),
         |s AS (SELECT cohort_day, dur, sum(death)::BIGINT AS d,
         |        count(*)::BIGINT AS uu FROM w GROUP BY 1, 2),
         |r AS (SELECT cohort_day, dur, d, uu,
         |        sum(uu) OVER (PARTITION BY cohort_day)::BIGINT
         |        - COALESCE(sum(uu) OVER (PARTITION BY cohort_day
         |            ORDER BY dur
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0)::BIGINT AS n_risk
         |      FROM s),
         |p AS (SELECT cohort_day, dur, d, n_risk,
         |        sum(CASE WHEN d > 0
         |              THEN (d * 1000000000000) // n_risk ELSE 0 END)
         |          OVER (PARTITION BY cohort_day ORDER BY dur
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         |          )::BIGINT AS hz
         |      FROM r)
         |SELECT cohort_day, dur AS dur_days, n_risk, d AS n_deaths,
         |  hz AS hazard_scaled,
         |  hz::DOUBLE / 1000000000000 AS cum_hazard
         |FROM p WHERE d > 0""".stripMargin

  /** The Naive-Bayes prediction CTE chain, shared by q_naive_bayes and the
    * q_confusion / q_prf1 / q_kappa aggregations over it. `select` is
    * either a SELECT over the final `nb` CTE or a ", more AS (...)" CTE
    * continuation. Every ln is quantized at the term (the InfoTheory
    * convention) and the add-one smoothing normalizer folds into the
    * closed ntoks·qlog(nl+V) term, so only join hits are summed. */
  private def nbOracle(select: String): String =
    s"""WITH b AS (SELECT doc_id, lang, unnest($toksSql) AS tok FROM documents
       |           WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
       |dt AS (SELECT doc_id, lang, tok, count(*)::BIGINT AS cnt
       |       FROM b GROUP BY 1, 2, 3),
       |m AS (SELECT lang AS ml, tok, count(*)::BIGINT AS c
       |      FROM b GROUP BY 1, 2),
       |lt AS (SELECT ml, sum(c)::BIGINT AS nl FROM m GROUP BY 1),
       |pr AS (SELECT lang AS ml, count(DISTINCT doc_id)::BIGINT AS dl
       |       FROM b GROUP BY 1),
       |tot AS (SELECT (SELECT count(DISTINCT tok) FROM m)::BIGINT AS v,
       |               (SELECT count(DISTINCT doc_id) FROM b)::BIGINT AS nd),
       |nt AS (SELECT doc_id, lang AS lang_true, sum(cnt)::BIGINT AS ntoks
       |       FROM dt GROUP BY 1, 2),
       |hs AS (SELECT dt.doc_id, m.ml,
       |         sum(dt.cnt * floor(ln((m.c + 1)::DOUBLE) * 1000000)::BIGINT
       |           )::BIGINT AS hit
       |       FROM dt JOIN m USING (tok) GROUP BY 1, 2),
       |sc AS (SELECT nt.doc_id, nt.lang_true, lt.ml,
       |         (COALESCE(hs.hit, 0)
       |          - nt.ntoks * floor(ln((lt.nl + tot.v)::DOUBLE)
       |              * 1000000)::BIGINT
       |          + floor(ln(pr.dl::DOUBLE) * 1000000)::BIGINT
       |          - floor(ln(tot.nd::DOUBLE) * 1000000)::BIGINT)::BIGINT
       |           AS score
       |       FROM nt CROSS JOIN tot CROSS JOIN lt
       |       JOIN pr ON pr.ml = lt.ml
       |       LEFT JOIN hs ON hs.doc_id = nt.doc_id AND hs.ml = lt.ml),
       |nb AS (SELECT doc_id, lang_true, ml AS lang_pred,
       |         score AS score_scaled
       |       FROM (SELECT sc.*, row_number() OVER (PARTITION BY doc_id
       |               ORDER BY score DESC, ml DESC) AS rn FROM sc)
       |       WHERE rn = 1)
       |$select""".stripMargin

  /** Shared by q_entropy_by_window (two-shuffle batch entropy) and
    * q_entropy_stream (the one-aggregation streaming form, batch-run):
    * per-day event-type entropy with every ln quantized at the term. */
  private def entropyByWindowOracle: String =
    s"""WITH t AS (SELECT $evMs - $evMs % $D AS window_start_ms, event_type
       |           FROM events
       |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
       |c AS (SELECT window_start_ms, event_type, count(*)::BIGINT AS c
       |      FROM t GROUP BY 1, 2),
       |g AS (SELECT window_start_ms, sum(c)::BIGINT AS tot,
       |        count(*)::BIGINT AS n_categories,
       |        sum(c * floor(ln(c::DOUBLE) * 1000000)::BIGINT)::BIGINT AS sclc
       |      FROM c GROUP BY 1)
       |SELECT window_start_ms, tot AS n_total, n_categories,
       |  (tot * floor(ln(tot::DOUBLE) * 1000000)::BIGINT - sclc)::BIGINT
       |    AS entropy_scaled,
       |  (tot * floor(ln(tot::DOUBLE) * 1000000)::BIGINT - sclc)::DOUBLE
       |    / (tot::DOUBLE * 1000000) AS entropy
       |FROM g""".stripMargin

  private val HotKeyTopN = 50 // candidates probed by q_heavy_hitters_hot
  // doc-id checkpoints for the q_vocab_growth Heaps-law gauge
  private val VocabCps = Seq(50L, 100L, 200L, 350L, 500L)
  private val PackTokens = 512L // training-example length for q_pack
  private val SplitFracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val SplitSalt = "sp"

  // Stopword profiles for language-ID / quality scoring (function words).
  private val stopEn = Seq("the", "and", "of", "to", "in", "is", "a", "that", "it", "for")
  private val stopDe = Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den")
  private val stopFr = Seq("le", "les", "et", "de", "un", "une", "est", "pour", "que", "dans")
  private val stopEs = Seq("el", "los", "las", "y", "de", "un", "una", "es", "para", "por")
  private val stopZh = Seq("的", "是", "不", "了", "在", "人", "有", "我", "他", "这")
  private val langProfiles = Map(
    "en" -> stopEn, "de" -> stopDe, "fr" -> stopFr, "es" -> stopEs, "zh" -> stopZh)

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. TPC-H Q1-style
    * pricing summary — exercises scan, pushdown, partial agg, decimal sums. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")

  private def q1Agg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        CoreOps.exactSum(col("l_quantity")).as("sum_qty"),
        CoreOps.exactSum(col("l_extendedprice")).as("sum_base_price"),
        CoreOps.exactSumFloor(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── flagship ──────────────────────────────────────────────────────────
    "q1_agg" -> ((s, dir) => q1Agg(s, dir)),

    // TPC-H Q17-shaped small-quantity analysis: which brands' revenue
    // hides in orders far below the part's typical quantity — the
    // correlated avg decorrelated as one per-part agg joined back, the
    // 20% threshold as EXACT integer cross-multiplication
    // (5·qty·cnt < Σqty — no float avg anywhere), revenue in exact decimal
    "q_small_qty" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .withColumn("qty_c", floor(col("l_quantity") * 100).cast("long"))
      val perPart = li.groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("qty_c")).as("sum_qty_c"), count(lit(1)).as("cnt"))
      li.join(perPart, col("l_partkey") === col("pk"))
        .filter(col("qty_c") * 5L * col("cnt") < col("sum_qty_c"))
        .join(broadcast(Tables.part(s, dir)
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_small"),
          CoreOps.exactSum(col("l_extendedprice")).as("revenue"))
    }),
    // star-schema rollup: large-large shuffle join + broadcast dim + hash agg
    // (exercises the full TPC-H-ish table set; Catalyst broadcasts nation
    // automatically — AQE picks the strategy from observed sizes)
    "q_nation_revenue" -> ((s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          CoreOps.exactSum(col("o_totalprice")).as("total_revenue"))),

    // TPC-H Q5-style regional rollup across EVERY relational table: two
    // large-large shuffle joins (lineitem⋈orders, ⋈part via AQE's choice),
    // broadcast hints only on the always-tiny dims (nation, region — the
    // region filter prunes before the join), exact decimal revenue
    "q_regional_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("n_name"), col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          CoreOps.exactSumFloor(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))),

    // TPC-H Q3 shape (shipping priority): selective filters reach all
    // three scans BEFORE the joins (PushedFilters), the grouped revenue
    // uses the exact floor-cents decimal sum, and the top-10 is a
    // TakeOrderedAndProject — never a global sort
    "q_ship_priority" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1995-06-01").cast("timestamp"))
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") < lit("1995-06-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(CoreOps.exactSumFloor(
          col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
        // the parquet column is TIMESTAMP_NTZ; session TZ is UTC, so the
        // cast reads it as the same instant DuckDB's epoch_ms sees
        .select(col("l_orderkey"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"),
          col("o_orderpriority"), col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)),

    // TPC-H Q10 shape (returned-item report): which customers drove the
    // most returned revenue in one order year. The R-flag filter and the
    // order-date year both reach their scans BEFORE the joins
    // (PushedFilters); nation broadcasts; the top-20 is a
    // TakeOrderedAndProject, never a global sort
    "q_returned_top" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .join(Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(CoreOps.exactSumFloor(
          col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("lost_revenue"))
        .orderBy(col("lost_revenue").desc, col("c_custkey"))
        .limit(20)),

    // TPC-H Q18 shape (large-volume orders): the agg→join-back pattern —
    // qualify orders by an aggregate (total quantity > threshold), then
    // rejoin the tiny qualifying set to orders/customer for the report.
    // The qualifier is partial-agg'd (map-side combine on l_orderkey);
    // the join-back re-lands on the same orderkey partitioning, and AQE
    // broadcasts the qualifying side once its observed size is small
    "q_large_orders" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(CoreOps.exactSum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250d)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("o_orderkey"),
          // parquet column is TIMESTAMP_NTZ; session TZ is UTC, so this
          // cast reads the same instant DuckDB's epoch_ms sees
          unix_millis(col("o_orderdate").cast("timestamp")).as("odate_ms"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)),

    // one-pass Deequ-style profile of the event table's numeric columns:
    // every metric for every column in ONE aggregate job (the distinct
    // counts are the only shuffle — one Expand hash agg, q_cube's shape)
    "q_numeric_profile" -> ((s, dir) =>
      CoreOps.numericProfile(Tables.events(s, dir),
        Seq("event_id", "user_id", "value"))),
    // the data-quality gate as a report: row checks share one corpus
    // pass, the uniqueness check is one partial-agg'd groupBy
    "q_constraints" -> ((s, dir) =>
      CoreOps.constraintReport(Tables.events(s, dir),
        Seq("ts_not_null" -> col("ts").isNotNull,
          "value_non_negative" -> (col("value") >= 0),
          "known_event_type" -> col("event_type").isin(
            "view", "click", "purchase", "signup", "error")),
        Seq("event_id"))),

    // ── §2.5 aggregations (E1, E2, E4, E8) ────────────────────────────────
    "q_keyed_sum" -> ((s, dir) =>
      CoreOps.keyedSum(Tables.events(s, dir), "user_id", "value", "total_value")),
    "q_running_sum" -> ((s, dir) =>
      CoreOps.runningSum(Tables.events(s, dir), "user_id", "ts", "event_id",
          "value", "running_value")
        .select(col("event_id"), col("user_id"), col("running_value"))),
    // skew-hardened twin, checked against the identical oracle
    "q_running_sum_salted" -> ((s, dir) =>
      CoreOps.runningSumSalted(Tables.events(s, dir), "user_id", "ts", "event_id",
          "value", "running_value")
        .select(col("event_id"), col("user_id"), col("running_value"))),
    // profile-driven form: measures the hottest key's share and picks the
    // plain or salted plan itself (SCALE.md's salt-or-not decision as code);
    // same oracle — the choice is purely physical
    "q_running_sum_auto" -> ((s, dir) =>
      CoreOps.runningSumAuto(Tables.events(s, dir), "user_id", "ts", "event_id",
          "value", "running_value")
        .select(col("event_id"), col("user_id"), col("running_value"))),
    "q_tumbling_count" -> ((s, dir) =>
      CoreOps.tumblingCount(Tables.events(s, dir), "ts", "1 hour")),
    "q_sliding_summary" -> ((s, dir) =>
      CoreOps.slidingSummary(Tables.events(s, dir), "ts", "2 hours", "1 hour")),
    "q_session_summary" -> ((s, dir) =>
      CoreOps.sessionSummary(Tables.events(s, dir), "user_id", "ts", "2 hours")),
    "q_keyed_window_count" -> ((s, dir) =>
      CoreOps.keyedWindowCount(Tables.events(s, dir), Seq("user_id", "event_type"),
        "ts", "1 day")),

    // ── §2.6 windowed stream-stream join (E5) ─────────────────────────────
    "q_window_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      CoreOps.windowJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        "user_id", "ts", "1 day",
        Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
    }),

    // as-of join (custom operator tier — Spark has no native ASOF): for each
    // purchase, the latest error at-or-before it per user; DuckDB's native
    // ASOF LEFT JOIN is the oracle
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_millis(col("ts")).as("err_ms"), col("event_id"))
        .groupBy(col("user_id"), col("err_ms")) // unique (key, ts): deterministic tie
        .agg(max(col("event_id")).as("err_event"))
        .withColumn("ts", timestamp_millis(col("err_ms")))
      CoreOps.asofJoin(purchases, errors, "user_id", "ts", Seq("err_ms", "err_event"))
        .select(col("event_id"), col("user_id"), col("err_ms"), col("err_event"))
    }),
    // the STREAM-STREAM as-of as a keyed state machine, batch-run: every
    // purchase probes the latest error at-or-before it off O(1)
    // latest-right state per user (rights at one ts collapse to max
    // event_id — the same pre-aggregation the batch pipeline applies);
    // same ASOF oracle under the events NULL convention
    "q_asof_join_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull && col("ts").isNotNull)
      val sm = graft.streaming.StateMachines
      sm.asofMatches(sm.asofEvents(
          ev.filter(col("event_type") === "purchase"), col("user_id"),
          unix_millis(col("ts")), col("event_id"),
          ev.filter(col("event_type") === "error"), col("user_id"),
          unix_millis(col("ts")), col("event_id")))
        .select(col("tiebreak").as("event_id"),
          col("key").cast("long").as("user_id"),
          col("match_ms").as("err_ms"),
          col("match_tiebreak").as("err_event"))
    }),
    // the same as-of carry under a 1h staleness bound: a last-error match
    // older than an hour is no usable context and nulls out
    "q_asof_tolerant" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_millis(col("ts")).as("err_ms"), col("event_id"))
        .groupBy(col("user_id"), col("err_ms"))
        .agg(max(col("event_id")).as("err_event"))
        .withColumn("ts", timestamp_millis(col("err_ms")))
      CoreOps.asofJoinTolerant(purchases, errors, "user_id", "ts",
          Seq("err_ms", "err_event"), 3600000L)
        .select(col("event_id"), col("user_id"), col("err_ms"), col("err_event"))
    }),

    // ── §2.7/§2.8 split + tagged merge (E3) ───────────────────────────────
    "q_split_merge" -> ((s, dir) => {
      val (err, rest) = CoreOps.splitBy(Tables.events(s, dir),
        col("event_type") === "error")
      CoreOps.taggedUnion(err, "Stream-Error", rest, "Stream-Normal", Seq("user_id"))
        .groupBy(col("stream"), col("user_id")).agg(count(lit(1)).as("cnt"))
    }),

    // ── §2.9 keyed state machines (E7, E8b) ───────────────────────────────
    "q_interval_alert" -> ((s, dir) =>
      StatefulTwins.intervalAlert(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", "error", D)),
    "q_action_durations" -> ((s, dir) =>
      StatefulTwins.actionDurations(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", "signup", "purchase")),

    // ── §2.9 streaming state machines, batch-mode (same oracle as twins) ──
    // flatMapGroupsWithState executes in batch too; hash-matching the lag()
    // twins' oracle proves the streaming state walk emits identical rows.
    "q_interval_alert_stream" -> ((s, dir) => {
      val ke = graft.streaming.StateMachines.keyedEvents(Tables.events(s, dir),
        col("user_id"), unix_millis(col("ts")), col("event_id"), col("event_type"))
      graft.streaming.StateMachines.intervalAlerts(ke, "error", D)
        .select(col("key").cast("long").as("user_id"), col("ts_ms"), col("gap_ms"))
    }),
    "q_action_durations_stream" -> ((s, dir) => {
      val ke = graft.streaming.StateMachines.keyedEvents(Tables.events(s, dir),
        col("user_id"), unix_millis(col("ts")), col("event_id"), col("event_type"))
      graft.streaming.StateMachines.actionDurations(ke, "signup", "purchase")
        .select(col("key").cast("long").as("user_id"), col("action"), col("duration_ms"))
    }),
    // event-time horizon dedup (alert suppression): a (user, type) event is
    // admitted iff its predecessor lies > 6 h earlier BY EVENT TIME — the
    // replay-deterministic form of the dedup machines' wall-clock TTL. The
    // lag twin and the EventTimeTimeout machine hash-match the same oracle.
    "q_dedup_horizon" -> ((s, dir) =>
      StatefulTwins.horizonKeepFirst(
          Tables.events(s, dir).withColumn("_k",
            concat(col("user_id").cast("string"), lit(":"),
              col("event_type"))),
          "_k", "ts", "event_id", HorizonMs)
        .select(col("event_id"), col("is_first"))),
    "q_dedup_horizon_stream" -> ((s, dir) => {
      val docs = Tables.events(s, dir).select(
          concat(col("user_id").cast("string"), lit(":"),
            col("event_type")).as("th"),
          col("event_id").cast("long").as("doc_id"),
          lit("").as("lang"), lit("").as("text"),
          unix_millis(col("ts")).as("tsMs"))
        .as[graft.streaming.TimedHashedDoc](
          graft.streaming.StateMachines.timedHashedDocEnc)
      graft.streaming.StateMachines.keepFirstEventTime(docs, HorizonMs, 0L)
        .select(col("doc_id").as("event_id"), col("is_first"))
    }),

    // ── §2.10 event time, watermarks, late data (E6) ──────────────────────
    // all three share ONE persisted prefix-scan (see flaggedEvents): the
    // running-max frame computes once per run instead of three times
    "q_late_flag" -> ((s, dir) =>
      flaggedEvents(s, dir).select(col("event_id"), col("arr_ms"), col("is_late"))),
    "q_event_time_count" -> ((s, dir) =>
      CoreOps.tumblingCount(flaggedEvents(s, dir).filter(!col("is_late")),
        "ts", "1 hour")),
    "q_late_rows" -> ((s, dir) =>
      flaggedEvents(s, dir).filter(col("is_late"))
        .select(col("event_id"), col("arr_ms"))),

    // ── extensions: dedup / text / similarity ─────────────────────────────
    // shared with the funnel's gate 1 and the rule flags (the fingerprint
    // groupBy runs once per session — exactDedupShared)
    "q_dedup_exact" -> ((s, dir) => exactDedupShared(s, dir)),
    // per-(source, lang) duplication profile — exact distinct fingerprints
    "q_dedup_profile" -> ((s, dir) =>
      Dedup.dedupProfile(Tables.documents(s, dir), "text", Seq("source", "lang"))),
    // HLL++ sketch twin, fully oracle-checked: emits the exact distinct
    // count plus a within-bound verdict on the sketch estimate (the estimate
    // itself never leaves the engine), so DuckDB computes the exact side and
    // hash-matches the whole row; the bound is also pinned by TextAndDedupSpec
    "q_dedup_profile_approx" -> ((s, dir) =>
      Dedup.dedupProfileChecked(Tables.documents(s, dir), "text", Seq("source", "lang"))),
    "q_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(Tables.documents(s, dir), "doc_id", "text")),
    // vocabulary richness per doc: TTR + hapax rate — the boilerplate/spam
    // separator that length and punctuation heuristics miss
    "q_lexical_diversity" -> ((s, dir) =>
      TextOps.lexicalDiversity(Tables.documents(s, dir), "doc_id", "text")),
    // Good-Turing unseen mass per language: p0 = N1/N — how much of each
    // slice's token distribution is still unobserved (the under-sampling
    // gauge a vocab/crawl budget is planned against); plus the adjusted
    // singleton worth 2·N2/N1, all integer-ppm
    "q_good_turing" -> ((s, dir) =>
      TextOps.goodTuring(Tables.documents(s, dir), "lang", "text")),
    // which sources mirror each other's content: pairwise exact Jaccard
    // over per-source bigram-shingle sets, ubiquitous shingles excluded
    // BEFORE the bucketed pair expansion (the scale bound AND the signal)
    "q_source_overlap" -> ((s, dir) =>
      TextOps.sourceOverlap(Tables.documents(s, dir), "source", "text",
        2, OverlapMaxDf)),
    // KMV distinct sketch (k smallest md5 token hashes per source) beside
    // the exact count — HLL answers "how many distinct"; KMV sketches also
    // compose into set operations (q_kmv_overlap). One distinct shuffle
    // builds every sketch; the estimate is pure BIGINT
    "q_kmv_distinct" -> ((s, dir) =>
      Sketches.kmvDistinct(Tables.documents(s, dir), "source", "text", KmvK)),
    // the 100 TB overlap path: pairwise shared-vocabulary estimates from
    // the k-row sketches ALONE (union sketch = k-min of the merged sides,
    // intersection by co-membership ρ-scaling) — q_source_overlap re-joins
    // the corpus per measurement, this never touches it again
    "q_kmv_overlap" -> ((s, dir) =>
      Sketches.kmvOverlap(Tables.documents(s, dir), "source", "text", KmvK)),
    // the sketch tier STREAMS: per-event-type KMV sketch of distinct spend
    // cents as the 19th state machine (k longs of state per key — exact
    // streaming distinct grows with the value universe, the sketch never
    // does); the k-minima set is arrival-order independent, so the batch
    // twin below IS the final stream state
    // daily content freshness from sketches alone: each day's distinct
    // estimate vs its overlap with yesterday (kmvOverlap's set algebra
    // on two k-arrays, predecessor by grid equi-join — no lag window),
    // novelty clamped at zero where estimator noise inverts
    "q_window_novelty" -> ((s, dir) =>
      Sketches.kmvWindowNovelty(
        Tables.events(s, dir)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "cents", "ts", 86400000L, KmvK)),
    // the sketch as a WINDOWED streaming aggregate: per day, the
    // distinct-spend-cents estimate off k longs per open window — exact
    // windowed count-distinct state grows with the value universe, the
    // mergeable k-minima never do; batch-run form vs the
    // distinct→row_number oracle (the windowedEntropy discipline)
    "q_kmv_by_window" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedKmvDistinct(
        Tables.events(s, dir)
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "cents", "ts", "1 day", "0 seconds", KmvK)),
    "q_kmv_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("event_type").isNotNull && col("event_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.streaming.StateMachines.kmvSnapshots(
          graft.streaming.StateMachines.valuedEvents(ev, col("event_type"),
            unix_millis(col("ts")), col("event_id"), col("cents")),
          KmvK)
        .select(col("key").as("event_type"), col("n_events"),
          col("n_sketch"), col("est_distinct"))
    }),
    "q_quality_score" -> ((s, dir) =>
      TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text", stopEn)),
    // Flesch readability screen: exact word/sentence/vowel-group counts,
    // one fixed double chain per row, no shuffle
    "q_readability" -> ((s, dir) =>
      TextOps.readability(Tables.documents(s, dir), "doc_id", "text")),
    // tokenizer cost per language: pieces-per-word fertility and
    // chars-per-piece — the numbers that set per-language token budgets;
    // one grouped pass of exact integer sums
    "q_fertility" -> ((s, dir) =>
      TextOps.tokenizerFertility(
        Tables.documents(s, dir).filter(col("lang").isNotNull),
        "lang", "text")),
    // mixed-language screen: the lang-ID vote per overlapping chunk,
    // re-aggregated per doc — code-switching and bad crawl merges show
    // as chunks that disagree even when the whole-doc vote is confident
    "q_lang_mixture" -> ((s, dir) =>
      TextOps.langMixture(Tables.documents(s, dir), "doc_id", "text",
        langProfiles, ChunkWindow, ChunkStride)),
    // the lang-ID heuristic graded against the table's labels: the
    // confusionMatrix operator composed over languageId — which
    // languages does the n-gram screen actually confuse?
    "q_lang_confusion" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Eval.confusionMatrix(
        docs.select(col("doc_id"), col("lang").as("lang_true"))
          .join(TextOps.languageId(docs, "doc_id", "text", langProfiles)
            .select(col("doc_id"), col("lang_pred")), Seq("doc_id")),
        "lang_true", "lang_pred")
    }),
    "q_lang_id" -> ((s, dir) =>
      TextOps.languageId(Tables.documents(s, dir), "doc_id", "text", langProfiles)),
    // corpus bigram vocabulary (top 100, deterministic tiebreak)
    "q_ngram_vocab" -> ((s, dir) =>
      TextOps.ngramVocab(Tables.documents(s, dir), "text", 2, 100)),
    // TRAINED quality classifier, the fit half: LrRounds full-gradient
    // logistic steps on quantized-integer state (sigmoid floor'd at the
    // term, exact decimal gradient sums, BigInteger trunc-div updates) —
    // the per-round ppm weight trajectory the unrolled oracle replays
    // step for step; labels from the seeded length rule the model must
    // recover from (capped count, distinct-pct) features
    "q_logreg_train" -> ((s, dir) =>
      LogReg.historyFrame(s, logregShared(s, dir)._1)),
    // the scoring half: every doc's quantized-sigmoid score under the
    // FROZEN final weights — one map-only corpus pass, no shuffle
    "q_logreg_score" -> ((s, dir) =>
      LogReg.score(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
        logregShared(s, dir)._2, Seq("doc_id"))),
    // the classifier under the threshold-free lens: exact ROC at every
    // achievable operating point of score_ppm (the rank view q_logreg_eval's
    // single 0.5 threshold cannot show) — rocCurve's distributed
    // prefix-sum shape over the O(distinct scores) frame
    "q_logreg_roc" -> ((s, dir) =>
      Eval.rocCurve(
        LogReg.score(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
          logregShared(s, dir)._2, Seq("doc_id")),
        "score_ppm", col("label") === 1L)),
    // is a 0.9-scoring doc actually good 90% of the time? the trained
    // scores binned on the exact ppm grid vs the realized label rate —
    // the calibration read a score-thresholded keep/drop policy needs
    "q_logreg_calibration" -> ((s, dir) =>
      CoreOps.calibrationCurve(
        LogReg.score(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
          logregShared(s, dir)._2, Seq("doc_id")),
        "score_ppm", col("label") === 1L, 0L, 1000000L, 10)),
    // the calibration curve's REPAIR composed onto the TRAINED classifier:
    // isotonic (PAV via the relational minimax identity) over the same
    // exact ppm score bins — the production step between "the curve looks
    // bent" and "ship the gate": iso_ppm is the provably-monotone score
    // map a thresholded keep policy should consult instead of raw
    // score_ppm (monotonicity property-pinned in PropertySpec)
    "q_logreg_isotonic" -> ((s, dir) =>
      CoreOps.isotonicCalibration(
        LogReg.score(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
          logregShared(s, dir)._2, Seq("doc_id")),
        "score_ppm", col("label") === 1L, 0L, 1000000L, 10)),
    // the GENERALIZATION report: weights trained on doc_id%7!=3 only,
    // evaluated on the untouched %7==3 slice — the held-out twin of
    // q_logreg_eval's resubstitution numbers (ML hygiene made a query)
    "q_logreg_heldout" -> ((s, dir) =>
      LogReg.score(
          logregFeaturesOf(Tables.documents(s, dir)
            .filter(col("doc_id") % 7 === 3)),
          "label", Seq("x_len", "x_div"),
          logregHeldoutShared(s, dir)._2, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") && col("label") === 1L, 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && col("label") === 0L, 1L).otherwise(0L))
            .as("fp"),
          sum(when(!col("pred") && col("label") === 1L, 1L).otherwise(0L))
            .as("fn"),
          sum(when(!col("pred") && col("label") === 0L, 1L).otherwise(0L))
            .as("tn"))
        .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("((tp + tn) * 1000000) div n_docs").as("accuracy_ppm"),
          when(col("tp") + col("fp") > 0L,
            expr("(tp * 1000000) div (tp + fp)")).as("precision_ppm"),
          when(col("tp") + col("fn") > 0L,
            expr("(tp * 1000000) div (tp + fn)")).as("recall_ppm"))),
    // the classifier report card: confusion counts + accuracy/precision/
    // recall in exact ppm integers over the scored corpus
    "q_logreg_eval" -> ((s, dir) =>
      LogReg.score(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
          logregShared(s, dir)._2, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred") && col("label") === 1L, 1L).otherwise(0L))
            .as("tp"),
          sum(when(col("pred") && col("label") === 0L, 1L).otherwise(0L))
            .as("fp"),
          sum(when(!col("pred") && col("label") === 1L, 1L).otherwise(0L))
            .as("fn"),
          sum(when(!col("pred") && col("label") === 0L, 1L).otherwise(0L))
            .as("tn"))
        .select(col("n_docs"), col("tp"), col("fp"), col("fn"), col("tn"),
          expr("((tp + tn) * 1000000) div n_docs").as("accuracy_ppm"),
          when(col("tp") + col("fp") > 0L,
            expr("(tp * 1000000) div (tp + fp)")).as("precision_ppm"),
          when(col("tp") + col("fn") > 0L,
            expr("(tp * 1000000) div (tp + fn)")).as("recall_ppm"))),
    // unigram-LM (SentencePiece-style) tokenizer INDUCTION, the other
    // tokenizer-learning lifecycle beside BPE: hard-EM over Viterbi
    // segmentations in quantized-integer likelihoods — the surviving
    // inventory with its usage counts and smoothed qlog likelihoods
    "q_unigram_vocab" -> ((s, dir) =>
      unigramShared(s, dir)._1.select(col("piece"),
        col("cnt").as("n_uses"),
        InfoTheory.qlog(col("cnt") + 1L).as("qlogp"))),
    // the per-round total Viterbi likelihood — hard EM's monotone audit
    // trail (UnigramSpec asserts non-decreasing with zero slack)
    "q_unigram_ll" -> ((s, dir) => {
      import s.implicits._
      unigramShared(s, dir)._2.toDF("round", "total_qll")
    }),
    // the training corpus's word vocabulary segmented under the FINAL
    // frozen inventory (the apply half, bpe_apply's shape; the DP frame
    // is memoized across apply/fertility/ppl consumers)
    "q_unigram_apply" -> ((s, dir) =>
      unigramApplySeg(s, dir).select(col("word"), col("freq"),
        col("n_pieces"), array_join(col("pieces"), " ").as("pieces"))),
    // inference on the held-out slice (doc_id%7==3) under the frozen
    // inventory — unknown single chars still segment (qlog(1)−Z), unknown
    // multis are unusable: canonical unigram OOV behavior
    "q_unigram_encode" -> ((s, dir) =>
      Unigram.segmented(
        Unigram.words(
          Tables.documents(s, dir).filter(col("doc_id") % 7 === 3),
          "text", UniW),
        unigramShared(s, dir)._1, UniW, UniL)),
    // per-language fertility under the learned unigram inventory — the
    // q_bpe_fertility twin for the OTHER trained tokenizer (same word
    // extraction, same fail-loud missing-word guard)
    "q_unigram_fertility" -> ((s, dir) =>
      TextOps.bpeFertilityFrom(Tables.documents(s, dir), "text", "lang",
        unigramApplySeg(s, dir), UniW)),
    // the LM GENERALIZATION gap per language (q_bpe_drift's twin):
    // inventory trained on doc_id%7!=3 only, fertility measured on its
    // own slice vs the untouched %7==3 slice under the FROZEN inventory
    "q_unigram_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val train = docs.filter(col("doc_id") % 7 =!= 3)
      val held = docs.filter(col("doc_id") % 7 === 3)
      val vocab = unigramHeldoutShared(s, dir)._1
      val segT = Unigram.segmented(Unigram.words(train, "text", UniW),
        vocab, UniW, UniL)
      val segH = Unigram.segmented(Unigram.words(held, "text", UniW),
        vocab, UniW, UniL)
      val ftr = TextOps.bpeFertilityFrom(train, "text", "lang", segT, UniW)
        .select(col("lang"), col("fertility").as("fertility_train"))
      TextOps.bpeFertilityFrom(held, "text", "lang", segH, UniW)
        .join(ftr, Seq("lang"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          col("fertility_train"),
          col("fertility").as("fertility_heldout"),
          (floor((col("fertility") - col("fertility_train")) * 1000000d)
            / 1000000d).as("fertility_gap"))
    }),
    // the tokenizer DECISION CARD: BPE vs unigram side by side, per
    // language, under the SHIPPED full-corpus artifacts — corpus and
    // held-out (doc_id%7==3) fertility, the generalization gap, and both
    // global vocabulary sizes. Pure composition over the two memoized
    // training runs (bpeShared / unigramApplySeg): the held slice's words
    // are a subset of the corpus vocabulary, so both held fertilities are
    // plain re-joins of the EXISTING segmentations — no new training, no
    // new DP, two word-extraction passes. The row a data card prints when
    // choosing the tokenizer.
    "q_tokenizer_compare" -> ((s, dir) => tokenizerCompareFrame(s, dir)),
    // per-doc PERPLEXITY under the self-trained unigram LM — the
    // CCNet-style quality filter (Wenzek et al. 2020): each doc's exact
    // µnat NLL and mean NLL per piece from the word-level Viterbi
    // likelihoods; templated/in-distribution prose scores low, junk and
    // out-of-distribution text scores high. One vocab-scale DP + one
    // doc-word count join — the corpus is touched once
    "q_doc_ppl" -> ((s, dir) => docPpl(s, dir)
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        col("nll_scaled"),
        (floor(col("nll_scaled").cast("double")
          / col("n_pieces").cast("double")) / 1000000d).as("mean_nll"))),
    // CCNet's head/middle/tail split made relational: per language,
    // docs ranked by exact integer µnat-per-piece NLL and cut into
    // terciles over the total (nll, doc_id) order. NOT an ntile window —
    // lang has ~constant cardinality, so PARTITION BY lang is a one-task
    // sort of each language's whole corpus at 100 TB; ntileKeyed cuts the
    // same terciles from the distributed bucketed rank instead (identical
    // values, SCALE.md's partitioned-by-a-constant hazard)
    "q_ppl_buckets" -> ((s, dir) => {
      // nullsLast pins the oracle's ORDER BY default explicitly even though
      // _npp is never NULL (nll_scaled/n_pieces are non-NULL by construction)
      val ranked = CoreOps.ntileKeyed(
        docPpl(s, dir).withColumn("_npp", expr("nll_scaled div n_pieces")),
        col("lang"), col("_npp"), "doc_id", 3, "_b", nullsLast = true)
      ranked.groupBy(col("lang"),
          when(col("_b") === 1, "head").when(col("_b") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_pieces")).as("n_pieces"),
          min(col("_npp")).as("min_nll_pp"),
          max(col("_npp")).as("max_nll_pp"))
    }),
    // per-doc perplexity under an add-1 BIGRAM token LM trained on the
    // corpus itself — the context-AWARE score beside q_doc_ppl's unigram
    // (word-order anomalies separate from bag-of-words lookalikes)
    "q_bigram_ppl" -> ((s, dir) =>
      TextOps.bigramPpl(Tables.documents(s, dir), "doc_id", "text")),
    // within-doc REPETITION (the Gopher duplicate-n-gram rule, Rae et
    // al. 2021): per doc, the duplicated-2-gram fraction in exact ppm —
    // the templated/looping-text filter beside the cross-doc dedup tier
    "q_doc_repetition" -> ((s, dir) => {
      val g = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"),
          TextOps.tokens(lower(col("text"))).as("_toks"))
        .filter(size(col("_toks")) >= 2)
        .select(col("doc_id"),
          explode(sequence(lit(0), size(col("_toks")) - 2)).as("_i"),
          col("_toks"))
        .select(col("doc_id"),
          concat_ws(" ", expr("_toks[_i]"), expr("_toks[_i + 1]"))
            .as("gram"))
      g.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          countDistinct(col("gram")).as("n_distinct"))
        .select(col("doc_id"), col("n_grams"), col("n_distinct"),
          expr("((n_grams - n_distinct) * 1000000) div n_grams")
            .as("dup_ppm"))
    }),
    // the per-SOURCE curation report: classifier keep-rate + mean score
    // + mean LM perplexity per crawl source — the "which sources are
    // worth recrawling" table a curation pass reads before re-weighting
    "q_source_quality" -> ((s, dir) => {
      val scored = LogReg.score(logregFeatures(s, dir), "label",
          Seq("x_len", "x_div"), logregShared(s, dir)._2, Seq("doc_id"))
        .select(col("doc_id"), col("score_ppm"), col("pred"))
      val ppl = docPpl(s, dir)
        .select(col("doc_id"), expr("nll_scaled div n_pieces").as("_npp"),
          col("n_pieces"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(scored, Seq("doc_id")).join(ppl, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pred"), 1L).otherwise(0L)).as("n_keep"),
          sum(col("score_ppm")).as("_ssum"),
          sum(col("_npp")).as("_nsum"),
          sum(col("n_pieces")).as("n_pieces"))
        .select(col("source"), col("n_docs"), col("n_keep"),
          expr("(n_keep * 1000000) div n_docs").as("keep_ppm"),
          expr("_ssum div n_docs").as("mean_score_ppm"),
          expr("_nsum div n_docs").as("mean_nll_pp"),
          col("n_pieces"))
    }),
    // BPE merge INDUCTION — the engine learns a subword vocabulary from
    // its own corpus (wordPieces applies one, q_fertility measures one):
    // BpeIters rounds of freq-weighted pair count → (count DESC, pair ASC)
    // argmax → greedy L2R re-segment via the run-parity window rule; all
    // loop state vocab-sized, one 1-row driver fold per round
    "q_bpe_merges" -> ((s, dir) => bpeShared(s, dir)._1),
    // the apply half: the corpus vocabulary segmented under the learned
    // merges — (word, freq, n_pieces, pieces); a doc-level tokenization
    // is this table joined back on the word key
    "q_bpe_apply" -> ((s, dir) => bpeShared(s, dir)._2),
    // tokenizer lifecycle closed end-to-end: fertility of the vocab the
    // engine just LEARNED, per language (q_fertility measures an external
    // tokenizer; this measures the trained one on its own corpus)
    "q_bpe_fertility" -> ((s, dir) =>
      TextOps.bpeFertilityFrom(Tables.documents(s, dir), "text", "lang",
        bpeShared(s, dir)._2, BpeMaxWordLen)),
    // inference under the frozen vocab: the held-out slice (doc_id%7==3)
    // segmented by REPLAYING the shared training run's merge table in
    // rank order — unseen pairs simply stop merging (BPE OOV behavior)
    "q_bpe_encode" -> ((s, dir) =>
      TextOps.bpeEncode(
        Tables.documents(s, dir).filter(col("doc_id") % 7 === 3),
        "text", bpeShared(s, dir)._1, BpeMaxWordLen)),
    // the tokenizer GENERALIZATION gap per language: fertility of the
    // frozen vocab on its training corpus vs on the held-out slice —
    // a rising heldout/train ratio flags a drifting crawl outgrowing
    // its tokenizer (one composed row per language)
    "q_bpe_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val held = docs.filter(col("doc_id") % 7 === 3)
      val train = TextOps.bpeFertilityFrom(docs, "text", "lang",
          bpeShared(s, dir)._2, BpeMaxWordLen)
        .select(col("lang"), col("fertility").as("fertility_train"))
      val heldF = TextOps.bpeFertilityFrom(held, "text", "lang",
          TextOps.bpeEncode(held, "text", bpeShared(s, dir)._1,
            BpeMaxWordLen), BpeMaxWordLen)
        .select(col("lang"), col("n_words"), col("n_pieces"),
          col("fertility").as("fertility_heldout"))
      heldF.join(train, Seq("lang"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          col("fertility_train"), col("fertility_heldout"),
          (floor((col("fertility_heldout") - col("fertility_train"))
            * 1000000d) / 1000000d).as("fertility_gap"))
    }),
    // Heaps-law saturation gauge: per doc-id checkpoint, cumulative docs,
    // token occurrences and DISTINCT vocabulary — "does more crawl still
    // add new language?"; one token-keyed min agg, constant-size cumsum
    "q_vocab_growth" -> ((s, dir) =>
      TextOps.vocabGrowth(Tables.documents(s, dir), "doc_id", "text",
        VocabCps)),
    // row-level novelty: which docs FIRST introduce their token types —
    // boilerplate clones score ~0 even when no dedup pair fired
    "q_doc_novelty" -> ((s, dir) =>
      TextOps.docNovelty(Tables.documents(s, dir), "doc_id", "text")),
    "q_ann_cosine" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 5)
    }),
    // per-label embedding drift between two hash slices of the corpus:
    // two ordered centroid folds + one fold-exact cosine per label
    "q_centroid_drift" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.centroidDrift(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1),
        "label", "vec_id", "embedding", EmbDims)
    }),
    // noisy-label screen: each audited point's 10 exact-cosine neighbors
    // vote on its label — the audit slice is a deterministic hash pick
    // (broadcast), the corpus scan embarrassingly parallel
    "q_knn_disagree" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.knnLabelDisagreement(emb,
        emb.filter(pmod(col("vec_id"), lit(10)) === 0),
        "vec_id", "embedding", "label", 10)
    }),
    // exact-k weighted draw WITHOUT replacement (Efraimidis-Spirakis on
    // md5 uniforms): length-weighted 50-doc sample, reproducible on any
    // engine and stable under corpus growth
    "q_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSampleK(
        Tables.documents(s, dir).filter(col("n_chars") > 0)
          .select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", 50)),
    // the per-source data card: one row per source with the numbers a
    // release card quotes — counts, language breadth, mean length, exact
    // duplication rate, corpus-level stopword ratio. Pure composition of
    // three existing aggregate passes joined on the source key
    "q_data_card" -> ((s, dir) => dataCardFrame(s, dir)),
    // corpus semantic diversity: mean pairwise cosine distance over the
    // deterministic md5 quarter-sample (broadcast, fail-loud maxPoints)
    // — near-0 flags a templated/mode-collapsed corpus
    "q_embed_diversity" -> ((s, dir) =>
      Similarity.embeddingDiversity(Tables.embeddings(s, dir), "vec_id",
        "embedding", 4)),
    // top principal direction of the embedding corpus: one quantized
    // covariance pass, then 10 exact-integer power-iteration rounds on
    // the d²-row matrix frame (corpus never re-read)
    "q_pca_power" -> ((s, dir) => pcaShared(s, dir)._2),
    // the per-vector reading of that axis: exact-integer projections,
    // flagged past 3σ — the along-axis extremes an embedding pipeline
    // quarantines first
    "q_pca_outliers" -> ((s, dir) =>
      Similarity.projectionOutliers(Tables.embeddings(s, dir), "vec_id",
        "embedding", pcaShared(s, dir)._2, 3)),
    // contrastive hard negatives for the audit anchors: the most-similar
    // cross-label corpus vectors, margin visible beside the pick
    "q_hard_negatives" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 32),
        "vec_id", "embedding", "label", 3)
    }),
    // its Rayleigh-quotient share of trace(C) — the mode-collapse axis
    // gauge behind q_embed_diversity's mean-distance number
    "q_pca_explained" -> ((s, dir) => {
      val (cov, dir64) = pcaShared(s, dir)
      Similarity.pcaExplained(cov, dir64)
    }),
    // rank-biased overlap of the LSH lists against the exact lists on
    // the audit query slice — the LIST-level agreement gauge beside
    // recall@k: equal recall with reshuffled order still loses RBO
    "q_rbo" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.filter(col("vec_id") < 64)
      Similarity.rboOverlap(
        Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", 5),
        Similarity.lshTopK(emb, qs, "vec_id", "embedding", EmbDims,
          LshPlanes, 5),
        "query_id", "rank", "neighbor_id", 5)
    }),
    // MMR diversified top-3 from an 8-deep exact-cosine pool (λ = 1/2):
    // greedy picks balance query relevance against redundancy with what's
    // already chosen — k bounded pool×picked joins, zero driver traffic
    "q_mmr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.mmrTopK(emb, emb.filter(col("vec_id") < 4),
        "vec_id", "embedding", 8, 3)
    }),
    // nDCG of the exact-cosine ANN surface under label-match relevance:
    // does the index put same-label neighbors FIRST, not just somewhere
    // in the top k? Per-query ideal re-rank is a ≤k-row partitioned
    // window; every DCG term is exact integer div of quantized log₂
    "q_ndcg" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Eval.ndcgPerQuery(annLabelRelevance(emb), "query_id", "rank",
        col("rel"))
    }),
    // MRR over the same ranked lists — how deep is the first same-label
    // neighbor; zero-hit lists stay in the denominator at rr = 0
    "q_mrr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Eval.meanReciprocalRank(annLabelRelevance(emb), "query_id", "rank",
        col("rel"))
    }),
    // recall@5 of cosine search in the 8-dim PROJECTED space vs exact
    // 64-dim search — the same gauge q_sq_recall/q_pq_recall give their
    // compression tiers, so the JL path's quality is measured, not assumed
    "q_rp_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val proj = Similarity.randomProject(emb, "embedding", EmbDims, RpDims,
          RpOffset)
        .select(col("vec_id"),
          array((0 until RpDims).map(j => col(s"rp_$j")): _*).as("pvec"))
      Similarity.recallAtK(
        Similarity.bruteForceTopK(proj, proj.filter(col("vec_id") < 8),
          "vec_id", "pvec", 5),
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5),
        "query_id", "neighbor_id", 5)
    }),
    // JL random projection 64 -> 8 dims: a pure map of codegen'd DotFolds
    // against the deterministic +-1 plane family (offset 1000 keeps it
    // disjoint from the LSH planes); the oracle rebuilds the matrix and
    // folds bit-for-bit
    "q_rand_project" -> ((s, dir) => {
      val proj = Similarity.randomProject(Tables.embeddings(s, dir)
          .select(col("vec_id"), col("embedding")),
        "embedding", EmbDims, RpDims, RpOffset)
      proj.select(col("vec_id") +: (0 until RpDims).map(j =>
        (floor(col(s"rp_$j") * 1000000d) / 1000000d).as(s"rp_$j")): _*)
    }),

    // ── extensions: approximate dedup / similarity tier ───────────────────
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
        MhK, MhBands, MhRows, 0.5)),
    // exact-Jaccard pairs with PROVABLE recall (AllPairs/PPJoin prefix
    // filter on the global frequency order) — unlike q_jaccard_pairs,
    // no probabilistic blocker decides which pairs exist; the oracle is
    // the brute-force all-pairs join, so recall loss = hash mismatch
    // the exact-truth pair frame is SHARED with q_block_quality's truth
    // side (round-16, guide §2.4): the AllPairs prefix pipeline — the
    // expensive, inherently-quadratic-truth side of the audit family —
    // runs once per run as `_build:jaccard_allpairs`; this query and the
    // audit below are views over it
    "q_jaccard_allpairs" -> ((s, dir) => jaccardAllPairsShared(s, dir)),
    // the 100 TB form of the exact-truth pair audit: the AllPairs prefix
    // join on the deterministic md5(doc_id) % BqSampleMod slice — each
    // surviving pair's Jaccard stays exact (sampling selects documents,
    // never shingles); the exact form above stays pinned at bench scale.
    // Shared with q_block_quality_sampled's truth side the same way
    "q_jaccard_allpairs_sampled" -> ((s, dir) =>
      jaccardAllPairsSampledShared(s, dir)),
    // the blocker audit: MinHash banding's raw candidates graded against
    // jaccardAllPairs ground truth — pairs completeness (blocker recall)
    // and reduction ratio (pair-space pruning) in one summary row; the
    // truth side reads the shared persisted all-pairs frame
    "q_block_quality" -> ((s, dir) =>
      Dedup.blockingQualityFrom(jaccardAllPairsShared(s, dir),
        Tables.documents(s, dir), "doc_id", "text", MhK, MhBands, MhRows)),
    // the 100 TB form of the audit: truth AND candidates restricted to
    // the deterministic md5(doc_id) % BqSampleMod slice — recall of the
    // banding parameters estimated on ~1/BqSampleMod of the corpus at
    // ~1/BqSampleMod² of the all-pairs cost; the exact form above stays
    // as the pinned truth at bench scale. Truth side = the shared
    // persisted sampled all-pairs frame (same slice by construction)
    "q_block_quality_sampled" -> ((s, dir) =>
      Dedup.blockingQualitySampledFrom(jaccardAllPairsSampledShared(s, dir),
        Tables.documents(s, dir), "doc_id", "text", MhK, MhBands, MhRows,
        BqSampleMod)),
    // the ingest-time dedup gate: a fresh crawl slice (doc_id%7==3)
    // LSH-joined against the standing corpus (the rest) — no batch
    // self-pairs, no shared state across the two sides
    "q_minhash_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.lshJaccardJoin(
        docs.filter(col("doc_id") % 7 === 3),
        docs.filter(col("doc_id") % 7 =!= 3),
        "doc_id", "text", "doc_id", "text", MhK, MhBands, MhRows, 0.5)
    }),
    "q_simhash" -> ((s, dir) =>
      // staged: hash tokens once per row, then the 60 bit-votes read the
      // materialized array (see Dedup.tokenHashes scaladoc)
      Tables.documents(s, dir)
        .select(col("doc_id"), Dedup.tokenHashes(col("text")).as("hs"))
        .select(col("doc_id"), Dedup.simhashFromHashes(col("hs")).as("simhash"))),
    // the pairs/clusters/retained-corpus trio shares ONE persisted verified
    // pair frame (see nearDupPairs) — the LSH pipeline runs once per run
    "q_jaccard_pairs" -> ((s, dir) => nearDupPairs(s, dir)),
    // canonical-representative assignment over the verified near-dup pair
    // graph: connected components via min-label propagation (transitive
    // closure of the pairwise relation — the retention decision must be
    // transitive even though near-dup similarity is not)
    "q_dup_clusters" -> ((s, dir) =>
      dupClustersShared(s, dir)),
    // entity resolution end-to-end: edit-distance pairs (provable-recall
    // segment scheme) fed into the SAME pointer-jumping closure — records
    // within 2 edits transitively collapse to one canonical id. The
    // verified pair frame is shared with q_fuzzy_pairs/q_linkage_score
    // (fuzzyPairsShared): segment probing + banded verify runs once
    "q_entity_clusters" -> ((s, dir) =>
      Dedup.dupClusters(fuzzyPairsShared(s, dir), "doc_a", "doc_b")),
    // Fellegi-Sunter log-odds over the SAME fuzzy candidates: field
    // agreement on (lang, source, 16-char length bucket) weighted by
    // data-estimated u-probabilities — rare-value agreement counts more
    "q_linkage_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.linkageScore(
        docs.select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 16").as("len_bucket")),
        "doc_id", Seq("lang", "source", "len_bucket"),
        fuzzyPairsShared(s, dir),
        "doc_a", "doc_b")
    }),
    // fuzzy string self-join: doc-head pairs within 2 edits via the
    // Pass-Join segment scheme (pigeonhole) + banded levenshtein verify.
    // The oracle is the brute-force all-pairs join — a candidate-
    // generation recall bug would hash-mismatch, not silently lose pairs.
    // Candidate scheme history (round 16, guide §1.2 "the distributed
    // algorithm"): 3-gram prefix filtering kept 3.4M candidates at sf0.1,
    // 5-gram 1.1M, segments 81k — all three provably-complete for the
    // SAME exact output (the scheme never changes the result, only the
    // candidate set); the shared frame now runs the cheapest one
    "q_fuzzy_pairs" -> ((s, dir) => fuzzyPairsShared(s, dir)),
    // the same pair set built UNSHARED per pass (pigeonhole: 2 edits
    // can't touch all 3 segments — 81k candidates where the 5-gram
    // prefix filter generated 1.1M at sf0.1). Same brute-force oracle;
    // this entry keeps timing the full per-pass construction while
    // q_fuzzy_pairs reads the memoized build
    "q_fuzzy_pairs_seg" -> ((s, dir) => {
      val heads = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("head"))
        .filter(length(col("head")) >= 15)
      Dedup.segmentPairs(heads, "doc_id", "head", 2)
    }),
    // cross-corpus entity resolution: every doc head resolved against the
    // RETAINED canonical corpus within 2 edits — the lookup a dedup'd
    // registry serves at ingest. Round 16 (guide §1.2): candidate
    // generation switched from union-frequency q-gram prefix filtering
    // (k=5 — the union frequency agg + two per-side ranking windows over
    // ~1.3M token rows were the measured cost: 5.6 s vs 2.5 s single-shot
    // at sf0.1/32) to segment probing, which needs no shared state beyond
    // the registry's broadcast length list. Both schemes are provably
    // complete for the same maxDist, so the emitted pair set is identical
    // — q_fuzzy_resolve keeps its own oracle and stays triple-checked
    "q_fuzzy_resolve" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def heads(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), substring(col("text"), 1, 24).as("head"))
          .filter(length(col("head")) >= 15)
      val clusters = dupClustersShared(s, dir)
      Dedup.segmentJoin(heads(docs),
        heads(Dedup.keepCanonical(docs, "doc_id", clusters)),
        "doc_id", "head", "doc_id", "head", 2)
    }),
    // the same resolve via segment probing — the registry side is
    // segmented, raw heads only generate probe substrings; no shared
    // frequency state across the corpora at all
    "q_fuzzy_resolve_seg" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      def heads(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), substring(col("text"), 1, 24).as("head"))
          .filter(length(col("head")) >= 15)
      val clusters = dupClustersShared(s, dir)
      Dedup.segmentJoin(heads(docs),
        heads(Dedup.keepCanonical(docs, "doc_id", clusters)),
        "doc_id", "head", "doc_id", "head", 2)
    }),
    // the retained corpus: every near-dup cluster collapsed to its
    // canonical representative, untouched docs pass through
    "q_dedup_keep" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = dupClustersShared(s, dir)
      Dedup.keepCanonical(docs, "doc_id", clusters)
        .select(col("doc_id"), col("source"), col("lang"))
    }),
    // priority retention: per duplicate cluster keep the LONGEST member
    // (token count desc, id asc) — the policy production pipelines want;
    // the ranking windows over cluster members only, never the corpus
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val clusters = dupClustersShared(s, dir)
      Dedup.keepBest(docs, "doc_id", clusters,
          size(TextOps.tokens(col("text"))).cast("long"))
        .select(col("doc_id"), col("source"), col("lang"))
    }),
    // the curation run's closing summary: per source, how many docs
    // arrived, how many survive canonical retention, the dup rate
    "q_dedup_report" -> ((s, dir) =>
      Dedup.dedupReport(Tables.documents(s, dir), "doc_id",
        dupClustersShared(s, dir), "source")),
    // contrastive hard negatives: 4 per anchor from a 200-doc hash pool,
    // never the anchor's own near-dup cluster — all choices pure functions
    // of (ids, salt), so the draw is identical on any engine/partitioning
    "q_negative_sample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.negativeSample(docs, "doc_id",
        docs.filter(col("doc_id") % 11 === 0),
        dupClustersShared(s, dir), 200, 4)
    }),
    // crawl-over-crawl delta: the new snapshot drops doc_id%10==0,
    // rewrites %10==1, and adds %10==2 under shifted ids — the diff ships
    // (id, md5 fingerprint) pairs only, never content
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      val kept = docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 1,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val added = docs.filter(col("doc_id") % 10 === 2)
        .withColumn("doc_id", col("doc_id") + 10000000L)
      CoreOps.snapshotDiff(docs, kept.unionByName(added), "doc_id",
        Seq("text", "lang", "source"))
    }),
    "q_lsh_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb, "vec_id", "embedding", EmbDims, LshPlanes, 3)
    }),
    // multi-table recall amplifier: two independent plane families, union of
    // candidates, exact cosine rank over the merged set
    "q_lsh_topk_multi" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopKMulti(emb, emb, "vec_id", "embedding", EmbDims, LshPlanes,
        3, LshTables)
    }),
    // SimHash-candidate near-dup pipeline: Hamming-LSH banding (60-bit
    // fingerprint split into 3×20-bit bands, a shared band ⇒ candidate — the
    // standard simhash near-dup trick: ≤2 differing bits always leaves one
    // band intact by pigeonhole, and near-identical docs differ in far fewer;
    // 15-bit bands collided by chance into quadratic buckets), verified with
    // exact shingle-set Jaccard (jaccardPairs' caller-supplied-candidates
    // form)
    "q_simhash_jaccard" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val sims = docs
        .select(col("doc_id"), Dedup.tokenHashes(col("text")).as("hs"))
        .select(col("doc_id"), Dedup.simhashFromHashes(col("hs")).as("sh"))
      val bandCols = (0 until SimBands).map { b =>
        concat(lit(s"${b}_"),
          shiftright(col("sh"), b * 20).bitwiseAND(lit(1048575L)).cast("string"))
      }
      val banded = sims.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      val cands = banded.select(col("bk"), col("doc_id").as("doc_a"))
        .join(banded.select(col("bk"), col("doc_id").as("doc_b")), Seq("bk"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
        .distinct() // pairs sharing several bands must verify once
      Dedup.jaccardPairs(docs, "doc_id", "text", MhK, cands, 0.5)
    }),
    // winnowing (MOSS) rolling-hash fingerprints: one row per selected k-gram
    "q_winnow_fp" -> ((s, dir) =>
      Dedup.winnowFingerprints(Tables.documents(s, dir), "doc_id", "text",
        MhK, WinnowW)),
    // benchmark decontamination: flag corpus docs containing a benchmark
    // doc's content (winnow-fp candidates, shingle-set CONTAINMENT verify —
    // a short benchmark item inside a long doc scores 1.0 where Jaccard
    // stays near 0); the stand-in benchmark is the 20 lowest doc ids
    // shared with the funnel's gate 3 and the rule flags (the winnowing +
    // containment-verify pipeline runs once — contaminationPairsShared)
    "q_decontaminate" -> ((s, dir) => contaminationPairsShared(s, dir)),
    // the WHOLE curation pipeline as one funnel: ingested → exact-dedup
    // canonical → decontaminated → classifier-kept → perplexity head/
    // middle — per stage the surviving doc and token mass (the data-card
    // table a pipeline publishes); every stage rule is an already-
    // oracle-checked operator composed by semi/anti joins
    "q_curation_funnel" -> ((s, dir) => funnelCardFrame(s, dir)),
    // the same funnel ACCOUNTED PER SOURCE — which feed loses how much
    // mass at which gate (the multi-source pipeline's curation ledger:
    // a source bleeding at decontamination is a benchmark-leak feed, one
    // bleeding at quality is a junk feed). Six joins+aggs over the
    // memoized stage frames against the O(docs) (doc_id, source) map;
    // a source with no survivors at a stage has no row (both engines'
    // GROUP BY convention)
    "q_funnel_by_source" -> ((s, dir) => {
      val src = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"))
      funnelStages(s, dir).map { case (i, name, fr) =>
        fr.join(src, Seq("doc_id"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("source"), col("n_docs"), col("n_tokens"))
      }.reduce(_ unionByName _)
    }),
    // the LAST MILE from curated corpus to training files: the funnel's
    // kept set assigned to md5-deterministic shards, ordered within each
    // shard by the same md5 key (a reproducible shuffle), and composed
    // with q_pack's concat-and-chunk ranges PER SHARD — one row per kept
    // doc telling the trainer exactly which shard, which position, and
    // which packed 512-token sequences it lands in. Shapes: one md5 map,
    // one keyed bucketed prefix scan for (pos, token prefix) — never a
    // PARTITION BY shard window (shard count is a config constant, the
    // partitioned-by-a-constant hazard); pure int64 pack arithmetic
    "q_shard_manifest" -> ((s, dir) => {
      val kept = funnelStages(s, dir).last._3
        .withColumn("_ok",
          graft.expressions.Md5Expressions.md5Long(
            col("doc_id").cast("string")))
        .withColumn("shard", col("_ok") % ShardCount)
        .withColumn("_one", lit(1L))
      val ranked = CoreOps.orderedPrefixSumsKeyed(kept, col("shard"),
        col("_ok"), "doc_id", Seq("_one" -> "pos", "_nt" -> "_cum"))
      ranked
        .withColumn("_excl", col("_cum") - col("_nt"))
        .select(col("doc_id"), col("shard"), col("pos"),
          col("_nt").as("n_tokens"),
          expr(s"_excl div $PackTokens").as("pack_first"),
          expr(s"(_excl + _nt - 1) div $PackTokens").as("pack_last"),
          expr(s"_excl % $PackTokens").as("offset_in_pack"))
    }),
    // the funnel COMPOSED as one live PRODUCTION pipeline — the
    // reference's E8 move (chapter6_exercise/AnalyzeBrowserEvents.java:28)
    // on the curation tier with E6/E7's durability applied: gate 1 is the
    // keep-first keyed state machine (checkpoint-restored GroupState),
    // gate 2 is the BUCKET-KEYED band-index state machine (the standing
    // index AS RocksDB-backed GroupState — probe input O(batch +
    // collisions), never O(corpus); round 14's close of the round-13
    // full-index-scan weak), gates 3-5 run per-row against frozen
    // artifacts, stage accounting is one aggregate per trigger into a
    // durable store (no driver counters, no replay collect), ingest is
    // the FILE-MONITOR source over id-ascending slices. The accumulated
    // six stage rows check against the SAME oracle as q_curation_funnel,
    // so batch/stream parity is the gate
    "q_curation_funnel_stream" -> ((s, dir) =>
      graft.streaming.FunnelPipeline.stageCard(s,
        funnelPipelineShared(s, dir))),
    // the INCREMENTAL training export the production funnel writes as it
    // ingests: survivors append to the shard manifest per trigger with
    // within-shard positions CONTINUED across batches (per-shard offsets
    // carried in the pipeline's durable offset store, never recomputed
    // from scratch) plus the physical writePartitioned corpus. The
    // deterministic id-range slicing makes the arrival order — and so
    // every position — oracle-checkable: within a shard the order is
    // (slice, md5 key, doc_id), which the SQL window below reproduces
    "q_shard_manifest_stream" -> ((s, dir) =>
      graft.streaming.FunnelPipeline.exportManifest(s,
        funnelPipelineShared(s, dir))),
    // the gate-REDUNDANCY card: for every pair of funnel rules, how many
    // ingested docs each would drop ON ITS OWN and how many both drop —
    // the overlap matrix a pipeline owner reads before re-ordering or
    // retiring gates (a gate whose drops are a subset of an earlier one's
    // costs compute and removes nothing). Rules evaluated INDEPENDENTLY
    // over the ingested set (the funnel chains them; this card un-chains
    // them), all five from the same memoized artifacts; ONE aggregate
    // row exploded to the 10 pairs (the corrMatrix shape)
    "q_gate_overlap" -> ((s, dir) => {
      val flags = funnelRuleDrops(s, dir)
      val gates = Seq("exact_dedup", "near_dedup", "decontaminated",
        "quality_kept", "ppl_head")
      val pairs = for {
        i <- gates.indices; j <- (i + 1) until gates.size
      } yield (i, j)
      val aggs = gates.indices.map(i =>
        count(when(col(s"_d$i"), lit(1))).as(s"_n$i")) ++
        pairs.map { case (i, j) =>
          count(when(col(s"_d$i") && col(s"_d$j"), lit(1))).as(s"_n${i}_$j")
        }
      val row = flags.agg(aggs.head, aggs.tail: _*).localCheckpoint(true)
      val stacked = pairs.map { case (i, j) =>
        struct(lit(gates(i)).as("gate_a"), lit(gates(j)).as("gate_b"),
          col(s"_n$i").as("n_drop_a"), col(s"_n$j").as("n_drop_b"),
          col(s"_n${i}_$j").as("n_drop_both"))
      }
      row.select(explode(array(stacked: _*)).as("_p")).select(col("_p.*"))
    }),
    // the quality-cut WHAT-IF curve: where would the funnel land if the
    // logistic gate moved? For each candidate score_ppm cut, the kept
    // doc/token mass of the FULL funnel with only that knob changed —
    // upstream gates (stage 3 frame) and the downstream ppl-head set are
    // the memoized artifacts, so the sweep is one inner join, one semi
    // join, ONE aggregate of conditional sums exploded to the grid (the
    // q_dup_curve shape; never one pass per threshold). The 500000 row
    // is the live boundary and must equal q_curation_funnel's ppl_head
    // row — pinned in CurationSpec
    "q_gate_sweep" -> ((s, dir) => {
      val s3 = funnelStages(s, dir)(3)._3
      val scored = qualityScoredShared(s, dir)
        .select(col("doc_id"), col("score_ppm"))
      val base = s3.join(scored, Seq("doc_id"))
        .join(pplHeadShared(s, dir), Seq("doc_id"), "left_semi")
      val aggs = GateSweepThrs.flatMap(t => Seq(
        coalesce(sum(when(col("score_ppm") >= lit(t), 1L)
          .otherwise(0L)), lit(0L)).as(s"_d$t"),
        coalesce(sum(when(col("score_ppm") >= lit(t), col("_nt"))
          .otherwise(0L)), lit(0L)).as(s"_t$t")))
      base.groupBy().agg(aggs.head, aggs.tail: _*)
        .select(explode(array(GateSweepThrs.map(t =>
          struct(lit(t).as("thr_ppm"), col(s"_d$t").as("n_docs"),
            col(s"_t$t").as("n_tokens"))): _*)).as("_r"))
        .select(col("_r.thr_ppm"), col("_r.n_docs"), col("_r.n_tokens"))
    }),
    // the dedup-aggressiveness WHAT-IF: the same funnel with only the
    // near-dup verify threshold moved — per jaccard cut, the kept
    // doc/token mass when a doc is dropped iff some LOWER-id verified
    // neighbor reaches that similarity. All other gates ride the
    // memoized per-doc rule flags (funnelRuleDrops); the per-doc max
    // lower-id-neighbor jaccard is one agg over the memoized verified
    // pair frame; the grid is ONE aggregate of conditional sums (the
    // q_dup_curve shape). Thresholds live in [0.5, 0.9] — pairs BELOW
    // the pipeline's 0.5 verify floor are unverified by design, so the
    // 50 row is the live funnel (= q_curation_funnel's ppl_head row;
    // spec-pinned with the sweep's monotonicity — LOOSENING the cut
    // keeps more)
    "q_neardup_sweep" -> ((s, dir) => {
      val flags = funnelRuleDrops(s, dir)
      val mj = nearDupPairs(s, dir)
        .groupBy(col("doc_b").as("doc_id"))
        .agg(max(col("jaccard")).as("_mj"))
      val base = flags
        .filter(!col("_d0") && !col("_d2") && !col("_d3") && !col("_d4"))
        .join(mj, Seq("doc_id"), "left")
      val keep = (t: Int) => col("_mj").isNull || col("_mj") < lit(t / 100d)
      val aggs = NearDupSweepThrs.flatMap(t => Seq(
        coalesce(sum(when(keep(t), 1L).otherwise(0L)), lit(0L))
          .as(s"_d$t"),
        coalesce(sum(when(keep(t), col("_nt")).otherwise(0L)), lit(0L))
          .as(s"_t$t")))
      base.groupBy().agg(aggs.head, aggs.tail: _*)
        .select(explode(array(NearDupSweepThrs.map(t =>
          struct(lit(t.toLong).as("threshold_pct"),
            col(s"_d$t").as("n_docs"),
            col(s"_t$t").as("n_tokens"))): _*)).as("_r"))
        .select(col("_r.threshold_pct"), col("_r.n_docs"),
          col("_r.n_tokens"))
    }),
    // the manifest's balance card: per shard, kept docs / token mass /
    // packed-sequence count ((tokens + P − 1) div P — the concat-and-
    // chunk stream is contiguous within a shard). The md5 assignment's
    // evenness is what this row proves before a training run trusts it
    "q_shard_summary" -> ((s, dir) => shardSummaryFrame(s, dir)),
    // the corpus RELEASE card: the one long-format frame a dataset release
    // ships — funnel stage masses, per-source corpus stats, the tokenizer
    // decision (held-out fertility gap + which tokenizer wins), per-shard
    // export balance, and the benchmark-contamination summary — PURE
    // composition over the memoized frames behind q_curation_funnel /
    // q_data_card / q_tokenizer_compare / q_shard_summary (near-zero new
    // corpus passes; the one new pass is the contamination gram join,
    // aggregated on exact int64 sums so the rolled-up rate is
    // order-independent). Long format (section, item, metric, value) with
    // every value a double: counts are < 2^53 (exact), ratios trunc6'd
    "q_release_card" -> ((s, dir) => {
      def row(section: String, item: org.apache.spark.sql.Column,
              metric: String, value: org.apache.spark.sql.Column)
          : DataFrame => DataFrame = df =>
        df.select(lit(section).as("section"), item.as("item"),
          lit(metric).as("metric"), value.cast("double").as("value"))
      val funnel = funnelCardFrame(s, dir).localCheckpoint(true)
      val dc = dataCardFrame(s, dir).localCheckpoint(true)
      val tc = tokenizerCompareFrame(s, dir).localCheckpoint(true)
      val sh = shardSummaryFrame(s, dir)
      val docs = Tables.documents(s, dir)
      val cr = Dedup.contaminationRate(docs,
          docs.filter(col("doc_id") < 20), "doc_id", "text", MhK)
        .agg(sum(col("n_grams")).as("_g"),
          sum(col("n_contaminated")).as("_c"),
          count(when(col("n_contaminated") > 0, lit(1))).as("_f"))
        .localCheckpoint(true)
      Seq(
        row("funnel", col("stage"), "n_docs", col("n_docs"))(funnel),
        row("funnel", col("stage"), "n_tokens", col("n_tokens"))(funnel),
        row("source", col("source"), "n_docs", col("n_docs"))(dc),
        row("source", col("source"), "dup_rate", col("dup_rate"))(dc),
        row("source", col("source"), "stop_ratio", col("stop_ratio"))(dc),
        row("tokenizer", col("lang"), "bpe_gap", col("bpe_gap"))(tc),
        row("tokenizer", col("lang"), "uni_gap", col("uni_gap"))(tc),
        row("tokenizer", col("lang"), "uni_wins",
          when(col("uni_fertility_heldout") < col("bpe_fertility_heldout"),
            1d).otherwise(0d))(tc),
        row("shards", col("shard").cast("string"), "n_seqs",
          col("n_seqs"))(sh),
        row("contamination", lit("corpus"), "gram_rate",
          floor(col("_c").cast("double") / col("_g").cast("double")
            * 1000000d) / 1000000d)(cr),
        row("contamination", lit("corpus"), "n_flagged_docs",
          col("_f"))(cr)
      ).reduce(_ unionByName _)
    }),
    // the data-card number: every doc's share of distinct shingles seen
    // ANYWHERE in the benchmark — one gram-keyed shuffle join, zero-
    // overlap docs included (bench stand-in docs score 1.0 on themselves)
    "q_contamination_rate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationRate(docs, docs.filter(col("doc_id") < 20),
        "doc_id", "text", MhK)
    }),
    // small-file compaction plan: the synthesized file listing packed
    // into ~4000-byte rewrite groups by the deterministic md5(path)
    // prefix rule — one task per group coalesces its members
    "q_compaction_plan" -> ((s, dir) =>
      graft.sources.CorpusLayout.compactionPlan(
        Tables.documents(s, dir).select(
          concat(col("source"), lit("/"), col("doc_id").cast("string"),
            lit(".parquet")).as("path"),
          col("n_chars").cast("long").as("bytes")),
        "path", "bytes", 4000L)),
    // the rewrite-DECIDING metric beside compactionPlan/zorderLayout:
    // per pseudo-file min/max stats on BOTH lookup axes (shipdate day,
    // orderkey), how many files a point lookup opens under THREE layouts
    // — key-grouped (day axis interleaves: depth ≈ N), time-partitioned
    // (key axis interleaves), and Z-ORDERED (files tile the curve by its
    // top 8 bits: bounded boxes in BOTH dimensions — the multi-axis
    // compromise the other two cannot make); metadata-only, via
    // intervalOverlapJoin, never an all-pairs product
    "q_layout_depth" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey").isNotNull && col("l_shipdate").isNotNull
          && col("l_linenumber").isNotNull)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")
            .as("_day"))
        .localCheckpoint(true) // shared by the three layout groupings
      def stats(df: DataFrame,
                fid: org.apache.spark.sql.Column): DataFrame =
        df.groupBy(fid.as("fid"))
          .agg(min(col("_day")).as("lo_d"), max(col("_day")).as("hi_d"),
            min(col("l_orderkey")).as("lo_k"),
            max(col("l_orderkey")).as("hi_k"))
      // z-curve layout = the Delta-style ZORDER semantics made
      // oracle-replayable: each dim normalized to 8 bits FIRST — the key
      // dim by equal-frequency rank buckets (scale-free at any sf; rank
      // from the distributed orderedPrefixSum, never a single-task
      // window), the day dim by fixed-width 16-day buckets (TPC-H's date
      // range is spec-fixed; fail-loud past day 12095 / pre-1992) — then
      // interleaved, files = the curve's top 6 bits (an 8×8 box grid
      // over two uniformly-populated 8-bit dims)
      val ranked = CoreOps.orderedPrefixSum(
        li.withColumn("_one", lit(1L))
          .withColumn("_tb",
            col("l_orderkey") * 100L + col("l_linenumber")),
        col("l_orderkey"), "_tb", "_one", "_rk")
      val z = graft.sources.CorpusLayout.zValue(
        Seq(expr("((_rk - 1) * 256) div _n"),
          expr("(_day - 8000) div 16")), 8)
      val zFiled = ranked
        .crossJoin(broadcast(li.agg(count(lit(1)).as("_n"))))
        .withColumn("_zfid", shiftright(z, 10))
      val layouts = Seq(
        ("by_orderkey", stats(li, expr("l_orderkey div 100"))),
        ("by_shipdate", stats(li, expr("_day div 32"))),
        ("by_zorder", stats(zFiled, col("_zfid"))))
      // orderkey-axis overlap-join cell size derived from the OBSERVED key
      // range (one 1-row bounds agg over the checkpointed frame) — a fixed
      // 65536×128 cap fails loud once file key-spans pass ~8.4M keys
      // (≈ sf1.4 for by_shipdate/by_zorder stats, whose files span nearly
      // the whole ~6M·sf orderkey domain); (max−min)/maxCells+1 keeps every
      // interval inside the guard at ANY sf
      val kb = li.agg(min(col("l_orderkey").cast("long")),
        max(col("l_orderkey").cast("long"))).head()
      val keyCell = math.max((kb.getLong(1) - kb.getLong(0)) / 128L + 1L, 1L)
      layouts.map { case (name, st) =>
        val cached = st.localCheckpoint(true) // both axes read it
        graft.sources.CorpusLayout
          .clusteringDepth(cached.select(col("fid"), col("lo_d"),
            col("hi_d")), "fid", "lo_d", "hi_d", 128L, 64)
          .withColumn("layout", lit(name))
          .withColumn("axis", lit("shipdate"))
          .unionByName(graft.sources.CorpusLayout
            .clusteringDepth(cached.select(col("fid"), col("lo_k"),
              col("hi_k")), "fid", "lo_k", "hi_k", keyCell, 128)
            .withColumn("layout", lit(name))
            .withColumn("axis", lit("orderkey")))
      }.reduce(_ unionByName _)
    }),
    // the token-movement rollup behind q_snapshot_diff's status stream:
    // per status (incl. the unchanged line snapshotDiff drops), doc count
    // + token totals + signed delta — the snapshot-swap approval page
    "q_snapshot_token_delta" -> ((s, dir) => {
      val (o, n) = snapshotPair(s, dir)
      Curation.snapshotTokenDelta(o, n, "doc_id", "text")
    }),
    // span-level exact-substring dedup (Lee et al. 2022): which PARTS of
    // each doc are corpus-duplicated — 6-gram occurrences >= 2 anywhere
    // mark their token ranges, touching ranges merge into maximal spans
    "q_dup_spans" -> ((s, dir) =>
      Dedup.dupSpans(Tables.documents(s, dir), "doc_id", "text", SpanK)),
    // the cut list: one row per maximal duplicated span with its token
    // boundaries — what a span-trimming rewrite actually consumes
    "q_dup_span_list" -> ((s, dir) =>
      Dedup.dupSpanList(Tables.documents(s, dir), "doc_id", "text",
        SpanK)),
    // the cut list APPLIED: each doc's normalized tokens minus its
    // duplicated spans (no copy survives — the conservative rewrite)
    "q_trim_spans" -> ((s, dir) =>
      Dedup.trimSpans(Tables.documents(s, dir), "doc_id", "text", SpanK)),
    // WHERE the benchmark leakage sits: spans of corpus docs covered by
    // grams found anywhere in the bench set — the surgical alternative
    // to q_decontaminate's whole-doc drop (bench docs cover themselves)
    "q_contamination_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationSpans(docs, docs.filter(col("doc_id") < 20),
        "doc_id", "text", SpanK)
    }),
    // the surgical decontamination applied: benchmark-covered spans cut,
    // surrounding prose kept (q_decontaminate drops whole docs)
    "q_trim_contamination" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.trimContamination(docs, docs.filter(col("doc_id") < 20),
        "doc_id", "text", SpanK)
    }),
    // the 100 TB form of the contamination audit: only the deterministic
    // md5(doc_id) % BqSampleMod corpus slice is scored (the bench side —
    // the thing being protected — stays whole, so each sampled doc's rate
    // is identical to its full-run value); exact form stays pinned above
    "q_contamination_rate_sampled" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationRateSampled(docs, docs.filter(col("doc_id") < 20),
        "doc_id", "text", MhK, BqSampleMod)
    }),
    // the MOSS pipeline end-to-end: shared fingerprint → candidate pair →
    // exact shingle-set Jaccard verification
    "q_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
        MhK, WinnowW, 0.5)),
    // same pipeline under the too-common fingerprint cutoff — the candidate
    // volume knob at corpus scale (SCALE.md), oracle-checked end to end
    "q_winnow_pairs_capped" -> ((s, dir) =>
      Dedup.winnowPairs(Tables.documents(s, dir), "doc_id", "text",
        MhK, WinnowW, 0.5, WinnowCap)),
    // hot-key profiler: the input to the salt-or-not decision (SCALE.md)
    "q_key_profile" -> ((s, dir) =>
      CoreOps.keyProfile(Tables.events(s, dir), "user_id", 20)),
    // exact interpolated value percentiles per event type
    "q_quantile_profile" -> ((s, dir) =>
      CoreOps.quantileProfile(Tables.events(s, dir), "event_type", "value",
        Seq(0.5, 0.95, 0.99))),
    // sketch twin, fully oracle-checked: exact percentiles plus a rank-window
    // verdict on each approx_percentile estimate (the estimate never leaves
    // the engine); the bound is also pinned by CoreOpsSpec
    "q_quantile_profile_approx" -> ((s, dir) =>
      CoreOps.quantileProfileChecked(Tables.events(s, dir), "event_type", "value",
        Seq(0.5, 0.95, 0.99))),
    // BPE-ish subword-piece stats (wordPieces: alnum runs + single marks)
    "q_word_pieces" -> ((s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.wordPieces(col("text")).as("wp"))
        .select(col("doc_id"), size(col("wp")).cast("long").as("n_pieces"),
          aggregate(col("wp"), lit(0L), (acc, t) => acc + length(t)).as("n_piece_chars"))),
    "q_cosine_dup" -> ((s, dir) =>
      Similarity.cosineDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        EmbDims, LshPlanes, 0.3)),
    // SEMANTIC dedup clusters: the embedding-cosine near-dup pair graph
    // fed into the same pointer-jumping closure the text tiers use — pure
    // composition, zero new operator code; the oracle recomputes the
    // closure over the bucketed pair graph with a recursive CTE
    "q_embed_clusters" -> ((s, dir) =>
      Dedup.dupClusters(
          Similarity.cosineDupPairs(Tables.embeddings(s, dir), "vec_id",
            "embedding", EmbDims, LshPlanes, 0.3),
          "doc_a", "doc_b")
        .select(col("doc_id").as("vec_id"), col("cluster_id"))),
    // class centroids over the labeled embeddings — sorted-fold means, so
    // every double hash-matches the oracle like the k-means trainer's.
    // Exploded to one row per dimension: the driver's compare hashes scalar
    // cells, not arrays
    "q_label_centroids" -> ((s, dir) =>
      Similarity.groupCentroids(Tables.embeddings(s, dir), "label", "vec_id",
        "embedding", EmbDims)
        .select(col("label"), col("n_vecs"),
          posexplode(col("centroid")).as(Seq("dim", "component")))
        .select(col("label"), col("n_vecs"), col("dim").cast("long").as("dim"),
          col("component"))),
    "q_ivf_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 64),
        Similarity.seedCentroids(emb, "vec_id", IvfNlist), "vec_id", "embedding",
        3, IvfNprobe)
    }),
    // same search over DETERMINISTICALLY TRAINED centroids (Lloyd's k-means,
    // sorted-fold means so every double is engine-identical)
    "q_ivf_trained" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trained = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        EmbDims, IvfNlist, IvfIters)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 64), trained,
        "vec_id", "embedding", 3, IvfNprobe)
    }),
    // clustering-quality audit of the SAME trained quantizer: simplified
    // silhouette per cell (centroid distances, the only silhouette that
    // exists at corpus scale) — one broadcast-join pass, per-point s
    // floored at 1e-6 into exact int64 sums
    "q_silhouette" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.simplifiedSilhouette(emb, "vec_id", "embedding",
        Similarity.kmeansCentroids(emb, "vec_id", "embedding",
          EmbDims, IvfNlist, IvfIters))
    }),
    // product-quantized search: the deep-compression rung — 4 codebooks
    // trained with the SAME deterministic Lloyd's runs as the IVF tier on
    // 16-dim slices, corpus reconstructed per subspace in one kernel pass.
    // Shares ONE persisted result frame with q_pq_recall (pqTopKShared), so
    // the codebook training runs once per Verify/Bench run
    "q_pq_topk" -> ((s, dir) => pqTopKShared(s, dir)),
    // recall@5 of the PQ search vs exact brute force — the quality gauge
    // published next to the compression ratio; all 8 queries' exact
    // neighbor sets come from the same broadcast brute-force pass
    "q_pq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.recallAtK(
        pqTopKShared(s, dir),
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", 5),
        "query_id", "neighbor_id", 5)
    }),
    // exact per-stratum quota: 20 docs per lang in deterministic md5 draw
    // order (WindowGroupLimit — no group's full ranking materializes)
    "q_quota_sample" -> ((s, dir) =>
      Sampling.quotaSample(Tables.documents(s, dir), "lang", "doc_id", 20, "q")
        .select(col("lang"), col("rank"), col("doc_id"))),
    // PQ trained on the deterministic md5 sample, full corpus searched —
    // the same 100 TB training discipline as q_ivf_trained_sample
    "q_pq_topk_sample" -> ((s, dir) => pqTopKSampleShared(s, dir)),
    // int8 scalar-quantized search: the memory-footprint path — corpus at
    // 1 byte/dim (4× vs float32), dequantized on the fly, scored with the
    // native DotFold kernel against broadcast queries
    "q_sq_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.sqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 5, EmbDims)
    }),
    // hybrid retrieval: exact-cosine and int8-compressed rank lists for
    // the same queries fused by reciprocal rank — per-query partitioned
    // end-to-end, no global sort
    "q_rrf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = emb.filter(col("vec_id") < 8)
      Similarity.rrfFuse(
        Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5),
        Similarity.sqTopK(emb, q, "vec_id", "embedding", 5, EmbDims),
        Seq("query_id"), "neighbor_id", "rank", 60)
    }),
    // recall@5 of the int8 rung — published next to PQ's so the ladder's
    // quality/compression trade reads off the two gauges side by side
    "q_sq_recall" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 8)
      Similarity.recallAtK(
        Similarity.sqTopK(emb, queries, "vec_id", "embedding", 5, EmbDims),
        Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5),
        "query_id", "neighbor_id", 5)
    }),
    // the 100 TB training path: k-means over a deterministic md5 sample
    // (~1/4 of the corpus + the seed rows), full-corpus assignment/search —
    // the sample filter is one WHERE clause in the oracle's CTE chain
    "q_ivf_trained_sample" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val trained = Similarity.kmeansCentroidsSampled(emb, "vec_id", "embedding",
        EmbDims, IvfNlist, IvfIters, IvfSampleMod)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 64), trained,
        "vec_id", "embedding", 3, IvfNprobe)
    }),

    // ── extensions: sampling + curation composition ───────────────────────
    // deterministic hash sample: keep iff md5(id||salt) < rate·2^32 — the
    // reproducible, partitioning-independent form Spark's sample() is not
    "q_doc_sample" -> ((s, dir) =>
      Sampling.hashSample(Tables.documents(s, dir), "doc_id", 0.25, "s1")
        .select(col("doc_id"), col("source"), col("lang"))),
    // importance-weighted sampling: keep probability = 4× the (floor-
    // truncated) stopword ratio, clamped to 1 — the continuous form of the
    // stratified sampler, biasing retention toward natural-language docs;
    // same deterministic (id, salt) hash decision, pure codegen'd filter
    "q_doc_sample_weighted" -> ((s, dir) =>
      Sampling.hashSampleWeighted(
        TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text", stopEn)
          .select(col("doc_id"), col("stopword_ratio")),
        "doc_id", least(lit(1.0), col("stopword_ratio") * 4), "w1")),
    // data-mixture rebalancing: downsample the dominant language to 10%,
    // keep 60% of the rest — per-stratum rates, same deterministic decision
    "q_doc_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.1), 0.6, "mix")
        .select(col("doc_id"), col("lang"))),
    // the tiers composed: quality gate + language gate + exact-dedup
    // canonical keep in one Catalyst plan — the retention manifest
    "q_curate" -> ((s, dir) =>
      Curation.curate(Tables.documents(s, dir), "doc_id", "text",
        stopEn, langProfiles, "en", 20, 80, 0.02)),
    // DSIR importance weights: score every non-src0 doc by how target-like
    // (src0-like) its tokens are under the two unigram LMs — one token
    // count shuffle builds both LMs, the O(vocab) weight table re-joins
    // occurrences on the token key (never broadcast at corpus scale)
    "q_dsir_weights" -> ((s, dir) =>
      Curation.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0")),
    // the end-to-end DSIR selection: fill a 5000-token budget with the
    // most target-like docs by LLR DENSITY (per-token weight) — pure
    // composition through the distributed-prefix-sum tokenBudget
    "q_dsir_keep" -> ((s, dir) =>
      Curation.tokenBudget(
        Curation.dsirWeights(Tables.documents(s, dir), "doc_id", "text",
          col("source") === "src0"),
        "doc_id", "n_tokens", "llr_per_token", 5000L)),
    // fill a token budget with the best-scoring docs: global cumulative sum
    // in priority order WITHOUT a single-task window (distributed prefix sum)
    "q_token_budget" -> ((s, dir) =>
      Curation.tokenBudget(
        TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text", stopEn)
          .select(col("doc_id"), col("n_tokens"), col("stopword_ratio")),
        "doc_id", "n_tokens", "stopword_ratio", 10000L)),
    // padding-minimizing batcher: length buckets (<40, <70, overflow) then
    // 16-row batches of similar token length — the salted keyed prefix
    // count keeps every slice parallel (never one task per bucket)
    "q_batch_length" -> ((s, dir) =>
      Curation.batchByLength(
        TextOps.tokenStats(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("n_tokens")),
        "doc_id", "n_tokens", Seq(40L, 70L), 16)),
    // what the length bucketing actually SAVES: per bucket, padded
    // tokens at each batch's own max vs the docs' real tokens — the
    // waste ratio a fixed-shape training step pays; pure composition
    // over the same batch assignment
    "q_padding_waste" -> ((s, dir) =>
      Curation.batchByLength(
          TextOps.tokenStats(Tables.documents(s, dir), "doc_id", "text")
            .select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", Seq(40L, 70L), 16)
        .groupBy(col("bucket"), col("batch"))
        .agg(count(lit(1)).as("_cnt"), max(col("n_tokens")).as("_bmax"),
          sum(col("n_tokens")).as("_tok"))
        .groupBy(col("bucket"))
        .agg(sum(col("_cnt")).as("n_docs"),
          count(lit(1)).as("n_batches"),
          sum(col("_tok")).as("total_tokens"),
          sum(col("_cnt") * col("_bmax")).as("padded_tokens"))
        .select(col("bucket").cast("long").as("bucket"), col("n_docs"),
          col("n_batches"), col("total_tokens"), col("padded_tokens"),
          when(col("padded_tokens") > 0L,
            floor((col("padded_tokens") - col("total_tokens")).cast("double")
              / col("padded_tokens").cast("double") * 1000000d) / 1000000d)
            .as("waste_ratio"))),
    // concat-and-chunk sequence packing: the corpus as one doc_id-ordered
    // token stream sliced into 512-token training examples — each doc's
    // pack range and in-pack offset from ONE distributed prefix scan plus
    // a pure int64 map stage (no single-task window, exact on any engine)
    "q_pack" -> ((s, dir) =>
      Curation.concatPack(
        TextOps.tokenStats(Tables.documents(s, dir), "doc_id", "text")
          .select(col("doc_id"), col("n_tokens")),
        col("doc_id"), "doc_id", "n_tokens", PackTokens)),
    // globally-ordered cumulative spend in exact DECIMAL — the money form
    // of the distributed prefix sum (fractional values, no drift, no
    // single-task window); output cast to double only at the edge
    "q_cum_spend" -> ((s, dir) =>
      CoreOps.orderedPrefixSumDecimal(
          Tables.events(s, dir).select(col("event_id"),
            unix_millis(col("ts")).as("ts_ms"), col("value")),
          col("ts_ms"), "event_id", "value", "cum_spend")
        .select(col("event_id"), col("ts_ms"),
          col("cum_spend").cast("double").as("cum_spend"))),
    // best 3 docs per (source, lang) by quality — compiles to
    // WindowGroupLimit, so no group's full ranking ever materializes
    "q_top_docs" -> ((s, dir) =>
      CoreOps.groupTopK(
        Tables.documents(s, dir)
          .join(TextOps.qualityScore(Tables.documents(s, dir), "doc_id", "text", stopEn)
            .select(col("doc_id"), col("stopword_ratio")), Seq("doc_id")),
        Seq("source", "lang"), col("stopword_ratio"), "doc_id", 3)
        .select(col("source"), col("lang"), col("rank"), col("doc_id"))),

    // ── extensions: repetition / chunking / mixing / redaction tier ───────
    // Gopher-style repetitiousness: top-bigram share + distinct-token ratio
    "q_repetition" -> ((s, dir) =>
      TextOps.repetitionProfile(Tables.documents(s, dir), "doc_id", "text", 2)),
    // context-window packing: 40-token chunks every 30 tokens (10 overlap)
    "q_chunks" -> ((s, dir) =>
      TextOps.chunk(Tables.documents(s, dir), "doc_id", "text",
        ChunkWindow, ChunkStride)),
    // epochs-per-domain mixture: downsample en to 0.3 copies, upsample zh to
    // 2.5, one epoch for the rest — fractional repeats decided by md5(id)
    "q_mixture" -> ((s, dir) =>
      Sampling.mixtureRepeat(Tables.documents(s, dir), "lang", "doc_id",
        Map("en" -> 0.3, "zh" -> 2.5), 1.0, "ep")
        .select(col("doc_id"), col("lang"), col("copy"))),
    // PII scrubbing probe: the corpus is synthetic and PII-free, so each doc
    // is first augmented with a deterministic doc_id-derived email + phone
    // (both sides build the identical string), then counted and masked
    "q_redact" -> ((s, dir) =>
      TextOps.redactPii(
        Tables.documents(s, dir).select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.com or +1-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text")),
        "doc_id", "text")),
    // TPC-H Q4-shaped existence rollup: orders with any lineitem shipped
    // >90 days after the order date, counted by priority — a shuffled
    // LEFT SEMI on the order key with a non-equi residual (the semi-join
    // stops probing an order at its first qualifying lineitem, and no
    // lineitem payload survives the join)
    "q_priority_semi" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"))
    }),

    // skew-fallback salted join: events ⋈ customer on (user_id = c_custkey)
    // with the hot left side salted 8 ways and the dim replicated ×8 —
    // row-identical to the plain join (the oracle IS the plain join)
    "q_salted_join" -> ((s, dir) =>
      CoreOps.saltedJoin(Tables.events(s, dir), Tables.customer(s, dir),
          "user_id", "c_custkey", "event_id", 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          CoreOps.exactSum(col("value")).as("total_value"))),
    // point-in-interval range join: every error event opens a 10-minute
    // incident window; count+sum the events landing inside each window.
    // The grain-bucketed encoding turns what Spark would plan as a
    // broadcast-nested-loop inequality join into one equi-shuffle
    "q_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val iv = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"),
          unix_millis(col("ts")).as("w_start"),
          (unix_millis(col("ts")) + lit(RangeWindowMs)).as("w_end"))
      CoreOps.rangeJoin(ev.select(col("event_id"), col("ts"), col("value")),
          "ts", iv, "w_start", "w_end", RangeWindowMs)
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_events"),
          CoreOps.exactSum(col("value")).as("total_value"))
    }),
    // keyed variant: the interval carries its user and only that user's
    // events can land in it — the cell key becomes (user_id, day cell), so
    // a hot day no longer funnels every user into one task
    "q_range_join_keyed" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val iv = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("incident_id"),
          unix_millis(col("ts")).as("w_start"),
          (unix_millis(col("ts")) + lit(RangeDayMs)).as("w_end"))
      CoreOps.rangeJoin(ev.select(col("event_id"), col("user_id"), col("ts")),
          "ts", iv, "w_start", "w_end", RangeDayMs, Seq("user_id"))
        .groupBy(col("incident_id"))
        .agg(count(lit(1)).as("n_events"))
    }),
    // bloom-pruned semi-join: events by customers in one market segment —
    // the big side is pruned by a codegen'd driver-built Bloom probe before
    // its shuffle, then exact-verified (output = the plain semi-join)
    "q_bloom_semi" -> ((s, dir) =>
      CoreOps.bloomSemiJoin(Tables.events(s, dir),
          Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING"),
          "user_id", "c_custkey", 1000L)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          CoreOps.exactSum(col("value")).as("total_value"))),
    // bloom-pruned anti-join (the decontamination drop): lineitems whose
    // order is NOT urgent-priority — bloom misses pass with zero shuffle,
    // only probe hits pay the exact anti-join
    "q_bloom_anti" -> ((s, dir) =>
      CoreOps.bloomAntiJoin(Tables.lineitem(s, dir),
          Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_orderkey")),
          "l_orderkey", "o_orderkey", 10000L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          CoreOps.exactSum(col("l_quantity")).as("sum_qty"))),
    // BM25 relevance against a fixed term list (rational Robertson idf —
    // see TextOps.bm25): one corpus-stats aggregate broadcast back, then a
    // pure map stage
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25(Tables.documents(s, dir), "doc_id", "text",
        BmTerms, BmK1, BmB)),
    // the large-term-list BM25 form: explode tokens once, broadcast-join the
    // term table, O(doc length) per doc however many terms — same scores as
    // q_bm25 (BmTerms is ascending = the explode form's fold order)
    "q_bm25_explode" -> ((s, dir) => {
      import s.implicits._
      TextOps.bm25Explode(Tables.documents(s, dir), "doc_id", "text",
        BmTerms.toDF("term"), BmK1, BmB)
    }),
    // per-doc top-3 TF-IDF keywords: rational Robertson idf (the bm25
    // trick — no ln), full-vocab df joins back on the term key (NOT a
    // broadcast: the vocabulary is corpus-sized), WindowGroupLimit caps
    // each doc at 3 rows below the sort
    "q_tfidf_top" -> ((s, dir) =>
      TextOps.tfidfTop(Tables.documents(s, dir), "doc_id", "text", 3)),
    // TextRank keywords: the corpus's central vocabulary by co-occurrence
    // centrality — stopword-filtered adjacency graph through the
    // oracle-checked pagerankWeighted core, deterministic top-50
    "q_textrank" -> ((s, dir) =>
      TextOps.textRank(Tables.documents(s, dir), "text",
        stopEn ++ stopDe ++ stopFr ++ stopEs ++ stopZh, WprIters,
        TextRankTopK, PrScale)),
    // fluency scoring under the corpus's own top-500 bigram LM: 6-dp
    // probabilities recover exact decimals, so per-doc sums are
    // order-independent — no ln anywhere
    "q_lm_score" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.lmScore(docs, "doc_id", "text",
        TextOps.bigramLm(docs, "text", 500))
    }),
    // upsert compaction: the latest event per user via ONE max_by hash
    // aggregate — map-side combine ships one candidate row per (task,
    // key), where the window form would shuffle and sort the whole log
    "q_latest_state" -> ((s, dir) =>
      CoreOps.latestState(
        Tables.events(s, dir).select(col("user_id"), col("event_id"),
          unix_millis(col("ts")).as("ms"), col("event_type"), col("value")),
        Seq("user_id"), Seq("ms", "event_id"))),
    // Morton codes for the multi-dim clustered layout: pure integer bit
    // interleaving the oracle rebuilds term for term (q_layout_depth
    // measures the per-dimension file pruning a z-curve tiling buys)
    "q_zorder" -> ((s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        graft.sources.CorpusLayout.zValue(
          Seq(col("user_id"), pmod(col("event_id"), lit(1048576L))), 20)
          .as("z"))),
    // multi-dimensional cube: revenue at every (flag, status) subset — all
    // four grouping sets expand inside ONE partial-agg'd exchange
    "q_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          count(lit(1)).as("n_items"),
          CoreOps.exactSum(col("l_extendedprice")).as("revenue"))),
    // per-event sessionization: 1-day-gap session index on every event —
    // the per-event twin of the session-window aggregate
    "q_sessionize" -> ((s, dir) =>
      CoreOps.sessionize(Tables.events(s, dir), "user_id", "ts", "event_id", D)
        .select(col("event_id"), col("user_id"), col("session_seq"))),
    // percent-rank normalization of doc length within language — exact
    // rational (rank-1)/(n-1), bit-identical on any engine
    "q_rank_norm" -> ((s, dir) =>
      CoreOps.rankNormalize(Tables.documents(s, dir), "lang", "n_chars", "pr")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("pr"))),
    // robust median/MAD outlier flags on event values per type — the
    // heavy-tail-safe curation filter. Values are scaled to integer cents
    // first: with integer-valued inputs, ANY percentile interpolation
    // formula is exact (all intermediates representable), so the medians
    // are bit-identical on every engine; robust_z is scale-invariant
    "q_outliers" -> ((s, dir) =>
      CoreOps.robustOutliers(
          Tables.events(s, dir).withColumn("value_c",
            round(col("value") * 100).cast("long")),
          "event_type", "value_c", 3.5)
        .select(col("event_id"), col("event_type"), col("value_c"),
          col("robust_z"), col("is_outlier"))),
    // sketch twin of q_outliers, fully oracle-checked: exact median/MAD
    // (the q_outliers inputs) plus a rank-window verdict on BOTH
    // approx_percentile estimates — the estimates never leave the engine
    "q_outliers_approx" -> ((s, dir) =>
      CoreOps.robustOutliersChecked(
        Tables.events(s, dir).withColumn("value_c",
          round(col("value") * 100).cast("long")),
        "event_type", "value_c")),
    // daily distinct users, exact + HLL sketch in ONE groupBy, with the
    // same checked-twin bound verdict as q_dedup_profile_approx — the
    // sketch the streaming form keeps per open window at scale
    "q_window_users" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day"))
        .agg(count(lit(1)).as("n_events"),
          count_distinct(col("user_id")).as("n_users"),
          (abs(approx_count_distinct(col("user_id"), 0.05) -
              count_distinct(col("user_id")))
            <= greatest(count_distinct(col("user_id")) * 0.15, lit(16.0)))
            .as("within_bound"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("n_events"), col("n_users"), col("within_bound"))),
    // exact distributed correlation: decimal moment sums (order-independent)
    // then one fixed double formula — reproducible where corr() is not
    "q_corr" -> ((s, dir) =>
      CoreOps.exactCorr(
        Tables.documents(s, dir).withColumn("n_tokens",
          size(TextOps.tokens(col("text"))).cast("long")),
        "lang", "n_chars", "n_tokens")),
    // Spearman on the SAME columns as q_corr: monotonic association via
    // doubled average ranks (exact int64 — no fractional tie rank ever
    // exists), then the identical decimal-moment Pearson chain
    "q_spearman" -> ((s, dir) =>
      CoreOps.spearmanCorr(
        Tables.documents(s, dir).withColumn("n_tokens",
          size(TextOps.tokens(col("text"))).cast("long")),
        "lang", "n_chars", "n_tokens")),
    // every feature-pair correlation in ONE aggregate pass (the
    // numericProfile stacking shape over exactCorr's decimal moments)
    "q_corr_matrix" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      CoreOps.corrMatrix(
        Tables.documents(s, dir).select(col("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_uniq")),
        Seq("n_chars", "n_tokens", "n_uniq"))
    }),
    // ── information-theory tier: every ln is quantized AT THE TERM
    // (qlog = floor(ln·10⁶) BIGINT) and summed exactly, so the emitted
    // statistic is partitioning/engine-independent by construction
    // (InfoTheory scaladoc) ─────────────────────────────────────────────
    // token-distribution Shannon entropy per language — corpus diversity
    // gauge; join-free H·N = N·lnN − Σc·lnc identity, one count shuffle
    "q_token_entropy" -> ((s, dir) =>
      InfoTheory.entropy(
        Tables.documents(s, dir).select(col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "lang", "tok")),
    // directed token-distribution drift KL(even‖odd doc halves), add-one
    // smoothed over the union vocabulary — one count shuffle builds both
    // sides' counts in the same row, totals ride a 1-row broadcast
    "q_kl_drift" -> ((s, dir) =>
      InfoTheory.klDrift(
        Tables.documents(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "tok", pmod(col("doc_id"), lit(2)) === 0)),
    // does language predict source? — mutual information over the
    // (lang, source) contingency cells; margins are partitioned window
    // sums over the O(cells) table, never the corpus
    "q_mutual_info" -> ((s, dir) =>
      InfoTheory.mutualInfo(Tables.documents(s, dir), "lang", "source")),
    // bigram PMI collocations (≥5 occurrences): which adjacent token
    // pairs co-occur beyond chance — positional margins via partitioned
    // windows over the bigramLm-shaped gram table
    "q_pmi" -> ((s, dir) =>
      InfoTheory.pmiCollocations(Tables.documents(s, dir), "text", 5L)),
    // Zipf rank-frequency slope per language (natural text ≈ −1):
    // quantized log-log coordinates through the exactRegression moment
    // chain — the whole regression runs on exact integers
    "q_zipf" -> ((s, dir) =>
      CoreOps.exactRegression(
        InfoTheory.zipfLogLog(Tables.documents(s, dir), "lang", "text"),
        "lang", "log_rank", "log_freq")),
    // the drift monitor's diversity axis: per-day Shannon entropy of the
    // event-type mix — a collapsing entropy flags a traffic regime change
    // even when TVD-vs-baseline is still small; pure composition of the
    // quantized-log entropy over a day-floored window key
    "q_entropy_by_window" -> ((s, dir) =>
      InfoTheory.entropy(
        Tables.events(s, dir).filter(col("ts").isNotNull)
          .withColumn("window_start_ms",
            (unix_millis(col("ts"))
              - pmod(unix_millis(col("ts")), lit(D))).cast("long")),
        "window_start_ms", "event_type")),
    // the SAME per-day entropy as a TRUE streaming aggregate (batch-run
    // here): the whole distribution rides ONE CategoryCountAgg through
    // the single aggregation streaming allows — one shuffle where the
    // batch form needs two; same oracle, bit-identical rows
    "q_entropy_stream" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedEntropy(
        Tables.events(s, dir).filter(col("ts").isNotNull),
        "event_type", "ts", "1 day", "0 seconds")),
    // multilingual/multi-source sampling shares at temperature T = 2:
    // weight ∝ √n_tokens via one EXACT integer sqrt step (IEEE sqrt is
    // correctly rounded — no transcendental caveat), shares trunc6'd
    "q_mixture_temp" -> ((s, dir) =>
      Sampling.temperatureShares(
        Tables.documents(s, dir).filter(col("source").isNotNull)
          .groupBy(col("source"))
          .agg(sum(size(TextOps.tokens(col("text"))).cast("long"))
            .as("n_tokens")),
        "source", "n_tokens", 1)),
    // how much does the near-dup harvest shrink as the Jaccard bar
    // rises? — the knob-tuning curve over the ONE memoized verified-pair
    // frame (thresholds 0.5..0.9, conditional counts, no extra LSH pass)
    "q_dup_curve" -> ((s, dir) => {
      val pairs = nearDupPairs(s, dir)
      val ts = Seq(50, 60, 70, 80, 90)
      pairs.groupBy()
        .agg(coalesce(sum(when(col("jaccard") >= lit(ts.head / 100d), 1L)
            .otherwise(0L)), lit(0L)).as(s"_n${ts.head}"),
          ts.tail.map(t =>
            coalesce(sum(when(col("jaccard") >= lit(t / 100d), 1L)
              .otherwise(0L)), lit(0L)).as(s"_n$t")): _*)
        .select(explode(array(ts.map(t =>
          struct(lit(t.toLong).as("threshold_pct"),
            col(s"_n$t").as("n_pairs"))): _*)).as("_t"))
        .select(col("_t.threshold_pct"), col("_t.n_pairs"))
    }),
    // code-switching screen: top-two stopword-evidence languages per doc
    // with an integer cross-multiplied mixed flag — where a single
    // argmax silently picks a side
    "q_lang_mix" -> ((s, dir) =>
      TextOps.languageMix(Tables.documents(s, dir), "doc_id", "text",
        langProfiles)),
    // bandit score sheet for source selection: UCB1 per event type over
    // spend rewards (normalized by the 500-unit cap), ln N quantized so
    // only the final trunc6'd double chain is engine-variant
    "q_ucb" -> ((s, dir) =>
      CoreOps.ucbScores(
        Tables.events(s, dir)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", "cents", 50000L, 2)),
    // ── privacy release audits over the (event_type, day, spend-bucket)
    // quasi-identifier cut of events ────────────────────────────────────
    // every equivalence class with its size and risk flag — the
    // suppress-list a k-anonymous release anti-joins against
    "q_k_anonymity" -> ((s, dir) =>
      Curation.kAnonymityClasses(quasiCut(s, dir),
        Seq("event_type", "day", "spend_bucket"), KAnonK)),
    // the one-row release gate: class counts, rows at risk, smallest class
    "q_k_anonymity_gate" -> ((s, dir) =>
      Curation.kAnonymitySummary(quasiCut(s, dir),
        Seq("event_type", "day", "spend_bucket"), KAnonK)),
    // k-anonymity's complement: classes where too FEW distinct users hide
    // behind the quasi-identifiers, however many rows they hold
    "q_l_diversity" -> ((s, dir) =>
      Curation.lDiversityClasses(quasiCut(s, dir),
        Seq("event_type", "day", "spend_bucket"), "user_id", LDivL)),
    // t-closeness: the third privacy gate — flags (day, spend-bucket)
    // classes whose event-type MIX deviates from the corpus mix by more
    // than t in total variation; exact decimal numerators, absent-
    // category tail in closed form
    "q_t_closeness" -> ((s, dir) =>
      Curation.tClosenessClasses(quasiCut(s, dir),
        Seq("day", "spend_bucket"), "event_type", 0.2)),
    // the fourth privacy gate, release-side: DP-shaped histogram release
    // mechanics — per-user contribution clamp (sensitivity bound), k-min
    // suppression, Laplace-calibrated seeded noise (deterministic test
    // harness; the deploy path swaps the hash for a CSPRNG — see scaladoc)
    "q_dp_release" -> ((s, dir) =>
      CoreOps.dpRelease(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_type"), col("event_id")),
        "user_id", "event_type", "event_id", DpClamp, DpKMin)),
    // the SUM release beside the count release: per-user spend totals
    // clamped into [0, 10000] cents per category (the sum's sensitivity
    // bound), same gate + seeded-Laplace plumbing at scale clampSum
    "q_dp_sum" -> ((s, dir) =>
      CoreOps.dpSumRelease(
        Tables.events(s, dir)
          .filter(col("value").isNotNull)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "user_id", "event_type", "cents", DpSumClamp, DpKMin)),
    // which event type's spend distribution moved, and how far in cents
    // — the fully-partitioned per-group W1 (group-keyed windows only)
    "q_wasserstein_by_type" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("event_type"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
      CoreOps.wassersteinByGroup(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        "event_type", "cents")
    }),
    // earth-mover drift of the spend distribution between the even/odd
    // user cohorts — KS's metric-space sibling: how FAR did the mass
    // move, in cents; the same bucketed prefix scan plus a rank self-
    // join for grid gaps
    "q_wasserstein" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), floor(col("value") * 100).cast("long")
          .as("cents"))
      CoreOps.wassersteinDistance(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        "cents")
    }),
    // per-day KL drift of the event mix against the whole corpus's mix —
    // the directed sibling of q_drift_by_day's TVD, as the streaming
    // form (batch-run): ONE CategoryCountAgg aggregation, the baseline
    // folded in as a plan literal (collected once, O(categories))
    "q_kl_by_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
      graft.streaming.StreamOps.windowedKlDrift(ev, "event_type", "ts",
        "1 day", "0 seconds", ev, "event_type")
    }),
    // the user-lifecycle curve: daily cohorts of first activity, distinct
    // actives per (cohort, offset), trunc6'd retention ratio
    "q_retention" -> ((s, dir) =>
      CoreOps.retentionCohorts(Tables.events(s, dir), "user_id", "ts",
        86400000L)),
    // retention's principled sibling: Kaplan-Meier time-to-churn per
    // weekly signup cohort with right-censoring done correctly — the
    // survival product carried in quantized-log space (exact BIGINT
    // prefix sums), one floor-quantized exp per emitted step
    "q_survival" -> ((s, dir) =>
      CoreOps.kaplanMeier(Tables.events(s, dir), "user_id", "ts",
        KmGapDays, KmCohortDays)),
    // KM's additive companion: cumulative hazard Σ dᵢ/nᵢ per cohort —
    // near-linear growth = constant churn rate, bends = acceleration;
    // each step exact (d·1e12) div n, same prefix-window shape
    "q_nelson_aalen" -> ((s, dir) =>
      CoreOps.nelsonAalen(Tables.events(s, dir), "user_id", "ts",
        KmGapDays, KmCohortDays)),
    // the retention A/B read-out over the WHOLE curve: two-sample
    // log-rank between the even/odd user cohorts — per pooled death time,
    // observed-vs-expected deaths with hypergeometric variance, all ppm
    // integers; KM/NA draw the arms' curves, this says if they differ
    "q_logrank" -> ((s, dir) =>
      CoreOps.logRankTest(Tables.events(s, dir), "user_id", "ts",
        pmod(col("user_id"), lit(2)) === 0, KmGapDays)),
    // log-rank's effect size: restricted mean survival through day 20 —
    // exact integer area under each arm's KM step curve, the "kept
    // users N days longer" number a retention experiment reports
    "q_rmst" -> ((s, dir) =>
      CoreOps.rmstDiff(Tables.events(s, dir), "user_id", "ts",
        pmod(col("user_id"), lit(2)) === 0, KmGapDays, RmstTau)),
    // the p10-churn lifetime per cohort: the first duration where the
    // curve dips under 0.9 — the threshold compares the floor-quantized
    // survival, identical on both engines; cohorts never crossing emit
    // no row (an absent quantile is not a zero)
    "q_km_quantile" -> ((s, dir) =>
      CoreOps.kaplanMeier(Tables.events(s, dir), "user_id", "ts",
        KmGapDays, KmCohortDays)
        .filter(col("survival") <= 0.9)
        .groupBy(col("cohort_day"))
        .agg(min(col("dur_days")).as("lifetime_days"))),
    // volume anomaly flags: per-type daily counts through the robust
    // median/MAD detector (integer counts → exact percentiles, the
    // q_outliers argument without the cents scaling)
    // the decomposition's one-number verdict per type: how much of the
    // detrended variance the weekly pattern explains — ~0 means don't
    // build a weekly model for this metric
    "q_seasonal_strength" -> ((s, dir) => {
      val msCol = unix_millis(col("ts"))
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          ((msCol - pmod(msCol, lit(D))) / lit(D)).cast("long").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      CoreOps.seasonalStrength(daily, "event_type", "day", "n", 7, 3)
    }),
    // classical additive decomposition of each type's daily volume:
    // value = trend (full centered 7-day mean) + seasonal (re-centered
    // slot means of the detrended series) + residual — the residual is
    // what q_seasonal_outliers SHOULD score once a ramp exists
    "q_seasonal_decomp" -> ((s, dir) => {
      val msCol = unix_millis(col("ts"))
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          ((msCol - pmod(msCol, lit(D))) / lit(D)).cast("long").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      CoreOps.seasonalDecompose(daily, "event_type", "day", "n", 7, 3)
    }),
    // seasonality-aware volume anomaly: the q_volume_outliers detector
    // with the baseline keyed per (event_type, day-of-week) — a quiet
    // Sunday stops flagging as an outage and a loud Sunday starts
    "q_seasonal_outliers" -> ((s, dir) => {
      val msCol = unix_millis(col("ts"))
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .select(col("event_type"),
          ((msCol - pmod(msCol, lit(D))) / lit(D)).cast("long").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("dow", pmod(col("day"), lit(7L)))
        .withColumn("gkey", concat(col("event_type"), lit(":"), col("dow")))
      CoreOps.robustOutliers(daily, "gkey", "n", 2.0)
        .select(col("event_type"), col("day"), col("dow"), col("n"),
          col("robust_z"), col("is_outlier"))
    }),
    // degree assortativity of the co-sourcing graph — do high-degree
    // suppliers source ubiquitous parts (r > 0) or rare ones (r < 0)?
    // Pearson over edge-endpoint degrees through exactCorr's decimal
    // moments (each undirected edge contributes both orientations, the
    // standard convention)
    "q_assortativity" -> ((s, dir) => {
      val e = bidirected(s, dir).toDF("a", "b")
      val deg = e.groupBy(col("a")).agg(count(lit(1)).as("d"))
      CoreOps.exactCorr(
        e.join(deg.select(col("a"), col("d").as("deg_a")), Seq("a"))
          .join(deg.select(col("a").as("b"), col("d").as("deg_b")), Seq("b"))
          .select(lit("all").as("g"), col("deg_a"), col("deg_b")),
        "g", "deg_a", "deg_b")
    }),
    "q_volume_outliers" -> ((s, dir) => {
      val msCol = unix_millis(col("ts"))
      val daily = Tables.events(s, dir).select(col("event_type"),
          ((msCol - pmod(msCol, lit(86400000L))) / lit(86400000L))
            .cast("long").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      CoreOps.robustOutliers(daily, "event_type", "n", 3.5)
        .select(col("event_type"), col("day"), col("n"),
          col("robust_z"), col("is_outlier"))
    }),
    // lag-1 autocorrelation of the daily event volume: consecutive-day
    // pairs via a day+1 self-join (no single-task window), then the exact
    // decimal-moment correlation
    "q_autocorr" -> ((s, dir) => {
      val msCol = unix_millis(col("ts"))
      val daily = Tables.events(s, dir).select(
          ((msCol - pmod(msCol, lit(86400000L))) / lit(86400000L))
            .cast("long").as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("x"))
      val next = daily.select((col("day") - 1).as("day"), col("x").as("y"))
      CoreOps.exactCorr(
        daily.join(next, Seq("day")).withColumn("series", lit("lag1")),
        "series", "x", "y")
    }),
    // first-order Markov transitions over each user's event sequence —
    // the (ts, event_id) tiebreak makes tied instants deterministic, so
    // the pair set is engine-exact; probs are one trunc6'd count ratio
    "q_transitions" -> ((s, dir) =>
      CoreOps.transitionMatrix(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type")),
    // how predictable is the NEXT event? — conditional entropy over the
    // same transition cells via the join-free per-row identity; low =
    // deterministic journeys, ln(K)-ish = anyone's guess
    "q_transition_entropy" -> ((s, dir) =>
      InfoTheory.conditionalEntropy(
        CoreOps.transitionMatrix(Tables.events(s, dir), "user_id", "ts",
          "event_id", "event_type")
          .select(col("from_state"), col("n")),
        "from_state", "n")),
    // within-session conversion funnel: sessionize assigns the session
    // id, then the funnel chain runs keyed by (user, session) — a
    // conversion cannot span a silence gap
    "q_session_funnel" -> ((s, dir) => {
      // user_id IS NOT NULL up front (the events-oracle convention):
      // concat_ws would silently SKIP a NULL user_id and mint a usable
      // ":seq" key where the oracle's || propagates NULL — latent today,
      // wrong the day the data grows NULL users
      val sess = CoreOps.sessionize(
          Tables.events(s, dir).filter(col("user_id").isNotNull),
          "user_id", "ts", "event_id", D)
        .withColumn("skey",
          concat_ws(":", col("user_id"), col("session_seq")))
      CoreOps.funnel(sess, "skey", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
    }),
    // the session-boundary-aware state machine vs the SAME oracle: per
    // user, state carries (session index, gap anchor, funnel progress);
    // in batch mode each user's history arrives in one sorted invocation,
    // so the session indices reproduce the lag-scan's boundary count and
    // the emitted skey/times rows equal the batch composition exactly
    "q_session_funnel_stream" -> ((s, dir) => {
      val ke = graft.streaming.StateMachines.keyedEvents(
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        col("user_id"), unix_millis(col("ts")), col("event_id"),
        col("event_type"))
      graft.streaming.StateMachines.sessionFunnelStages(ke,
          Seq("view", "click", "purchase"), D)
        .select(col("key").as("skey"),
          element_at(col("times"), 1).as("t0"),
          element_at(col("times"), 2).as("t1"),
          element_at(col("times"), 3).as("t2"))
    }),
    // peak-load gauge: how many sessions are ACTIVE at each hour boundary
    // — sessionize's intervals through the distributed sweep (delta
    // events + bucketed prefix sum), never an O(n·boundaries) range join
    "q_session_concurrency" -> ((s, dir) => {
      val sess = CoreOps.sessionize(
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", D)
      val iv = sess
        .select(col("user_id"), col("session_seq"),
          unix_millis(col("ts")).as("ms"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ms")).as("s_ms"), max(col("ms")).as("e_ms"))
      CoreOps.concurrencyProfile(iv, "s_ms", "e_ms", 3600000L)
    }),
    // interval-OVERLAP join (both sides ranges; q_range_join is point-in-
    // range): which odd-user sessions overlap which even-user sessions —
    // cell-bucketed equi-join, dedup-free later-start-cell emission,
    // fail-loud span bound; top-N heaviest overlaps (TakeOrdered, never a
    // global sort)
    "q_interval_overlap" -> ((s, dir) => {
      val sess = CoreOps.sessionize(
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        "user_id", "ts", "event_id", D)
      val iv = sess
        .select(col("user_id"), col("session_seq"),
          unix_millis(col("ts")).as("ms"))
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ms")).as("s_ms"), (max(col("ms")) + 1L).as("e_ms"))
        .localCheckpoint(true) // shared: both join sides
      CoreOps.intervalOverlapJoin(
          iv.filter(pmod(col("user_id"), lit(2)) === 1)
            .select(col("user_id").as("a_user"),
              col("session_seq").as("a_seq"), col("s_ms").as("a_s"),
              col("e_ms").as("a_e")),
          "a_s", "a_e",
          iv.filter(pmod(col("user_id"), lit(2)) === 0)
            .select(col("user_id").as("b_user"),
              col("session_seq").as("b_seq"), col("s_ms").as("b_s"),
              col("e_ms").as("b_e")),
          "b_s", "b_e", OvCell, OvMaxCells)
        .orderBy(col("overlap_ms").desc, col("a_user"), col("a_seq"),
          col("b_user"), col("b_seq"))
        .limit(OvTopN)
    }),
    // Markov-2: p(next | last TWO states) — both lags share one window
    // pass, aggregation on O(states³) rows
    "q_transitions2" -> ((s, dir) =>
      CoreOps.transitionMatrix2(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type")),
    // the same Markov-2 matrix via the streaming state machine in batch
    // mode (last TWO kinds per key), checked against the SAME oracle as
    // q_transitions2 — the q_transitions_stream twin-proof pattern
    "q_transitions2_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull
        && col("event_type").isNotNull && col("user_id").isNotNull)
      val counts = graft.streaming.StateMachines.transitionPairs2(
          graft.streaming.StateMachines.keyedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("event_type")))
        .groupBy(col("from2_state"), col("from1_state"), col("to_state"))
        .agg(count(lit(1)).as("n"))
      CoreOps.withTransitionProbs(counts, Seq("from2_state", "from1_state"))
    }),
    // next-event prediction table: each from_state's top-2 successors by
    // count — the transition matrix composed with a PARTITIONED
    // WindowGroupLimit rank, deterministic (n desc, to_state) tiebreak
    "q_next_event" -> ((s, dir) => {
      val w = Window.partitionBy(col("from_state"))
        .orderBy(col("n").desc, col("to_state"))
      CoreOps.transitionMatrix(Tables.events(s, dir), "user_id", "ts",
          "event_id", "event_type")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 2)
        .select(col("from_state"), col("rk"), col("to_state"), col("n"),
          col("prob"))
    }),
    // SCD-2 historization: one keyed lead window turns every update into
    // a validity interval; each user's latest row stays open
    "q_scd2" -> ((s, dir) =>
      CoreOps.scd2(Tables.events(s, dir), "user_id", "ts", "event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("valid_from_ms"), col("valid_to_ms"), col("is_current"))),
    // equal-width histogram with clamped edge bins: one map + one
    // O(nBins) hash agg; the bin arithmetic is identical IEEE both engines
    "q_value_hist" -> ((s, dir) =>
      CoreOps.valueHistogram(Tables.lineitem(s, dir), "l_extendedprice",
        HistLo, HistWidth, HistBins)),
    // log-free label-diversity score: rational Gini impurity from integer
    // counts — the entropy stand-in that needs no ln()
    "q_gini" -> ((s, dir) =>
      CoreOps.giniImpurity(Tables.events(s, dir), "user_id", "event_type")),
    // co-order association lift over (order, part) baskets: the pair
    // expansion is a basket-keyed self-join bounded by the size cap;
    // lift is one double division of two BIGINT products
    "q_basket_lift" -> ((s, dir) =>
      Graph.basketLift(coorderItems(s, dir),
        "l_orderkey", "l_partkey", LiftSupport, LiftMaxBasket)),
    // token collocations are basketLift VERBATIM over (doc, token) —
    // which word pairs co-occur in documents beyond independence; the
    // same self-join-on-basket bound, tokens as items
    "q_token_lift" -> ((s, dir) =>
      Graph.basketLift(
        Tables.documents(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "doc_id", "tok", 20L, 40)),
    // triangle census of the support-filtered co-order graph: the Spark
    // side counts via degree-oriented wedges (hub-proof); the oracle
    // brute-forces the same census with a canonical 3-way join
    "q_triangles" -> ((s, dir) =>
      Graph.triangleStats(coorderPairs(s, dir), "pa", "pb")),
    // degree histogram of the supplier-part graph: the graph-shape
    // profile as a composition — degrees through valueHistogram
    "q_degree_hist" -> ((s, dir) => {
      // degrees aggregate on the LONG keys (the bipartite sides cannot
      // collide), so the big distinct/agg never touches strings — labels
      // attach to the O(nodes) degree rows only
      val e = Tables.lineitem(s, dir)
        .select(col("l_suppkey"), col("l_partkey")).distinct()
      val deg = e.groupBy(col("l_suppkey")).agg(count(lit(1)).as("d"))
        .select(concat(lit("s:"), col("l_suppkey")).as("node"), col("d"))
        .union(e.groupBy(col("l_partkey")).agg(count(lit(1)).as("d"))
          .select(concat(lit("p:"), col("l_partkey")).as("node"), col("d")))
        .select(col("node"), col("d").cast("double").as("degree"))
      CoreOps.valueHistogram(deg, "degree", DegLo, DegWidth, DegBins)
    }),
    // the SAME transitions via the streaming state machine run in batch
    // mode (one remembered kind per key), checked against the SAME oracle
    // as q_transitions — the interval-alert twin-proof pattern
    "q_transitions_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("ts").isNotNull
        && col("event_type").isNotNull && col("user_id").isNotNull)
      val counts = graft.streaming.StateMachines.transitionPairs(
          graft.streaming.StateMachines.keyedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("event_type")))
        .groupBy(col("from_state"), col("to_state"))
        .agg(count(lit(1)).as("n"))
      CoreOps.withTransitionProbs(counts, Seq("from_state"))
    }),
    // drift report: the one-pass stacked profile on each of two user
    // cohorts, joined on column name — counts exact, deltas single IEEE
    // subtractions
    "q_profile_diff" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      CoreOps.profileDiff(ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        Seq("event_id", "user_id", "value"))
    }),
    // χ² independence of event type vs day-of-week: per-cell rational
    // contributions, cross-cell sum in integer micro-units — the one step
    // plain doubles make partitioning-dependent
    "q_chi2" -> ((s, dir) =>
      CoreOps.chiSquareIndependence(typeByDow(s, dir), "event_type", "dow")),
    // WHERE the association lives: per-cell adjusted Pearson residuals
    // over the same contingency — ~N(0,1) under independence, |r|>2 is
    // the cell to investigate
    "q_chi2_residuals" -> ((s, dir) =>
      CoreOps.chiSquareResiduals(typeByDow(s, dir), "event_type", "dow")),
    // the [0,1]-normalized effect size over the same contingency table:
    // division and square root are correctly-rounded IEEE ops, so the
    // engines agree bit-for-bit (ln/exp could not promise this)
    "q_cramers_v" -> ((s, dir) =>
      CoreOps.cramersV(typeByDow(s, dir), "event_type", "dow")),
    // total-variation drift of the event-type mix between user cohorts:
    // exact decimal cross-products and an exact decimal sum — one final
    // correctly-rounded division; no log, zero-count categories welcome
    "q_tvd_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      CoreOps.categoricalDrift(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        "event_type")
    }),
    // per-day event-type drift vs the corpus baseline: the grouped TVD —
    // every day scored against ALL baseline categories (zero counts
    // included), exact integer arithmetic per group; the batch twin of
    // the streaming windowed drift monitor
    "q_drift_by_day" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val msCol = unix_millis(col("ts"))
      CoreOps.categoricalDriftByGroup(
        ev.select(((msCol - pmod(msCol, lit(D))) / lit(D)).cast("long")
          .as("day"), col("event_type")),
        "day", "event_type", ev.select(col("event_type")))
    }),
    // Mann-Whitney/AUC value shift between user cohorts: integer rank
    // arithmetic end-to-end on the cents grid — P(a-cohort value beats
    // b-cohort value) with zero float summation
    "q_auc_shift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), floor(col("value") * 100).cast("long")
          .as("cents"))
      CoreOps.rankSumAuc(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        "cents")
    }),
    // ordered funnel question per user: did a view EVENTUALLY lead to a
    // purchase? — the journey string against a regex-common-core pattern
    "q_journey_pattern" -> ((s, dir) =>
      CoreOps.journeyPattern(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", JourneyMax, "view.*purchase")),
    // per-user consecutive-active-day streaks: gaps-and-islands on the
    // deduplicated (user, day) grid — day − row_number is constant within
    // a run; everything int64
    "q_streaks" -> ((s, dir) =>
      CoreOps.longestStreak(Tables.events(s, dir), "user_id", "ts")),
    // one row per CLOSED streak (a later active day proved the gap); the
    // still-open final island is excluded — the contract that lets the
    // SAME oracle check the streaming state machine below
    "q_streak_ends" -> ((s, dir) =>
      CoreOps.completedStreaks(Tables.events(s, dir), "user_id", "ts")),
    // the two-long state machine in batch mode vs the SAME oracle; a
    // closed streak emits exactly once, append-safe on a live stream
    "q_streak_ends_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      val msCol = unix_millis(col("ts"))
      val day = ((msCol - pmod(msCol, lit(86400000L))) / lit(86400000L))
        .cast("long")
      graft.streaming.StateMachines.streakEnds(
          graft.streaming.StateMachines.keyedEvents(ev, col("user_id"),
            day, col("event_id"), col("event_type")))
        .select(col("key").cast("long").as("user_id"), col("start_day"),
          col("end_day"), col("len"))
    }),
    // bounded-cardinality breakdown: top-3 event types + one __other__
    // rollup row computed from totals (no second pass), shares trunc6'd
    "q_top_categories" -> ((s, dir) =>
      CoreOps.topCategoriesWithOther(Tables.events(s, dir), "event_type", 3)),
    // deepest sustained decline of each user's cumulative signed value:
    // running sum, running peak, and their gap all exact int64 on the
    // cents grid — one keyed window exchange carries both frames
    "q_drawdown" -> ((s, dir) =>
      CoreOps.maxDrawdown(
        Tables.events(s, dir).withColumn("cents",
          (floor(col("value") * 100).cast("long")
            * when(pmod(col("event_id"), lit(3)) === 0, -1L).otherwise(1L))),
        "user_id", "ts", "event_id", "cents")),
    // CUSUM level-shift detection per user: where did the spend level
    // change? max |n·S_i − i·T| over the prefix sums on the exact cents
    // grid — integer until ONE final trunc6'd division; earliest-argmax
    // tiebreak is deterministic cross-engine
    "q_changepoint" -> ((s, dir) =>
      CoreOps.cusumChangepoint(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", "cents")),
    // A/B conversion z-test between user cohorts: one conditional-count
    // pass, then a fixed chain of correctly-rounded IEEE ops (sqrt is in
    // the exactness contract)
    // leakage-safe churn-label construction: features STRICTLY before
    // the day-19743 cutoff, the label from [19743, 19748) (epoch days) — the supervised
    // dataset builder every retention model starts from, as one
    // conditional-aggregation pass (no joins, no leakage by construction)
    "q_churn_labels" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
        .withColumn("cents", floor(coalesce(col("value"), lit(0d)) * 100)
          .cast("long"))
      ev.filter(col("day") < 19748L)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("day") < 19743L, 1L).otherwise(0L)).as("n_events_pre"),
          coalesce(sum(when(col("day") < 19743L, col("cents"))), lit(0L))
            .as("spend_pre_cents"),
          count_distinct(when(col("day") < 19743L, col("day")))
            .as("days_active_pre"),
          (sum(when(col("day") >= 19743L, 1L).otherwise(0L)) === 0L)
            .as("churned"))
        .filter(col("n_events_pre") > 0L) // users born after the cutoff drop
    }),
    // is the pre-period spend feature predictive of churn? — rankSumAuc
    // between the churned and retained label slices of the SAME frame:
    // the feature-screen loop closed end-to-end over q_churn_labels
    "q_churn_auc" -> ((s, dir) => {
      val labels = queries("q_churn_labels")(s, dir)
      CoreOps.rankSumAuc(
        labels.filter(col("churned")),
        labels.filter(!col("churned")),
        "spend_pre_cents")
    }),
    // quantile treatment effects: the per-percentile lift between the
    // cohorts — a mean shift and a tail shift are different stories,
    // and QTE tells them apart; two quantileProfile rows cross-joined
    "q_qte" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .withColumn("tr", pmod(col("user_id"), lit(2)) === 0)
      val prof = CoreOps.quantileProfile(ev, "tr", "cents",
        Seq(0.1, 0.25, 0.5, 0.75, 0.9))
      val t = prof.filter(col("tr"))
        .select(col("n").as("n_t"), col("p10").as("_t10"),
          col("p25").as("_t25"), col("p50").as("_t50"),
          col("p75").as("_t75"), col("p90").as("_t90"))
      val c = prof.filter(!col("tr"))
        .select(col("n").as("n_c"), col("p10").as("_c10"),
          col("p25").as("_c25"), col("p50").as("_c50"),
          col("p75").as("_c75"), col("p90").as("_c90"))
      t.crossJoin(broadcast(c)).select(col("n_t"), col("n_c"),
        (col("_t10") - col("_c10")).as("qte_p10"),
        (col("_t25") - col("_c25")).as("qte_p25"),
        (col("_t50") - col("_c50")).as("qte_p50"),
        (col("_t75") - col("_c75")).as("qte_p75"),
        (col("_t90") - col("_c90")).as("qte_p90"))
    }),
    // difference-in-differences across the corpus-midpoint epoch-day
    // boundary (19738): treatment =
    // even users; one conditional pass builds all four cells' exact
    // moments, then the fixed four-cell chain
    "q_did" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
      CoreOps.diffInDiff(ev, pmod(col("user_id"), lit(2)) === 0,
        col("day") >= 19738L, "cents")
    }),
    // CUPED adjusted lift on the per-user (pre, post) frame: theta from
    // pooled exact moments, the adjusted diff one fixed chain — the
    // variance-reduction estimator every experimentation platform runs
    "q_cuped" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("day") < 19738L, col("cents"))), lit(0L))
          .as("pre_cents"),
          coalesce(sum(when(col("day") >= 19738L, col("cents"))), lit(0L))
            .as("post_cents"))
      CoreOps.cupedAdjustedDiff(perUser,
        pmod(col("user_id"), lit(2)) === 0, "pre_cents", "post_cents")
    }),
    // Qini uplift curve over the CUPED frame's covariate as the targeting
    // score: rank users by pre-period spend, report the treated top
    // slices' incremental post-period conversions over their control
    // twins — exact integer deciles through the gainsTable machinery
    "q_qini" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
        .withColumn("day", expr("unix_millis(ts) div 86400000"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(coalesce(sum(when(col("day") < 19738L, col("cents"))), lit(0L))
          .as("pre_cents"),
          max(when(col("day") >= 19738L
            && col("event_type") === "purchase", 1L).otherwise(0L))
            .as("converted"))
      Eval.qiniCurve(perUser, "pre_cents",
        pmod(col("user_id"), lit(2)) === 0, col("converted") === 1L, 10)
    }),
    // post-stratified ATE over event_type strata: the Simpson's-paradox
    // guard between the raw diff and CUPED — per-stratum exact-decimal
    // arm means, ppm-quantized contributions, exact BIGINT fold
    "q_strat_ate" -> ((s, dir) =>
      CoreOps.stratifiedAte(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("event_type").isNotNull
            && col("value").isNotNull)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", pmod(col("user_id"), lit(2)) === 0, "cents")),
    // the paradox verdict in one row: the raw arm diff beside the
    // stratified ATE over the same rows, sign_flip when the aggregate
    // contradicts the strata
    "q_simpson" -> ((s, dir) =>
      CoreOps.simpsonCheck(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("event_type").isNotNull
            && col("value").isNotNull)
          .withColumn("cents", floor(col("value") * 100).cast("long")),
        "event_type", pmod(col("user_id"), lit(2)) === 0, "cents")),
    "q_ab_test" -> ((s, dir) =>
      CoreOps.abProportionTest(
        Tables.events(s, dir).select(col("user_id"), col("event_type")),
        pmod(col("user_id"), lit(2)) === 0,
        col("event_type") === "purchase")),
    // the 20th state machine: Wald's SPRT per user — a running integer
    // LLR walk over purchase/other events that emits ONE decision at
    // the first threshold crossing and freezes (the peeking-safe
    // sequential verdict beside q_ab_test's fixed-n z)
    "q_sprt_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull
          && col("user_id").isNotNull && col("event_id").isNotNull)
      graft.streaming.StateMachines.sprtDecisions(
          graft.streaming.StateMachines.keyedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("event_type")),
          "purchase", SprtIncS, SprtIncF, SprtA, SprtB)
        .select(col("key").cast("long").as("user_id"), col("tiebreak"),
          col("decision_ms"), col("n_events"), col("llr_ppm"),
          col("decision"))
    }),
    // the COUNT-outcome companion to q_ab_test: purchases per active
    // user-day between the same arms — qlog-exact ln RR, delta-method z
    "q_rate_ratio" -> ((s, dir) =>
      Eval.rateRatioTest(
        Tables.events(s, dir).filter(col("user_id").isNotNull),
        pmod(col("user_id"), lit(2)) === 0,
        col("event_type") === "purchase",
        concat(col("user_id").cast("string"), lit(":"),
          expr("unix_millis(ts) div 86400000").cast("string")))),
    // Welch's unequal-variance t² between the same cohorts' spend cents:
    // both slices' moment sums in ONE conditional-count pass (no join),
    // exact decimal accumulation, then the fixed mirrored double chain
    "q_welch" -> ((s, dir) =>
      CoreOps.welchTTest(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        pmod(col("user_id"), lit(2)) === 0,
        "cents")),
    // Mann-Whitney U over the same cohorts' spend cents — the rank-based
    // twin of q_welch for heavy tails: midranks via the doubled-rank trick
    // on a by-value frame (exact 2·U as BIGINT), Cliff's delta in ppm,
    // tie-corrected z as the one mirrored double chain
    "q_mann_whitney" -> ((s, dir) =>
      CoreOps.mannWhitney(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        pmod(col("user_id"), lit(2)) === 0,
        "cents")),
    // permutation entropy of each event type's spend series — the
    // ordinal-pattern noise gauge: ppm of the white-noise maximum,
    // qlog-exact pattern entropy, position tie-break
    "q_perm_entropy" -> ((s, dir) =>
      CoreOps.permutationEntropy(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", "ts", "event_id", "cents")),
    // 5%-each-side trimmed mean of spend cents per event type: rank-exact
    // trim cut (row_number on the (cents, event_id) total order), kept-side
    // decimal sum, one keyed window + agg on the same partitioning
    "q_trimmed_mean" -> ((s, dir) =>
      CoreOps.trimmedMean(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", "cents", "event_id", 50)),
    // expanding-window 3σ anomalies per user: the flag predicate is exact
    // integer ((v·n−S)² > 9·(n·SS−S²) in decimal) over prior-prefix
    // moments — one keyed window exchange, then a pure filter
    "q_anomaly" -> ((s, dir) =>
      CoreOps.expandingAnomaly(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "user_id", "ts", "event_id", "cents", 3, 5)),
    // the SAME flags from the streaming moment-state machine run in batch
    // mode — per-key state is three int64 moments, fixed-size forever
    // rapid-fire episode extraction: a burst opens on two events within
    // 2h, survives gaps to 8h, and emits once when a longer silence
    // closes it — hysteresis so traffic hovering near one threshold
    // doesn't flap; the open final burst never emits (append-safe)
    "q_burst_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      graft.streaming.StateMachines.burstEnds(
          graft.streaming.StateMachines.keyedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("event_type")),
          BurstLo, BurstHi)
        .select(col("key").cast("long").as("user_id"), col("start_ms"),
          col("end_ms"), col("n_events"))
    }),
    // deterministic per-user rate limiting: token-bucket admit/reject by
    // EVENT time (burst 3, 1 token/hour) — the same integer walk on
    // backfill and live stream, replayed by the oracle's recursive CTE
    "q_throttle_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      graft.streaming.StateMachines.tokenBucket(
          graft.streaming.StateMachines.keyedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("event_type")),
          ThrottleCap, ThrottleNum, ThrottleDen)
        .select(col("key").cast("long").as("user_id"),
          col("tiebreak").as("event_id"), col("event_ms"), col("admitted"),
          col("avail_after"))
    }),
    // per-user recency-weighted spend level: the EWMA integer recurrence
    // (α = 1/8, adjust=false) no window function can express — each step
    // divides truncating-ly, so only the state machine (batch mode here,
    // same code on a live stream) and the oracle's recursive CTE agree
    // bit-for-bit; one snapshot per user (final in batch)
    "q_ewma_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.streaming.StateMachines.ewmaSnapshots(
          graft.streaming.StateMachines.valuedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("cents")),
          EwmaNum, EwmaDen, EwmaScale)
        .select(col("key").cast("long").as("user_id"), col("n_events"),
          col("last_ms"), col("ewma_scaled"),
          (col("ewma_scaled").cast("double")
            / (EwmaScale.toDouble * 100d)).as("ewma"))
    }),
    // EWMA's forecasting sibling: per-user Holt level + trend as the
    // same integer recurrence discipline — each snapshot carries the
    // one-step-ahead forecast a trending series needs (EWMA lags ramps)
    "q_holt_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.streaming.StateMachines.holtSnapshots(
          graft.streaming.StateMachines.valuedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("cents")),
          HoltANum, HoltADen, HoltBNum, HoltBDen, EwmaScale)
        .select(col("key").cast("long").as("user_id"), col("n_events"),
          col("last_ms"), col("level_scaled"), col("trend_scaled"),
          col("forecast_scaled"),
          (col("forecast_scaled").cast("double")
            / (EwmaScale.toDouble * 100d)).as("forecast"))
    }),
    // the seasonal forecast: additive Holt-Winters with event-count
    // seasonality (period HwPeriod) — same integer recurrence family as
    // q_holt_stream with the seasonal vector booked separately
    "q_holt_winters_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.streaming.StateMachines.holtWintersSnapshots(
          graft.streaming.StateMachines.valuedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("cents")),
          HwPeriod, HoltANum, HoltADen, HoltBNum, HoltBDen, HwGNum,
          HwGDen, EwmaScale)
        .select(col("key").cast("long").as("user_id"), col("n_events"),
          col("last_ms"), col("level_scaled"), col("trend_scaled"),
          col("forecast_scaled"),
          (col("forecast_scaled").cast("double")
            / (EwmaScale.toDouble * 100d)).as("forecast"))
    }),
    "q_anomaly_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.streaming.StateMachines.expandingAnomalies(
          graft.streaming.StateMachines.valuedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("cents")), 3, 5)
        .select(col("key").cast("long").as("user_id"),
          col("tiebreak").as("event_id"), col("anomaly_ms"),
          col("value").as("cents"), col("n_prior"), col("z"))
    }),
    // the same Welch machinery per event type — one partial-agg'd keyed
    // shuffle, one row per segment: did the cohort mean move, and WHERE?
    "q_welch_by_type" -> ((s, dir) =>
      CoreOps.welchTTestByGroup(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", pmod(col("user_id"), lit(2)) === 0, "cents")),
    // calibration curve: spend cents binned on an exact integer grid vs
    // the purchase rate per bin — ONE hash agg onto <= 10 rows
    "q_calibration" -> ((s, dir) =>
      CoreOps.calibrationCurve(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "cents", col("event_type") === "purchase", 0L, 50000L, 10)),
    // the curve's REPAIR: isotonic (PAV) calibration by the relational
    // minimax identity — the best monotone fit to the same bins, no
    // sequential merge loop anywhere
    "q_isotonic" -> ((s, dir) =>
      CoreOps.isotonicCalibration(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "cents", col("event_type") === "purchase", 0L, 50000L, 10)),
    // map each event type's spend distribution onto the global one:
    // rank-exact quantile normalization — the target rank ⌈r·N/n⌉ is
    // integer arithmetic, the lookup a rank-cell equi-join (rangeJoin's
    // trick in rank space), the result an actual data value
    "q_quantile_norm" -> ((s, dir) =>
      CoreOps.quantileNormalize(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", "cents", "event_id")),
    // sketch twin, fully oracle-checked (the q_outliers_approx pattern):
    // the exact qn_value plus a rank-space verdict on the
    // approx_percentile-grid estimate — the estimate never leaves the
    // engine
    "q_quantile_norm_approx" -> ((s, dir) =>
      CoreOps.quantileNormalizeChecked(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", "cents", "event_id")),
    // spend concentration across users: Gini from rank-weighted exact
    // cents sums — ranks via the bucketed prefix scan, ties provably
    // order-invariant
    "q_gini_spend" -> ((s, dir) =>
      CoreOps.giniConcentration(Tables.events(s, dir), "user_id", "value")),
    // the curve behind the Gini number: per distinct per-user spend
    // total, cumulative population share vs cumulative spend share —
    // both cumulatives on the distributed prefix scan
    "q_lorenz" -> ((s, dir) =>
      CoreOps.lorenzCurve(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("value").isNotNull)
          .groupBy(col("user_id"))
          .agg(coalesce(sum(floor(col("value") * 100).cast("long")),
            lit(0L)).as("cents")),
        "cents")),
    // Benford first-digit audit of spend amounts: leading-digit counts of
    // the cents grid vs the log10(1+1/d) law — the expected shares are
    // Scala-computed literals shared bit-for-bit by both engines (a
    // constant, never per-row transcendental math)
    "q_benford" -> ((s, dir) =>
      CoreOps.benfordFirstDigit(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "cents")),
    // quantity-weighted median price per return flag: the volume-weighted
    // center, chosen by INTEGER comparisons (2·cumW ≥ totalW) on the
    // (flag, price-cents) grid — an actual data value, never interpolated
    "q_weighted_median" -> ((s, dir) =>
      CoreOps.weightedMedian(
        Tables.lineitem(s, dir).select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          floor(col("l_quantity")).cast("long").as("qty")),
        "l_returnflag", "price_cents", "qty")),
    // hourly OHLC candles per event type on the cents grid: ONE windowless
    // hash agg — open/close via min_by/max_by on the unique (ms, event_id)
    // ordering, map-side combined
    "q_ohlc" -> ((s, dir) =>
      CoreOps.ohlcBars(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", "ts", "event_id", "cents", 3600000L)),
    // per-type event cadence: exact p50/p90 of per-user inter-event ms
    // gaps — integer gap grid, quantileProfile's trunc6'd interpolation
    "q_event_gaps" -> ((s, dir) =>
      CoreOps.interEventGaps(Tables.events(s, dir), "event_type", "user_id",
        "ts", "event_id", Seq(0.5, 0.9))),
    // spend concentration per event type, HHI form: Σ(cᵢ/T)² = Σcᵢ²/T²
    // keeps it integer to one trunc6'd division — squaring weighs the top
    // of the distribution where q_gini_spend weighs the whole rank curve
    "q_hhi" -> ((s, dir) =>
      CoreOps.hhiConcentration(Tables.events(s, dir), "event_type",
        "user_id", "value")),
    // leave-one-out target encoding of event type by value: the leakage
    // guard is in the formula — a row never sees its own target
    "q_target_encode" -> ((s, dir) =>
      CoreOps.targetEncodeLoo(
        Tables.events(s, dir).select(col("event_id"), col("event_type"),
          col("value")),
        "event_type", "value", "te")),
    // trailing 7-day distinct actives per day: the sliding distinct as a
    // bounded x7 explosion over the (user, day) grid — no window function
    "q_rolling_wau" -> ((s, dir) =>
      CoreOps.rollingActiveUsers(Tables.events(s, dir), "user_id", "ts", 7)),
    // signup-cohort LTV curves: exact cents from scan to cumulative, one
    // float division at the very end — the revenue twin of q_retention
    "q_ltv" -> ((s, dir) =>
      CoreOps.cohortValueCurve(Tables.events(s, dir), "user_id", "ts",
        "value", D)),
    // most frequent event type per user, deterministic tiebreak — the
    // per-group frequency table never ships (WindowGroupLimit)
    "q_mode" -> ((s, dir) =>
      CoreOps.modeByGroup(Tables.events(s, dir), "user_id", "event_type")),
    // per-language length winsorization on exact order statistics: rank
    // selection, not interpolation — bounds are actual data values,
    // clipped output bit-exact int64
    "q_winsorize" -> ((s, dir) =>
      CoreOps.winsorizeRank(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars")),
        "lang", "n_chars", 0.05, 0.95, "nc_w")),
    // the grouped KS: length-distribution shift between doc-id cohorts,
    // for every language in ONE fully-partitioned plan (no driver pass)
    "q_ks_by_lang" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars"))
      CoreOps.ksStatisticByGroup(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        "lang", "n_chars")
    }),
    // the grouped AUC over the same grid: typical shift per language where
    // KS reports the worst gap — run both on a drift dashboard
    "q_auc_by_lang" -> ((s, dir) => {
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("n_chars"))
      CoreOps.rankSumAucByGroup(
        d.filter(pmod(col("doc_id"), lit(2)) === 0),
        d.filter(pmod(col("doc_id"), lit(2)) === 1),
        "lang", "n_chars")
    }),
    // Kolmogorov-Smirnov max-CDF-gap on the same cents grid: catches the
    // concentrated shift (truncated tail, new mode) AUC averages away —
    // exact integer cross-products under a MAX, one division at the end
    "q_ks_shift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), floor(col("value") * 100).cast("long")
          .as("cents"))
      CoreOps.ksStatistic(
        ev.filter(pmod(col("user_id"), lit(2)) === 0),
        ev.filter(pmod(col("user_id"), lit(2)) === 1),
        "cents")
    }),
    // per-user time-weighted average event value (step interpolation):
    // the mean plain avg() gets wrong when sampling density correlates
    // with value; cents-exact weighted sums, one shuffle total
    "q_twap" -> ((s, dir) =>
      CoreOps.timeWeightedAvg(Tables.events(s, dir), "user_id", "ts",
        "event_id", "value")),
    // leakage-safe k-fold assignment: fold = md5(doc_id||salt) mod k —
    // corpus growth can never move an existing row between folds
    "q_kfold" -> ((s, dir) =>
      Sampling.kfoldAssign(Tables.documents(s, dir), "doc_id", KfoldK,
          salt = KfoldSalt)
        .select(col("doc_id"), col("fold"))),
    // per-language min-max scaling of doc length — grouped min/max
    // broadcast back, pure map, no window
    "q_minmax_norm" -> ((s, dir) =>
      CoreOps.minMaxNormalize(Tables.documents(s, dir), "lang", "n_chars",
        "nc_norm")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("nc_norm"))),
    // which event types co-occur in the same session beyond chance:
    // basketLift composed over sessionize — baskets are sessions
    "q_session_lift" -> ((s, dir) => {
      val sess = CoreOps.sessionize(
        Tables.events(s, dir).filter(col("ts").isNotNull), "user_id", "ts",
        "event_id", D)
      Graph.basketLift(
        sess.select(concat(col("user_id"), lit(":"), col("session_seq"))
          .as("bk"), col("event_type")),
        "bk", "event_type", LiftSupport, SessLiftMaxTypes)
    }),
    // 2-D Pareto frontier of (recency, value): the distributed suffix-max
    // scan replaces the naive all-pairs NOT EXISTS — dominance is
    // comparison-only, so doubles stay engine-exact
    "q_skyline" -> ((s, dir) =>
      CoreOps.skylineMax2D(
        Tables.events(s, dir).select(col("event_id"),
          unix_millis(col("ts")).as("ms"), col("value")),
        "ms", "value")),
    // per-customer coverage of 30-day order-validity intervals: islands
    // from one keyed ordered window scan, never an overlap self-join
    "q_coverage" -> ((s, dir) =>
      CoreOps.intervalUnionLength(
        Tables.orders(s, dir).select(col("o_custkey"),
            unix_millis(col("o_orderdate").cast("timestamp")).as("iv_start"))
          .withColumn("iv_end", col("iv_start") + lit(30L * D)),
        "o_custkey", "iv_start", "iv_end")),
    // first-touch attribution: every purchase credited to the first event
    // of its session — session firsts via map-side min_by, never a
    // per-session sort
    "q_attribution" -> ((s, dir) =>
      CoreOps.firstTouchAttribution(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", D, col("event_type") === "purchase")),
    // integer fixed-point PageRank over the bidirected supplier-part
    // co-sourcing graph: 5 synchronous iterations, every division
    // integral, so the scaled ranks are bit-identical to the oracle's
    // unrolled CTE iterations
    // long node ids — suppliers at 2k, parts at 2k+1 (disjoint, and the
    // per-round joins/aggs shuffle 8-byte keys, never strings); the rank
    // frame and the residual gauge share ONE memoized fixpoint prefix
    "q_pagerank" -> ((s, dir) => pagerankShared(s, dir)._1),
    // "was PrIters enough?" — the L1 residual between the last two
    // integer rounds, one summary row; same bit-exact arithmetic, so the
    // oracle reproduces it from the unrolled CTE digit for digit
    "q_pagerank_residual" -> ((s, dir) => pagerankShared(s, dir)._2),
    // HITS over the DIRECTED supplier→part sourcing edges: suppliers are
    // hubs, parts authorities — the two-sided importance PageRank's
    // bidirected walk conflates; sum-normalized integer half-steps, so
    // the oracle's unrolled CTE reproduces every score bit-for-bit; the
    // score frame and the convergence gauge share ONE memoized fixpoint
    "q_hits" -> ((s, dir) => hitsShared(s, dir)._1),
    // "was HitsIters enough?" — L1 movement of BOTH score vectors
    // between the last two rounds, one summary row off the same fixpoint
    "q_hits_residual" -> ((s, dir) => hitsShared(s, dir)._2),
    // community detection: fixed-round synchronous label propagation
    // over the undirected co-sourcing graph — most-frequent neighbor
    // label, min-label ties, all integer argmins, so the oracle's
    // unrolled CTE reproduces the partition bit-for-bit; the labels
    // double as canonical community representatives
    "q_communities" -> ((s, dir) => lpaShared(s, dir)._1),
    // the generative tier composed with its own gauge: Newman modularity
    // of the LPA partition on the same graph — "did propagation find
    // real structure?" in one exact-integer summary row
    "q_communities_modularity" -> ((s, dir) =>
      Graph.modularityOn(undLayoutShared(s, dir),
        lpaShared(s, dir)._1, "node", "label")),
    // "did LpaIters rounds settle?" — the count of nodes whose label
    // still changed in the last round, off the same shared run (LPA's
    // residual; a persistent nonzero on this bipartite graph is the
    // documented 2-cycle)
    "q_communities_moved" -> ((s, dir) => lpaShared(s, dir)._2),
    // weighted community detection: each neighbor's vote counted with its
    // lineitem co-sourcing multiplicity (a pair sourced 40 times out-votes
    // three sourced once) — exact integer weight sums, same min-label ties
    "q_communities_weighted" -> ((s, dir) => lpaWeightedShared(s, dir)),
    // per-community quality card keyed by the shared q_communities run:
    // size, intra edges/weight, weighted cut, and conductance — "is this
    // community real structure?" in one row per label
    "q_community_card" -> ((s, dir) =>
      Graph.communityCardFrom(coWeightedUndShared(s, dir),
        lpaShared(s, dir)._1, "node", "label")),
    // the same card keyed by the WEIGHTED partition — does multiplicity-
    // aware voting cut less co-sourcing weight than unweighted LPA?
    "q_community_card_weighted" -> ((s, dir) =>
      Graph.communityCardFrom(coWeightedUndShared(s, dir),
        lpaWeightedShared(s, dir), "node", "label")),
    // weighted Newman modularity of the weighted partition — grading a
    // multiplicity-aware vote on a multiplicity-aware score (the
    // q_communities_modularity composition, weighted end to end)
    "q_communities_weighted_modularity" -> ((s, dir) =>
      Graph.modularityWeighted(coSourcingWeighted(s, dir), "src", "dst",
        "w", lpaWeightedShared(s, dir), "node", "label")),
    // personalized PageRank: teleport mass restarts only at the audited
    // seed suppliers (the q_bfs_dist seed set), so scores rank the whole
    // graph by proximity-weighted reachability FROM them — the
    // trust-propagation twin of q_bfs_dist's hop distances, same
    // bit-exact integer rounds as q_pagerank with a CASE'd base
    "q_ppr" -> ((s, dir) =>
      Graph.pagerankPersonalizedOn(prLayoutShared(s, dir),
        Tables.lineitem(s, dir)
          .filter(pmod(col("l_suppkey"), lit(BfsSeedMod)) === 0)
          .select((col("l_suppkey") * 2).as("node")).distinct(),
        PrIters, PrScale)),
    // mass flows with co-sourcing FREQUENCY, not uniformly per neighbor:
    // weighted PageRank over (supplier, part) edges weighted by lineitem
    // multiplicity — same bit-exact integer rounds, oracle unrolled
    "q_pagerank_weighted" -> ((s, dir) =>
      Graph.pagerankWeightedOn(wprLayoutShared(s, dir), WprIters, PrScale)),
    // density skeleton: nodes surviving KcoreRounds synchronous k-core
    // peels of the co-sourcing graph, with their within-core degree —
    // pure integer comparisons, every round mirrored by the oracle
    "q_kcore" -> ((s, dir) =>
      Graph.kcoreSurvivorsOn(undLayoutShared(s, dir),
        KcoreK, KcoreRounds)),
    // multi-source BFS hop distances from every 50th supplier over the
    // bidirected sourcing graph, capped at BfsRounds — pure integer
    // min/+1 relaxation, nodes beyond the cap absent by contract
    "q_bfs_dist" -> ((s, dir) =>
      Graph.bfsDistancesOn(prLayoutShared(s, dir),
        Tables.lineitem(s, dir)
          .filter(pmod(col("l_suppkey"), lit(BfsSeedMod)) === 0)
          .select((col("l_suppkey") * 2).as("node")).distinct(),
        BfsRounds)),
    // sampled harmonic centrality from the SAME seed set: per node,
    // Σ 10⁶ div d(seed, node) over the per-seed distance fields — the
    // disconnection-safe closeness a 100 TB graph can actually afford.
    // harmonic and betweenness run on the same seeds at the same hop
    // cap, so the per-seed BFS is memoized (centDistShared) and the two
    // queries pay for it once
    "q_harmonic" -> ((s, dir) =>
      Graph.harmonicCentralityFrom(centDistShared(s, dir))),
    // sampled Brandes betweenness from the same seeds: σ forward, δ
    // backward over each seed's shortest-path DAG, every δ term a
    // truncating decimal div to ppm — the bridge/broker gauge degree
    // and PageRank both miss; shares centDistShared's BFS
    "q_betweenness" -> ((s, dir) =>
      Graph.betweennessSampledFromOn(centDistShared(s, dir),
        prLayoutShared(s, dir), CentRounds)),
    // how good is the tokens-per-char line? — per-language quantiles of
    // the absolute residual against q_regression's own fit: the
    // coefficients (trunc6'd, engine-identical) broadcast back onto the
    // rows, |y − ŷ| through the exact percentile path
    "q_residuals" -> ((s, dir) => {
      val base = Tables.documents(s, dir)
        .filter(col("lang").isNotNull)
        .withColumn("n_tokens",
          size(TextOps.tokens(col("text"))).cast("long"))
        .filter(col("n_chars").isNotNull && col("n_tokens").isNotNull)
      val fit = CoreOps.exactRegression(base, "lang", "n_chars", "n_tokens")
        .filter(col("slope").isNotNull)
      base.join(broadcast(fit), Seq("lang"))
        .withColumn("_aerr",
          abs(col("n_tokens").cast("double")
            - (col("intercept") + col("slope") * col("n_chars").cast("double"))))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          (floor(percentile(col("_aerr"), lit(0.5)) * 1000000d) / 1000000d)
            .as("p50_abs_err"),
          (floor(percentile(col("_aerr"), lit(0.9)) * 1000000d) / 1000000d)
            .as("p90_abs_err"))
    }),
    // least-squares tokens-per-char line per language — same exact
    // moment-sum determinism as q_corr
    "q_regression" -> ((s, dir) =>
      CoreOps.exactRegression(
        Tables.documents(s, dir).withColumn("n_tokens",
          size(TextOps.tokens(col("text"))).cast("long")),
        "lang", "n_chars", "n_tokens")),
    // price on quantity CONTROLLING for discount: two-regressor OLS via
    // Cramer's rule on the exact-decimal 3×3 Gram moments — the fixed
    // double chain mirrored operand-for-operand in the oracle
    "q_regression2" -> ((s, dir) =>
      CoreOps.exactRegression2(
        Tables.lineitem(s, dir)
          .withColumn("price_cents",
            floor(col("l_extendedprice") * 100).cast("long"))
          .withColumn("qty", floor(col("l_quantity")).cast("long"))
          .withColumn("disc_pct",
            floor(col("l_discount") * 100).cast("long")),
        "l_returnflag", "price_cents", "qty", "disc_pct")),
    // decile assignment within language by doc length — ntile semantics
    // over the full deterministic (n_chars, doc_id) order, computed by the
    // distributed keyed rank (ntileKeyed): lang is a handful of values, so
    // an actual ntile window would one-task-sort each language's whole
    // frame at scale. nullsLast matches the oracle's DuckDB ASC default
    "q_ntile" -> ((s, dir) =>
      CoreOps.ntileKeyed(
        Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars")),
        col("lang"), col("n_chars"), "doc_id", 10, "decile",
        nullsLast = true)),
    // Count-Min heavy hitters: per-event-type estimates from one fixed-size
    // mergeable sketch (custom TypedImperativeAggregate, md5 cells the
    // oracle rebuilds cell-for-cell)
    "q_heavy_hitters" -> ((s, dir) =>
      CoreOps.heavyHittersCms(Tables.events(s, dir), "event_type",
        CmsD, CmsW)),
    // high-cardinality form: candidates come from keyProfile's bounded
    // top-N (TakeOrderedAndProject), NOT a full distinct over user_id —
    // the exact n_events rides along as a sketch-error gauge
    "q_heavy_hitters_hot" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      // NULL keys are excluded BEFORE the top-N so the candidate cut
      // matches the sketch's NULL-skipping insert semantics
      CoreOps.heavyHittersCms(ev, "user_id", CmsD, CmsW,
        CoreOps.keyProfile(ev.filter(col("user_id").isNotNull),
          "user_id", HotKeyTopN))
    }),
    // per-user ordered journey: first 20 events as a '>'-joined sequence —
    // WindowGroupLimit caps a hot key's shipped rows at 20 before the
    // exchange
    "q_user_journey" -> ((s, dir) =>
      CoreOps.eventSequence(Tables.events(s, dir), "user_id", "ts",
        "event_id", "event_type", JourneyMax)),
    // semi-structured extraction: the JSON props column's k value, bucketed
    // — get_json_object runs inside codegen; the scan prunes to 2 columns
    "q_json_extract" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy((col("k") % 10).as("k_mod"))
        .agg(count(lit(1)).as("n_events"),
          CoreOps.exactSum(col("value")).as("total_value"))),
    // bigram LM table: p(w2|w1) for the top-100 bigrams — prefix totals via
    // a window over POST-aggregation vocab rows, never the corpus
    "q_bigram_lm" -> ((s, dir) =>
      TextOps.bigramLm(Tables.documents(s, dir), "text", 100)),
    // corpus character histogram (top 50) — the char-level tokenizer
    // trainer's input table
    "q_char_hist" -> ((s, dir) =>
      TextOps.charHistogram(Tables.documents(s, dir), "text", 50)),
    // out-of-vocabulary rate vs the top-100 bigram vocabulary — the novelty
    // signal next to q_repetition's boilerplate signal
    "q_oov" -> ((s, dir) =>
      TextOps.oovRate(Tables.documents(s, dir), "doc_id", "text", 2, 100)),
    // leakage-safe train/val/test assignment: md5 hash bands, so a row's
    // split never changes as the corpus grows
    "q_split_assign" -> ((s, dir) =>
      Sampling.splitAssign(Tables.documents(s, dir), "doc_id", SplitFracs,
          salt = SplitSalt)
        .select(col("doc_id"), col("split"))),
    // per-event trailing feature windows: 1-hour and 1-day behavioral
    // aggregates as of each event, one keyed exchange for both widths
    "q_rolling_features" -> ((s, dir) =>
      CoreOps.rollingFeatures(Tables.events(s, dir), "user_id", "ts", "value",
          Seq(3600, 86400))
        .select(col("event_id"), col("user_id"),
          col("cnt_3600s"), col("sum_3600s"),
          col("cnt_86400s"), col("sum_86400s"))),

    // staged conversion funnel: users whose earliest view precedes a later
    // click precedes a later purchase, with the stage times — every join
    // lands on the same user_id partitioning
    "q_funnel" -> ((s, dir) =>
      CoreOps.funnel(Tables.events(s, dir), "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))),
    // the funnel as a decision-grade report: per-transition conversion
    // rate with its Wilson 95% interval (exact counts from a NULL-
    // carrying left-join chain, one fixed double chain per row, z as the
    // literal 1.96/3.8416 on both engines)
    "q_funnel_ci" -> ((s, dir) =>
      CoreOps.funnelReport(Tables.events(s, dir), "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))),
    // the same funnel under a 24h per-stage conversion deadline — the
    // attribution-window form; all-integer ms comparisons
    "q_funnel_timed" -> ((s, dir) =>
      CoreOps.funnelTimed(Tables.events(s, dir), "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"), 86400000L)),
    // the flatMapGroupsWithState form vs the SAME oracle: in batch mode each
    // key's events arrive in one sorted invocation, so the state walk equals
    // the join-chain exactly
    "q_funnel_stream" -> ((s, dir) => {
      val ke = graft.streaming.StateMachines.keyedEvents(Tables.events(s, dir),
        col("user_id"), unix_millis(col("ts")), col("event_id"), col("event_type"))
      graft.streaming.StateMachines.funnelStages(ke, Seq("view", "click", "purchase"))
        .select(col("key").cast("long").as("user_id"),
          element_at(col("times"), 1).as("t0"),
          element_at(col("times"), 2).as("t1"),
          element_at(col("times"), 3).as("t2"))
    }),
    // the timed state machine in batch mode vs the SAME deadline oracle
    "q_funnel_timed_stream" -> ((s, dir) => {
      val ke = graft.streaming.StateMachines.keyedEvents(Tables.events(s, dir),
        col("user_id"), unix_millis(col("ts")), col("event_id"), col("event_type"))
      graft.streaming.StateMachines.funnelStages(ke,
          Seq("view", "click", "purchase"), maxGapMs = Some(86400000L))
        .select(col("key").cast("long").as("user_id"),
          element_at(col("times"), 1).as("t0"),
          element_at(col("times"), 2).as("t1"),
          element_at(col("times"), 3).as("t2"))
    }),
    // pivot: one count column per event type, one hash agg (the explicit
    // value list keeps the schema static — mandatory on a stream, and at
    // scale it skips the extra distinct-values job)
    "q_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L)),
    // rollup: revenue at (returnflag, linestatus), per-flag subtotal, grand
    // total in ONE pass — Spark expands grouping sets inside a single
    // partial-agg'd exchange instead of three scans
    "q_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("long").as("g_flag"),
          grouping(col("l_linestatus")).cast("long").as("g_status"),
          count(lit(1)).as("n_items"),
          CoreOps.exactSum(col("l_extendedprice")).as("revenue"))),

    // ── extensions: multimodal binary columns ─────────────────────────────
    "q_multimodal_meta" -> ((s, dir) =>
      Multimodal.imageMeta(
        Tables.documents(s, dir).withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
        "doc_id", "img")),
    "q_multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeImagesStub(
        Tables.documents(s, dir).withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
        "doc_id", "img").toDF()),
    // video-shaped frame decimation: every 2nd 8-byte frame as its own row
    "q_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(
        Tables.documents(s, dir).withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
        "doc_id", "img", 8, 2)),
    // VIDEO-level near-dup: pairs sharing >= 2 distinct 8-byte-frame
    // dHash signatures — the scene-containment test above q_image_dups'
    // whole-payload match; closes object-level dedup across all three
    // modalities
    "q_video_dups" -> ((s, dir) =>
      Multimodal.videoDupPairs(
        Tables.documents(s, dir).withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
        "doc_id", "img", 8, 1, 2L)),
    // audio-style per-frame energy over the same binary payloads: 8-byte
    // frames of unsigned samples, integer Σ|b−128| energy + a silence
    // flag — REAL byte math on the binary column, replayed hex-for-hex
    "q_audio_energy" -> ((s, dir) =>
      Multimodal.energyProfile(
        Tables.documents(s, dir).withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
        "doc_id", "img", 8, 64)),
    // cut the dead air: per payload, first/last non-silent frame and the
    // kept range — all-silent clips emit NULL bounds, kept 0
    "q_audio_trim" -> ((s, dir) =>
      Multimodal.silenceTrim(
        Multimodal.energyProfile(
          Tables.documents(s, dir).withColumn("img",
            Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
          "doc_id", "img", 8, 64),
        "doc_id")),
    // shot-boundary first-difference detector: full frames whose energy
    // jumps > 200 against the previous frame
    "q_scene_changes" -> ((s, dir) =>
      Multimodal.sceneChanges(
        Multimodal.energyProfile(
          Tables.documents(s, dir).withColumn("img",
            Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
          "doc_id", "img", 8, 64),
        "doc_id", 8, 200L)),
    // the modality-mix curation stat: per (source, container format)
    // exact counts + within-source share — what a mixture-weight
    // decision reads on a multimodal corpus
    "q_modality_mix" -> ((s, dir) =>
      Multimodal.modalityMix(
        Tables.documents(s, dir)
          .withColumn("img",
            Multimodal.fakeImageBytes(col("text"), col("doc_id")))
          .select(col("source"),
            Multimodal.sniffFormat(col("img")).as("format")),
        "source", "format")),
    // the image↔caption join shape: typed payload metadata joined on the
    // id to caption token counts, folded per format with the exact
    // integral tokens-per-byte density gauge
    "q_image_caption_join" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id")))
      Multimodal.captionProfile(docs, "doc_id", "img",
        TextOps.tokens(col("text")))
    }),
    // image near-dup pairs: 60-bit byte-grid dHash, 3×20-bit Hamming-LSH
    // bands (pigeonhole recall at <=2 differing bits), exact Hamming
    // verify — the binary-column twin of q_simhash_jaccard; the oracle
    // replays the byte arithmetic on the hex text
    // dedup across the THIRD modality: audio near-dup pairs by the
    // sign-of-energy-difference fingerprint (energySig over 1-byte
    // frames) under the shared 3×20-bit Hamming banding + exact verify
    "q_audio_dups" -> ((s, dir) => audioDupPairsShared(s, dir)),
    // the audio pair graph under the q_dup_clusters transitive closure
    "q_audio_dup_clusters" -> ((s, dir) => audioDupClustersShared(s, dir)),
    "q_image_dups" -> ((s, dir) => imageDupPairsShared(s, dir)),
    // the pairs under the SAME pointer-jumping transitive closure the
    // text and embedding tiers use — pure composition, memoized (the
    // closure is a convergence loop, not a lazy plan)
    "q_image_dup_clusters" -> ((s, dir) => imageDupClustersShared(s, dir)),

    // ── extensions: classifier-evaluation tier (Eval) ─────────────────────
    // multinomial Naive Bayes resubstitution: are the lang labels even
    // self-consistent under a bag-of-tokens model? qlog-exact scores,
    // argmax ties toward the largest label (the languageId convention)
    "q_naive_bayes" -> ((s, dir) => nbPredictions(s, dir)),
    // confusion matrix over the NB predictions — which languages bleed
    // into which (one O(classes²) count shuffle over the shared frame)
    "q_confusion" -> ((s, dir) =>
      Eval.confusionMatrix(nbPredictions(s, dir), "lang_true", "lang_pred")),
    // per-class precision/recall/F1 from exact one-vs-rest counts
    "q_prf1" -> ((s, dir) =>
      Eval.classMetrics(nbPredictions(s, dir), "lang_true", "lang_pred")),
    // chance-corrected agreement between the labels and the NB relabeling
    "q_kappa" -> ((s, dir) =>
      Eval.cohenKappa(nbPredictions(s, dir), "lang_true", "lang_pred")),
    // the model-promotion gate: McNemar's paired test between the NB
    // relabeling and the stopword-hit heuristic on the SAME docs — only
    // the discordant cells carry evidence; continuity-corrected χ²₁
    // statistic in exact ppm
    "q_mcnemar" -> ((s, dir) =>
      Eval.mcnemar(
        nbPredictions(s, dir)
          .select(col("doc_id"), col("lang_true"),
            col("lang_pred").as("pred_nb"))
          .join(TextOps.languageId(Tables.documents(s, dir), "doc_id",
              "text", langProfiles)
              .select(col("doc_id"), col("lang_pred").as("pred_heur")),
            Seq("doc_id")),
        "lang_true", "pred_nb", "pred_heur")),
    // the omnibus gate ABOVE the pairwise McNemars: Cochran's Q across
    // THREE classifiers on the same docs — NB, the stopword heuristic,
    // and the always-modal-language prior baseline (count DESC, lang ASC
    // deterministic mode; a 1-row broadcast)
    "q_cochran_q" -> ((s, dir) => {
      val nb = nbPredictions(s, dir)
        .select(col("doc_id"), col("lang_true"),
          col("lang_pred").as("pred_nb"))
      val prior = nb.filter(col("lang_true").isNotNull)
        .groupBy(col("lang_true")).agg(count(lit(1)).as("_c"))
        .orderBy(col("_c").desc, col("lang_true").asc).limit(1)
        .select(col("lang_true").as("pred_prior"))
      Eval.cochranQ(
        nb.join(TextOps.languageId(Tables.documents(s, dir), "doc_id",
            "text", langProfiles)
            .select(col("doc_id"), col("lang_pred").as("pred_heur")),
          Seq("doc_id"))
          .crossJoin(broadcast(prior)),
        "lang_true", Seq("pred_nb", "pred_heur", "pred_prior"))
    }),
    // multi-rater chance-corrected agreement: each user's first 5 events
    // read as 5 "ratings" of that user-item, category = event_type;
    // users with fewer than 5 events drop (Fleiss needs constant arity)
    "q_fleiss_kappa" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      val rated = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= 5)
      val full = rated.groupBy(col("user_id"))
        .agg(count(lit(1)).as("_c")).filter(col("_c") === 5)
      Eval.fleissKappa(
        rated.join(full.select(col("user_id")), Seq("user_id"),
          "left_semi"),
        "user_id", "event_type")
    }),
    // the varying-arity agreement gauge: same ratings WITHOUT the
    // constant-arity filter — Krippendorff pairs whatever arrived
    // (single-rating users excluded as unpairable, the standard rule)
    "q_krippendorff" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
      Eval.krippendorffAlpha(
        Tables.events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"))
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") <= 5),
        "user_id", "event_type")
    }),
    // ROC of the "long documents are English" rule: exact TP/FP at every
    // achievable threshold, cumulatives through the distributed prefix
    // scan (never an unpartitioned window)
    "q_roc" -> ((s, dir) =>
      Eval.rocCurve(Tables.documents(s, dir), "n_chars",
        col("lang") === "en")),
    // the PR-curve one-number for the same rule: step-interpolated
    // average precision over distinct thresholds — exact integer terms
    // (p_t·TP_t·1e6) div N_t through the same bucket prefix scan; the
    // imbalance-honest companion to ROC-AUC
    "q_avg_precision" -> ((s, dir) =>
      Eval.averagePrecision(Tables.documents(s, dir), "n_chars",
        col("lang") === "en")),
    // Adamic-Adar link prediction on the co-sourcing graph: hub middles
    // past AaMaxDeg are excluded BEFORE the wedge join (1/ln(deg) weight
    // vanishes exactly where the join would blow up), so at this corpus
    // the surfaced pairs are supplier-supplier co-purchase predictions
    // through part middles (deg ≤ ~41). AA and neighbor-Jaccard rank the
    // SAME candidate pair frame — the wedge join runs once
    // (commonNeighborStatsOn, memoized+persisted) and each query is its
    // own TakeOrderedAndProject over it
    "q_adamic_adar" -> ((s, dir) =>
      Graph.adamicAdarFrom(commonNeighborShared(s, dir), AaTopN)),
    // the size-normalized sibling: what FRACTION of the combined
    // neighborhoods is shared — endpoint degrees exact, middles capped
    // before the wedge join like AA; same shared pair frame
    "q_neighbor_jaccard" -> ((s, dir) =>
      Graph.neighborJaccardFrom(commonNeighborShared(s, dir), AaTopN)),
    // TPC-H Q15 shape (top supplier by quarter revenue): grouped exact
    // cents, the max rides back as a 1-row broadcast, the tie-safe
    // equality compares the DECIMAL cents (never the derived double),
    // supplier dim broadcast
    "q_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp")
          && col("l_shipdate") < lit("1995-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * 100).cast("decimal(28,0)")).as("_cents"))
        .localCheckpoint(true) // feeds both the max and the equality filter
      rev.crossJoin(broadcast(rev.agg(max(col("_cents")).as("_mx"))))
        .filter(col("_cents") === col("_mx"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("_cents").cast("double") / 100).as("total_revenue"))
    }),
    // online mean-shift detection: the Page-Hinkley walk per user with
    // detect-and-restart — integer floor-div mean, O(1) state per key,
    // batch-run vs the recursive-CTE replay of the identical arithmetic
    "q_ph_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull
          && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      graft.streaming.StateMachines.pageHinkley(
          graft.streaming.StateMachines.valuedEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("cents")),
          PhDelta, PhLambda)
        .select(col("key").cast("long").as("user_id"),
          col("tiebreak").as("event_id"), col("alarm_ms"),
          col("n_events"), col("ph"), col("ph_min"))
    }),
    // outlier-proof volume trend: Theil-Sen median pairwise slope over
    // the per-day counts (all-pairs BY DEFINITION — contracts to the
    // post-aggregation series, fail-loud maxPoints probe), truncating
    // div-quantized slopes (DuckDB `//` parity), exact rank medians
    "q_theil_sen" -> ((s, dir) =>
      CoreOps.theilSen(
        Tables.events(s, dir).filter(col("ts").isNotNull)
          .groupBy(expr("unix_millis(ts) div 86400000").as("day"))
          .agg(count(lit(1)).as("n_events")),
        "day", "n_events")),
    // continuous PSI monitoring, batch-run: per-day event-mix stability
    // against the whole corpus's mix — ONE CategoryCountAgg aggregation,
    // baseline folded in as a plan literal (the q_kl_by_window pattern
    // with the industry drift score)
    "q_psi_by_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
      graft.streaming.StreamOps.windowedPsi(ev, "event_type", "ts",
        "1 day", "0 seconds", ev, "event_type")
    }),
    // the bounded symmetric companion, batch-run: per-day Hellinger of
    // the event mix against the corpus baseline — the q_psi_by_window
    // shape with the smoothing-free √-term algebra, H ∈ [0,1]
    "q_hellinger_by_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
      graft.streaming.StreamOps.windowedHellinger(ev, "event_type", "ts",
        "1 day", "0 seconds", ev, "event_type")
    }),
    // continuous windowed JSD against the whole-corpus mix — the bounded
    // smoothing-free companion on the same one-aggregation shape; the
    // streaming twin is parity-pinned in StreamingParitySpec
    "q_jsd_by_window" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("event_type").isNotNull)
      graft.streaming.StreamOps.windowedJsd(ev, "event_type", "ts",
        "1 day", "0 seconds", ev, "event_type")
    }),
    // per-node triangle membership and local clustering — which nodes sit
    // in tight co-sourcing pockets vs bridge strangers; every triangle
    // closed once from its lowest-degree corner, then credited to all
    // three corners
    "q_local_clustering" -> ((s, dir) =>
      Graph.localClusteringOn(undLayoutShared(s, dir))),
    // split-conformal interval: md5-split halves, per-type integer-mean
    // predictor from the calibration half, exact rank-selected conformal
    // radius, realized test coverage — all integers until the final ratio
    "q_conformal" -> ((s, dir) =>
      Eval.conformalInterval(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_type", "cents", "event_id")),
    // credit-scoring encoder: per-source weight of evidence for English,
    // add-one smoothed, every log a qlog BIGINT
    "q_woe" -> ((s, dir) =>
      InfoTheory.weightOfEvidence(
        Tables.documents(s, dir).filter(col("lang").isNotNull),
        "source", col("lang") === "en")),
    // the one-number WOE summary (information value): exact decimal term
    // sums, one fixed double chain at the end
    "q_iv" -> ((s, dir) =>
      InfoTheory.informationValue(
        Tables.documents(s, dir).filter(col("lang").isNotNull),
        "source", col("lang") === "en")),
    // population stability of the spend-decile distribution between
    // even/odd user cohorts — the model-monitoring drift score; buckets
    // on the exact make-divisible grid (the calibrationCurve binning)
    "q_psi" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull && col("user_id").isNotNull)
        .withColumn("cents", floor(col("value") * 100).cast("long"))
      val num = col("cents") * 10L
      val bucket = least(greatest(
        ((num - pmod(num, lit(50000L))) / lit(50000L)).cast("long"),
        lit(0L)), lit(9L))
      InfoTheory.psi(ev.select(bucket.as("spend_bucket"), col("user_id")),
        "spend_bucket", pmod(col("user_id"), lit(2)) === 0)
    }),
    // deterministic Poisson bootstrap: 32 resample means from ONE
    // partial-agg'd pass (md5-drawn multiplicities, no row fan-out),
    // exact-percentile CI over the means
    "q_bootstrap_ci" -> ((s, dir) =>
      Sampling.bootstrapMeanCI(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "event_id", "cents")),
    // AMS/CM equi-join cardinality: two fixed-size md5-cell sketches, the
    // inner-product estimate next to the exact audit it replaces at
    // 100 TB, and the (est − exact)·w ≤ 3·n_a·n_b gauge
    "q_join_size" -> ((s, dir) =>
      CoreOps.joinSizeEstimate(Tables.events(s, dir), "user_id",
        Tables.orders(s, dir), "o_custkey", CmsD, CmsW)),
    // field-level survivorship per dup cluster (the MDM golden record):
    // longest text + its owner as rep_id, majority lang, min source;
    // singletons survive as themselves
    "q_golden_record" -> ((s, dir) =>
      Dedup.goldenRecord(
        Tables.documents(s, dir).select(col("doc_id"), col("text"),
          col("lang"), col("source")),
        "doc_id", dupClustersShared(s, dir), "text", "lang", "source")),
    // the operating point the ROC curve exists to pick: exact integer
    // argmax of J·P·N = n_tp·N − n_fp·P, ties toward the largest threshold
    "q_youden" -> ((s, dir) =>
      Eval.youdenPoint(Tables.documents(s, dir), "n_chars",
        col("lang") === "en")),
    // cumulative gains/lift at ten coverage targets over the same
    // ranking: exact integer target ceilings, the pick a min over the
    // strictly increasing cumulative count
    "q_gains" -> ((s, dir) =>
      Eval.gainsTable(Tables.documents(s, dir), "n_chars",
        col("lang") === "en", 10)),
    // the calibration curve folded to its one number: the per-bin gap
    // collapses to |n_pos·width − (S − lo·n)| exact integers, one final
    // division (same binning and inputs as q_calibration)
    "q_ece" -> ((s, dir) =>
      Eval.expectedCalibrationError(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "cents", col("event_type") === "purchase", 0L, 50000L, 10)),
    // ECE's proper-scoring companion on the same forecast grid: mean
    // squared probability error as one exact integer sum — charges for
    // inseparability, not just miscalibration
    "q_brier" -> ((s, dir) =>
      Eval.brierScore(
        Tables.events(s, dir).withColumn("cents",
          floor(col("value") * 100).cast("long")),
        "cents", col("event_type") === "purchase", 0L, 50000L)),
    // the per-language form: WHICH segment's token distribution moved —
    // one (lang, token) count shuffle, O(langs) output
    "q_hellinger_by_lang" -> ((s, dir) =>
      InfoTheory.hellingerDriftByGroup(
        Tables.documents(s, dir).select(col("lang"), col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "lang", "tok", pmod(col("doc_id"), lit(2)) === 0)),
    // Jensen-Shannon divergence on the same even/odd token split —
    // symmetric AND bounded (≤ ln 2) AND smoothing-free: the mixture
    // dominates both sides, so zero-count categories contribute exactly
    // 0 instead of an add-one distortion; two exact partial sums (one
    // per denominator), one fixed double chain out
    "q_jsd" -> ((s, dir) =>
      InfoTheory.jsDivergence(
        Tables.documents(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "tok", pmod(col("doc_id"), lit(2)) === 0)),
    // per-language JSD — which segment moved, on the bounded
    // no-smoothing scale; margins ride PARTITIONED window sums over the
    // O(cells) count table
    "q_jsd_by_lang" -> ((s, dir) =>
      InfoTheory.jsDivergenceByGroup(
        Tables.documents(s, dir).select(col("lang"), col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "lang", "tok", pmod(col("doc_id"), lit(2)) === 0)),
    // bounded symmetric drift between the even/odd doc-half token
    // distributions — klDrift's companion, zero-count-safe so no
    // smoothing distortion; every √ term floored at 10⁻⁶ on exact
    // integer products
    "q_hellinger" -> ((s, dir) =>
      InfoTheory.hellingerDrift(
        Tables.documents(s, dir).select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "tok", pmod(col("doc_id"), lit(2)) === 0)),
    // do embedding near-dups stay within their label? Newman modularity
    // of the label partition on the cosine-dup pair graph — exact
    // integer Q·4m², one trunc6'd division
    "q_modularity" -> ((s, dir) =>
      Graph.modularity(
        Similarity.cosineDupPairs(Tables.embeddings(s, dir), "vec_id",
          "embedding", EmbDims, LshPlanes, 0.3),
        "doc_a", "doc_b",
        Tables.embeddings(s, dir).select(col("vec_id"), col("label")),
        "vec_id", "label")),
    // CoreOps.latestState's streaming twin: the max-by compaction machine
    // (order-independent fold, O(1) state per key), batch-run against the
    // same row_number spec under the events-oracle NULL convention
    "q_latest_state_stream" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
      graft.streaming.StateMachines.latestSnapshots(
          graft.streaming.StateMachines.payloadEvents(ev, col("user_id"),
            unix_millis(col("ts")), col("event_id"), col("event_type"),
            col("value")))
        .select(col("key").cast("long").as("user_id"),
          col("tiebreak").as("event_id"), col("last_ms").as("ms"),
          col("kind").as("event_type"), col("value"))
    }),
  )

  // Approximate-tier parameters, shared between the Spark queries and the
  // generated oracle SQL so both engines hash with the same family.
  private val MhK = 3; private val MhBands = 8; private val MhRows = 2
  private val MhN = MhBands * MhRows
  private val BqSampleMod = 2 // blocking-audit hash-sample denominator
  private val SimBands = 3 // 60-bit simhash → 3 × 20-bit Hamming-LSH bands
  private val WinnowW = 4  // winnowing window (guarantee span = w+k-1 words)
  private val ShardCount = 8L // training-export shards (q_shard_manifest)
  private val WinnowCap = 8 // too-common fp cutoff for the capped pairs query
  private val EmbDims = 64; private val LshPlanes = 8; private val LshTables = 2
  private val RpDims = 8; private val RpOffset = 1000 // JL matrix, disjoint from LSH planes
  private val IvfNlist = 8; private val IvfNprobe = 2; private val IvfIters = 2
  private val IvfSampleMod = 4 // k-means trains on ~1/4 of the corpus + seeds
  private val PcaIters = 10    // power-iteration rounds (fixed, oracle-unrolled)
  private val BpeIters = 8     // BPE merge rounds (fixed-round, fail-loud)
  private val BpeMaxWordLen = 32 // BPE word-length cap (corpus max is 8)
  // logistic-regression quality classifier: full-gradient rounds, ppm
  // learning rate, the token-count feature cap, and the seeded label
  // rule's length threshold ("good" = long doc — the stand-in for human
  // labels the classifier must RECOVER from correlated features)
  private val LrRounds = 8; private val LrRatePpm = 20000L
  private val LrTokCap = 127L; private val LrLenThreshold = 60L
  // unigram-LM tokenizer induction: hard-EM rounds, seed inventory size,
  // word-length cap (corpus max word is 8), max piece length
  private val UniRounds = 3; private val UniSeedK = 64
  private val UniW = 12; private val UniL = 4
  private val SpanK = 6        // duplicated-substring span gram width
  private val PqM = 4 // PQ subspaces (EmbDims/PqM dims each, IvfNlist cells)
  private val ChunkWindow = 40; private val ChunkStride = 30

  /** The q_ann_cosine ranked lists with label-match relevance attached —
    * the shared input of the q_ndcg/q_mrr ranking-quality gauges: rank
    * from bruteForceTopK (score desc, id tiebreak — deterministic), rel 1
    * iff the neighbor carries the query's label (NULL labels count 0:
    * unknown ≠ relevant). Two O(queries·k)-row label joins, both sides
    * tiny against the label projection. */
  private def annLabelRelevance(emb: DataFrame): DataFrame = {
    val lab = emb.select(col("vec_id"), col("label"))
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 5)
      .join(lab.select(col("vec_id").as("query_id"),
        col("label").as("_ql")), "query_id")
      .join(lab.select(col("vec_id").as("neighbor_id"),
        col("label").as("_nl")), "neighbor_id")
      .withColumn("rel",
        when(col("_nl") === col("_ql"), 1L).otherwise(0L))
  }

  /** Deterministic out-of-order arrival simulation for the E6 twins: each
    * event is delayed by (event_id mod 5) * 30 min, so ~4/5 of rows arrive
    * out of ts order and the watermark logic has real work to do. */
  private def withArrival(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("arr_ms", unix_millis(col("ts")) + (col("event_id") % 5) * lit(1800000L))

  /** The three E6 queries (late flag / on-time count / late side output) are
    * views over the same watermark prefix-scan. Memoize the flagged frame per
    * (session, sf dir) and persist it, so a Verify/Bench run computes the
    * running max once instead of three times — the exact sharing a streaming
    * deployment gets for free from one watermarked stream feeding three
    * sinks. BENCH note: the three queries' per-query timings therefore
    * measure one shared scan + cache reads, not three independent plans —
    * comparable across rounds only as a group. Entries are evicted when
    * their session's application ends, so stopped sessions don't stay
    * strongly referenced in long-lived JVMs / test suites. */
  private val lateFlagCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def flaggedEvents(s: SparkSession, dir: String): DataFrame =
    memoPersist(lateFlagCache, s, dir)(
      StatefulTwins.withLateFlag(withArrival(s, dir), "ts", "arr_ms", "event_id", H))

  /** The three near-dup graph queries (pairs / clusters / retained corpus)
    * are views over the SAME verified pair frame — memoized and persisted
    * per (session, sf dir) like flaggedEvents, so the LSH signature pipeline
    * runs once per Verify/Bench run instead of three times. Same BENCH
    * caveat: the trio's per-query timings share one materialization. */
  private val pairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    memoPersist(pairsCache, s, dir)(
      Dedup.lshJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        MhK, MhBands, MhRows, 0.5))

  /** The exact-dedup canonical frame (fingerprint → min-id canonical +
    * copy count) — q_dedup_exact emits it whole; the funnel's gate 1
    * and the un-chained rule flags reduce it to the canonical id set.
    * One fingerprint groupBy per (session, sf dir) instead of three. */
  private val exactDedupCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def exactDedupShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(exactDedupCache, s, dir)(
      Dedup.exactDedup(Tables.documents(s, dir), "doc_id", "text"))

  /** The verified benchmark-contamination pair frame (self-overlap
    * removed) — q_decontaminate emits it whole; the funnel's gate 3 and
    * the rule flags reduce it to the flagged doc set. The winnowing +
    * containment-verify pipeline runs once per (session, sf dir). */
  private val contPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def contaminationPairsShared(s: SparkSession,
                                       dir: String): DataFrame =
    memoPersist(contPairsCache, s, dir)({
      val docs = Tables.documents(s, dir)
      Dedup.contaminationPairs(docs, docs.filter(col("doc_id") < 20),
          "doc_id", "text", MhK, WinnowW, 0.05)
        .filter(col("doc_id") =!= col("bench_id")) // the stand-in overlaps itself
    })

  /** The corpus scored under the frozen quality classifier —
    * (doc_id, score_ppm, pred); the funnel's gate 4, the rule flags,
    * and q_gate_sweep are all views over this one map-only pass. */
  private val qualityScoredCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def qualityScoredShared(s: SparkSession,
                                  dir: String): DataFrame =
    memoShared(qualityScoredCache, s, dir)(
      LogReg.score(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
          logregShared(s, dir)._2, Seq("doc_id"))
        .select(col("doc_id"), col("score_ppm"), col("pred"))
        .localCheckpoint(true))

  /** The verified 2-edit doc-head pair frame — q_fuzzy_pairs,
    * q_entity_clusters, and q_linkage_score are all views over it, so
    * candidate generation + the banded-levenshtein verify run once per
    * (session, sf dir) instead of three times (the nearDupPairs
    * convention). maxDist=2 / 24-char heads with the >= 15 length floor.
    * Round 16 (guide §1.2): built via the Pass-Join segment scheme —
    * provably the same pair set as q-gram prefix filtering (both schemes
    * are recall-complete and verify with the same banded levenshtein; the
    * brute-force DuckDB oracle pins it), at 81k candidates instead of the
    * 5-gram filter's 1.1M and with no frequency aggregate or per-string
    * ranking windows at all (measured: build 4.96 s -> per-pass segment
    * construction 1.58 s single-shot at sf0.1/32). */
  private val fuzzyPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def fuzzyPairsShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(fuzzyPairsCache, s, dir)({
      val heads = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("head"))
        .filter(length(col("head")) >= 15)
      Dedup.segmentPairs(heads, "doc_id", "head", 2)
    })

  /** The (event_type, day-of-week) contingency frame shared by q_chi2 and
    * q_cramers_v: dow from floor-division of truncated epoch-ms (engine-
    * exact integer arithmetic, mirroring the oracle's `//` and `%`). */
  private def typeByDow(s: SparkSession, dir: String): DataFrame = {
    val msCol = unix_millis(col("ts"))
    Tables.events(s, dir).select(col("event_type"),
      pmod(((msCol - pmod(msCol, lit(D))) / lit(D)).cast("long"), lit(7L))
        .as("dow"))
  }

  /** Distinct (order, part) basket rows, memoized: the co-order association
    * queries (q_basket_lift, q_triangles) share one scan + distinct. */
  private val coorderItemsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def coorderItems(s: SparkSession, dir: String): DataFrame =
    memoPersist(coorderItemsCache, s, dir)(
      Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
        .filter(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .distinct())

  /** The support-filtered co-order pair edges over those baskets, memoized:
    * the pair expansion (the basket self-join) is the dominant stage of
    * both graph queries, and the edge set they derive is identical. */
  private val coorderPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def coorderPairs(s: SparkSession, dir: String): DataFrame =
    memoPersist(coorderPairsCache, s, dir)({
      val it = coorderItems(s, dir)
      it.select(col("l_orderkey"), col("l_partkey").as("pa"))
        .join(it.select(col("l_orderkey"), col("l_partkey").as("pb")),
          Seq("l_orderkey"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= LiftSupport)
    })

  /** ONE pointer-jumping loop for ALL THREE dup-cluster graphs (text
    * near-dups, image dHash dups, audio energy dups), tagged and run via
    * Dedup.dupClustersTagged — each round's fixed cost (two joins, an
    * eager checkpoint, a convergence action) was previously paid three
    * times by three separate loops over few-hundred-edge graphs; the
    * tagged union pays it once, converging in max-over-graphs rounds.
    * Memoized AND persisted: the three per-graph views below filter it. */
  private val allClustersCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def allDupClustersShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(allClustersCache, s, dir)({
      val tagged = nearDupPairs(s, dir)
        .select(lit(0).as("_g"), col("doc_a"), col("doc_b"))
        .unionByName(imageDupPairsShared(s, dir)
          .select(lit(1).as("_g"), col("doc_a"), col("doc_b")))
        .unionByName(audioDupPairsShared(s, dir)
          .select(lit(2).as("_g"), col("doc_a"), col("doc_b")))
      Dedup.dupClustersTagged(tagged, "_g", "doc_a", "doc_b")
    })
  private def dupClustersShared(s: SparkSession, dir: String): DataFrame =
    allDupClustersShared(s, dir).filter(col("_g") === 0)
      .select(col("doc_id"), col("cluster_id"))

  /** q_pagerank and q_pagerank_residual are views over ONE fixpoint: the
    * shared prefix of rounds is eagerly checkpointed inside
    * pagerankWithResidualOn, so the residual gauge costs one extra join +
    * 1-row agg instead of a second full iteration. Same BENCH caveat as
    * nearDupPairs: the pair's per-query timings share one
    * materialization. */
  private val prPairCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def pagerankShared(s: SparkSession,
                             dir: String): (DataFrame, DataFrame) =
    memoShared(prPairCache, s, dir)(
      Graph.pagerankWithResidualOn(prLayoutShared(s, dir),
        PrIters, PrScale))

  /** The DISTINCT directed supplier→part co-sourcing edge frame (node
    * ids: suppliers 2k, parts 2k+1), localCheckpoint'd once per
    * (session, dir) and shared by the whole graph tier — ONE parquet
    * scan + ONE distinct feeds the pagerank family, q_hits, q_ppr,
    * q_bfs_dist, q_kcore and q_assortativity instead of each query
    * rebuilding it (the operators' own internal distinct/checkpoint
    * then runs over this in-memory frame, never the scan). */
  /** Shared Naive-Bayes resubstitution predictions over documents —
    * q_naive_bayes emits the frame; q_confusion / q_prf1 / q_kappa
    * aggregate it. Memoized + persisted (the pqTopKShared pattern) so the
    * token-model join runs once per Verify/Bench run; the BENCH caveat
    * applies — the family's per-query timings share one materialization. */
  private val nbCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def nbPredictions(s: SparkSession, dir: String): DataFrame =
    memoPersist(nbCache, s, dir)(
      Eval.naiveBayes(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("tok")),
        "doc_id", "tok", "lang")
        .select(col("doc_id"), col("label_true").as("lang_true"),
          col("label_pred").as("lang_pred"), col("score_scaled")))

  /** q_hits and q_hits_residual are views over ONE HITS fixpoint (the
    * pagerankShared pattern): every half-step is already checkpointed
    * inside hitsCore, so the residual gauge costs one co-keyed join +
    * 1-row agg instead of a second fixpoint. Same BENCH caveat. */
  private val hitsPairCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def hitsShared(s: SparkSession,
                         dir: String): (DataFrame, DataFrame) =
    memoShared(hitsPairCache, s, dir)(
      Graph.hitsWithResidualOn(hitsLayoutShared(s, dir),
        HitsIters, HitsScale))

  /** q_communities, q_communities_modularity and q_communities_moved are
    * views over ONE label propagation run: the final labels frame is
    * persisted (two consumers) and the movement gauge reuses the run's
    * checkpointed penultimate frame. Same BENCH caveat as nearDupPairs. */
  private val lpaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def lpaShared(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    memoShared(lpaCache, s, dir)({
      val (labels, movement) = Graph.labelPropagationWithMovementOn(
        lpaLayoutShared(s, dir), LpaIters)
      (labels.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        movement)
    })

  /** q_bpe_merges, q_bpe_apply and q_bpe_fertility are three views over
    * ONE BPE training run (the lpaShared pattern) — each would otherwise
    * re-run the whole BpeIters-round merge loop. Both artifacts persist:
    * the merge table is driver-literal-sized, the segments frame is
    * vocab-sized. */
  private val bpeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def bpeShared(s: SparkSession,
                        dir: String): (DataFrame, DataFrame) =
    memoShared(bpeCache, s, dir)({
      val (merges, segments) = TextOps.bpeLearn(Tables.documents(s, dir),
        "text", BpeIters, BpeMaxWordLen)
      (merges.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
        segments.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    })

  /** The logreg classifier's (doc_id, label, x_len, x_div) feature frame:
    * label from the seeded length rule (n_tokens >= LrLenThreshold — the
    * stand-in for a human-labeled good/bad seed set), features the model
    * sees: the capped token count and the distinct-token percentage
    * (integer div — both integral, both within LogReg's exact range). */
  private def logregFeatures(s: SparkSession, dir: String): DataFrame =
    logregFeaturesOf(Tables.documents(s, dir))

  private def logregFeaturesOf(docs: DataFrame): DataFrame =
    docs
      .filter(col("text").isNotNull)
      .withColumn("_toks", TextOps.tokens(lower(col("text"))))
      .withColumn("_nt", size(col("_toks")).cast("long"))
      .filter(col("_nt") > 0L)
      .withColumn("_nd", size(array_distinct(col("_toks"))).cast("long"))
      .select(col("doc_id"),
        when(col("_nt") >= LrLenThreshold, 1L).otherwise(0L).as("label"),
        least(col("_nt"), lit(LrTokCap)).as("x_len"),
        expr("(_nd * 100) div _nt").as("x_div"))

  /** q_logreg_train / q_logreg_score / q_logreg_eval share ONE training
    * run (the bpeShared pattern): fit's per-round history and final
    * weights are driver-local O(rounds·k) longs. */
  private val logregCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[Array[Long]], Array[Long])]
  private def logregShared(s: SparkSession,
                           dir: String): (Seq[Array[Long]], Array[Long]) =
    memoShared(logregCache, s, dir)(
      LogReg.fit(logregFeatures(s, dir), "label", Seq("x_len", "x_div"),
        LrRounds, LrRatePpm))

  /** The HELD-OUT fit: trained on doc_id % 7 != 3 only, so the %7 == 3
    * slice is a genuine test set (q_logreg_heldout). */
  private val logregHeldoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (Seq[Array[Long]], Array[Long])]
  private def logregHeldoutShared(s: SparkSession,
                                  dir: String): (Seq[Array[Long]], Array[Long]) =
    memoShared(logregHeldoutCache, s, dir)(
      LogReg.fit(
        logregFeaturesOf(Tables.documents(s, dir)
          .filter(col("doc_id") % 7 =!= 3)),
        "label", Seq("x_len", "x_div"), LrRounds, LrRatePpm))

  /** The q_unigram_* family shares ONE hard-EM training run (the
    * bpeShared pattern): final inventory frame + per-round likelihoods. */
  private val unigramCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, Seq[(Long, Long)])]
  private def unigramShared(s: SparkSession,
                            dir: String): (DataFrame, Seq[(Long, Long)]) =
    memoShared(unigramCache, s, dir)(
      Unigram.learn(Tables.documents(s, dir), "text", UniRounds, UniSeedK,
        UniW, UniL))

  /** The HELD-OUT unigram fit: inventory trained on doc_id % 7 != 3
    * only, so the %7 == 3 slice measures true LM generalization
    * (q_unigram_drift — the q_bpe_drift twin). */
  private val unigramHeldoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, Seq[(Long, Long)])]
  private def unigramHeldoutShared(s: SparkSession,
                                   dir: String): (DataFrame, Seq[(Long, Long)]) =
    memoShared(unigramHeldoutCache, s, dir)(
      Unigram.learn(Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 3),
        "text", UniRounds, UniSeedK, UniW, UniL))

  /** The FINAL inventory's Viterbi segmentation of the training word
    * vocabulary — (word, freq, pieces, best_qll, n_pieces), shared by
    * q_unigram_apply / q_unigram_fertility / docPpl so the vocab-scale
    * DP runs once per (session, dir), not once per consumer. */
  private val uniSegCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def unigramApplySeg(s: SparkSession, dir: String): DataFrame =
    memoPersist(uniSegCache, s, dir)({
      val vocab = unigramShared(s, dir)._1
      Unigram.viterbi(Unigram.words(Tables.documents(s, dir), "text", UniW),
        vocab, Unigram.zOf(vocab), UniW, UniL)
    })

  /** The curation funnel's stage frames — ingested → exact-dedup → near-
    * dup keep-first → decontaminated → classifier-kept → perplexity
    * head/middle — each a tiny (doc_id, lang, _nt) projection, eagerly
    * localCheckpointed per stage (truncates the otherwise-compounding
    * Catalyst lineage of six chained joins over four composed subsystems,
    * and runs each upstream rule exactly once). Memoized so
    * q_curation_funnel's data card and q_shard_manifest's training export
    * share ONE funnel run per (session, dir). */
  private val funnelCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Seq[(Long, String, DataFrame)]]
  /** The funnel's ppl-head doc set (terciles 1–2 of per-lang bigram-LM
    * perplexity) — the fifth gate's keep set, memoized because the gate
    * sweep re-anchors on it at every alternative quality threshold.
    * Tercile stage via the distributed keyed rank (ntileKeyed), never a
    * per-lang window sort — same values, scale-safe plan; nullsLast pins
    * the oracle's ORDER BY NULL default (moot: _npp never NULL). */
  private val pplHeadCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def pplHeadShared(s: SparkSession, dir: String): DataFrame =
    memoShared(pplHeadCache, s, dir)(
      CoreOps.ntileKeyed(
          docPpl(s, dir).withColumn("_npp", expr("nll_scaled div n_pieces")),
          col("lang"), col("_npp"), "doc_id", 3, "_b", nullsLast = true)
        .filter(col("_b") =!= 3).select(col("doc_id"))
        .localCheckpoint(true))

  private def funnelStages(s: SparkSession,
                           dir: String): Seq[(Long, String, DataFrame)] =
    memoShared(funnelCache, s, dir) {
      val all = Tables.documents(s, dir)
      val s0 = all.filter(col("text").isNotNull)
        .select(col("doc_id"), col("lang"),
          size(TextOps.tokens(lower(col("text")))).cast("long").as("_nt"))
        .filter(col("_nt") > 0L)
        .localCheckpoint(true) // every stage reads it
      val canon = exactDedupShared(s, dir)
        .select(col("canonical_id").as("doc_id"))
      val s1 = s0.join(canon, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // near-dup keep-first: drop any doc with a VERIFIED (jaccard ≥ 0.5)
      // near-duplicate of lower id — the pairwise retention rule; the
      // transitive-closure form is q_dup_clusters' canonical assignment
      val nearDrop = nearDupPairs(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
      val s2 = s1.join(nearDrop, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val contaminated = contaminationPairsShared(s, dir)
        .select(col("doc_id")).distinct()
      val s3 = s2.join(contaminated, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val quality = qualityScoredShared(s, dir)
        .filter(col("pred")).select(col("doc_id"))
      val s4 = s3.join(quality, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      val s5 = s4.join(pplHeadShared(s, dir), Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      Seq((0L, "ingested", s0), (1L, "exact_dedup", s1),
        (2L, "near_dedup", s2), (3L, "decontaminated", s3),
        (4L, "quality_kept", s4), (5L, "ppl_head", s5))
    }

  /** The six-row batch funnel data card (stage_idx, stage, n_docs,
    * n_tokens) over the memoized stage frames — q_curation_funnel's body,
    * shared with q_release_card. */
  private def funnelCardFrame(s: SparkSession, dir: String): DataFrame =
    funnelStages(s, dir)
      .map { case (i, name, fr) =>
        fr.agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
          .select(lit(i).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      }.reduce(_ unionByName _)

  /** The manifest's per-shard balance card — q_shard_summary's body,
    * shared with q_release_card: the md5 assignment's evenness is what
    * this row proves before a training run trusts it. */
  private def shardSummaryFrame(s: SparkSession, dir: String): DataFrame =
    funnelStages(s, dir).last._3
      .withColumn("shard",
        graft.expressions.Md5Expressions.md5Long(
          col("doc_id").cast("string")) % ShardCount)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_nt")).as("n_tokens"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"(n_tokens + $PackTokens - 1) div $PackTokens")
          .as("n_seqs"))

  /** The per-source corpus statistics card — q_data_card's body, shared
    * with q_release_card. Three grouped passes joined on source; every
    * ratio one floored division of exact integer sums. */
  private def dataCardFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def t6(x: org.apache.spark.sql.Column) = floor(x * 1000000d) / 1000000d
    val base = docs.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      count_distinct(col("lang")).as("n_langs"),
      sum(col("n_chars")).as("total_chars"))
    val toks = TextOps.qualityScore(docs, "doc_id", "text", stopEn)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("total_tokens"),
        sum(col("n_stopwords")).as("total_stop"))
    val dup = Dedup.dedupProfile(docs, "text", Seq("source"))
      .select(col("source"), col("n_distinct"))
    base.join(toks, Seq("source")).join(dup, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("total_tokens"),
        t6(col("total_chars").cast("double")
          / col("n_docs").cast("double")).as("mean_chars"),
        t6((col("n_docs") - col("n_distinct")).cast("double")
          / col("n_docs").cast("double")).as("dup_rate"),
        when(col("total_tokens") > 0L,
          t6(col("total_stop").cast("double")
            / col("total_tokens").cast("double"))).as("stop_ratio"))
  }

  /** The BPE-vs-unigram tokenizer decision card — q_tokenizer_compare's
    * body, shared with q_release_card: pure composition over the two
    * MEMOIZED training runs. */
  private def tokenizerCompareFrame(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // held-out slice: the full↔held join below is INNER, so a language
    // with zero held-out docs drops from the decision card entirely
    // (documented contract, mirrored by the oracle's inner joins) — a
    // missing row means "no held-out evidence", not "absent from corpus"
    val held = docs.filter(col("doc_id") % 7 === 3)
    def side(tag: String, seg: DataFrame, w: Int): DataFrame = {
      val full = TextOps.bpeFertilityFrom(docs, "text", "lang", seg, w)
        .select(col("lang"), col("n_words").as(s"${tag}_n_words"),
          col("fertility").as(s"${tag}_fertility"))
      val hf = TextOps.bpeFertilityFrom(held, "text", "lang", seg, w)
        .select(col("lang"),
          col("fertility").as(s"${tag}_fertility_heldout"))
      full.join(hf, Seq("lang"))
        .withColumn(s"${tag}_gap",
          floor((col(s"${tag}_fertility_heldout")
            - col(s"${tag}_fertility")) * 1000000d) / 1000000d)
    }
    val bpe = side("bpe", bpeShared(s, dir)._2, BpeMaxWordLen)
    val uni = side("uni", unigramApplySeg(s, dir), UniW)
    val vocabs = bpeShared(s, dir)._2
      .select(explode(split(col("pieces"), " ")).as("_p"))
      .agg(countDistinct(col("_p")).as("bpe_vocab"))
      .crossJoin(
        unigramShared(s, dir)._1.agg(count(lit(1)).as("uni_vocab")))
    bpe.join(uni, Seq("lang")).crossJoin(broadcast(vocabs))
  }

  /** ONE completed production-funnel run per (session, sf dir) — the
    * state-store-backed FunnelPipeline driven from the file-monitor
    * source over the numBatches=2 id-range slicing (2 is the minimum
    * that exercises cross-trigger state; per-trigger cost is flat —
    * FunnelScaleSpec/FunnelCurve — so fewer bench slices only shed
    * fixed trigger overhead), all pipeline state
    * under a temp directory. q_curation_funnel_stream reads its durable
    * stage store, q_shard_manifest_stream its export store — the
    * funnelStages memo pattern applied to the streaming twin. The only
    * driver traffic building the config is the O(languages) perplexity
    * boundary fold. */
  private val funnelPipeCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), String]
  private def funnelPipelineShared(s: SparkSession, dir: String): String =
    memoShared(funnelPipeCache, s, dir) {
      val docs = Tables.documents(s, dir)
      val vocab = unigramShared(s, dir)._1
      // driver-bounded: O(languages) — one (npp, doc_id) boundary per lang
      val cuts = CoreOps.ntileKeyed(
          docPpl(s, dir).withColumn("_npp", expr("nll_scaled div n_pieces")),
          col("lang"), col("_npp"), "doc_id", 3, "_b", nullsLast = true)
        .filter(col("_b") =!= 3)
        .groupBy(col("lang"))
        .agg(max(struct(col("_npp"), col("doc_id"))).as("_c"))
        .select(col("lang"), col("_c._npp").cast("long"),
          col("_c.doc_id").cast("long"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      // statePartitions: bench-scale state is KB-sized, so the store
      // count is sized for overhead, not volume (FunnelConfig's sizing
      // rule; the session's 32 CPU-oriented shuffle partitions would pay
      // 8x the per-store open/commit tax for no parallelism the tiny
      // batches can use). Round-16 A/B at sf0.1/32 (`BenchProfile
      // _build:funnel_pipeline`):
      // 8 stores = 6.5+4.5s triggers, 4 = 6.0+4.2s (commit 1.7->0.6s),
      // 2 = 6.3+4.8s (update parallelism lost) — 4 is the measured
      // optimum for this state volume; a 100 TB deployment sizes UP from
      // state volume per the FunnelConfig scaladoc
      val cfg = graft.streaming.FunnelConfig(logregShared(s, dir)._2,
        Unigram.zOf(vocab), cuts, MhK, MhBands, MhRows, 0.5, WinnowW, 0.05,
        LrTokCap, UniW, UniL, ShardCount, PackTokens,
        statePartitions = Some(4))
      graft.streaming.FunnelPipeline.runSliced(s, docs,
        docs.filter(col("doc_id") < 20), vocab, cfg, 2,
        java.nio.file.Files.createTempDirectory("graft_funnel_").toString)
    }

  /** Each funnel rule's INDEPENDENT drop verdict per ingested doc —
    * (doc_id, _nt, _d0.._d4 for exact/near/decontaminate/quality/ppl) —
    * the un-chained view behind q_gate_overlap. Same artifacts as
    * funnelStages (memoized trainers, memoized near-dup pairs); one frame,
    * five left joins, memoized itself. */
  private val funnelDropsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def funnelRuleDrops(s: SparkSession, dir: String): DataFrame =
    memoPersist(funnelDropsCache, s, dir) {
      val s0 = funnelStages(s, dir).head._3
      val canon = exactDedupShared(s, dir)
        .select(col("canonical_id").as("doc_id"), lit(true).as("_k0"))
      val near = nearDupPairs(s, dir)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("_x1", lit(true))
      val cont = contaminationPairsShared(s, dir)
        .select(col("doc_id")).distinct()
        .withColumn("_x2", lit(true))
      val qual = qualityScoredShared(s, dir)
        .filter(col("pred")).select(col("doc_id"))
        .withColumn("_k3", lit(true))
      val headMid = pplHeadShared(s, dir).withColumn("_k4", lit(true))
      s0.join(canon, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .join(cont, Seq("doc_id"), "left")
        .join(qual, Seq("doc_id"), "left")
        .join(headMid, Seq("doc_id"), "left")
        .select(col("doc_id"), col("_nt"),
          col("_k0").isNull.as("_d0"),
          col("_x1").isNotNull.as("_d1"),
          col("_x2").isNotNull.as("_d2"),
          col("_k3").isNull.as("_d3"),
          col("_k4").isNull.as("_d4"))
    }

  /** Per-doc exact NLL under the frozen unigram inventory —
    * (doc_id, lang, n_words, n_pieces, nll_scaled), shared by q_doc_ppl /
    * q_ppl_buckets / q_source_quality: the memoized vocab-scale Viterbi
    * DP + one doc-word count join, itself memoized (three consumers). */
  private val docPplCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def docPpl(s: SparkSession, dir: String): DataFrame =
    memoPersist(docPplCache, s, dir)({
      val docs = Tables.documents(s, dir)
      val seg = unigramApplySeg(s, dir)
        .select(col("word"), col("n_pieces"), col("best_qll"))
      val dw = docs.select(col("doc_id"), col("lang"),
          explode(filter(split(lower(col("text")), "[^a-z]+"),
            w => w =!= "" && length(w) <= UniW)).as("word"))
        .groupBy(col("doc_id"), col("lang"), col("word"))
        .agg(count(lit(1)).as("_n"))
      dw.join(seg, Seq("word"))
        .groupBy(col("doc_id"), col("lang"))
        .agg(sum(col("_n")).as("n_words"),
          sum(col("_n") * col("n_pieces")).as("n_pieces"),
          (-sum(col("_n") * col("best_qll"))).as("nll_scaled"))
    })

  /** q_pca_power and q_pca_explained share ONE covariance pass + power
    * iteration (the bpeShared pattern) — the corpus-touching stage runs
    * once; both persisted frames are d²- and d-sized. */
  private val pcaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), (DataFrame, DataFrame)]
  private def pcaShared(s: SparkSession,
                        dir: String): (DataFrame, DataFrame) =
    memoShared(pcaCache, s, dir)({
      val cov = Similarity.covarianceScaled(Tables.embeddings(s, dir),
        "embedding", EmbDims)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (cov, Similarity.pcaPowerDirection(cov, PcaIters)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    })

  /** q_communities_weighted and q_community_card_weighted share ONE
    * weighted propagation run (the lpaShared pattern). */
  private val lpaWeightedCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def lpaWeightedShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(lpaWeightedCache, s, dir)(
      Graph.labelPropagationWeightedOn(lpaWeightedLayoutShared(s, dir),
        LpaIters))

  /** q_image_dups and q_image_dup_clusters share ONE verified pair frame
    * (the nearDupPairs pattern) — the dHash/banding pipeline runs once
    * per Verify/Bench run. Same BENCH caveat. */
  private val imgPairCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def imageDupPairsShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(imgPairCache, s, dir)(
      Multimodal.imageDupPairs(
        Tables.documents(s, dir).withColumn("img",
          Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
        "doc_id", "img", 2))

  /** q_audio_dups and q_audio_dup_clusters share ONE verified pair frame
    * (the imageDupPairsShared pattern). */
  private val audioPairCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def audioDupPairsShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(audioPairCache, s, dir)(
      Multimodal.audioDupPairs(
        Multimodal.energyProfile(
          Tables.documents(s, dir).withColumn("img",
            Multimodal.fakeImageBytes(col("text"), col("doc_id"))),
          "doc_id", "img", 1, 64),
        "doc_id", 2))

  private def audioDupClustersShared(s: SparkSession,
                                     dir: String): DataFrame =
    allDupClustersShared(s, dir).filter(col("_g") === 2)
      .select(col("doc_id"), col("cluster_id"))

  private def imageDupClustersShared(s: SparkSession,
                                     dir: String): DataFrame =
    allDupClustersShared(s, dir).filter(col("_g") === 1)
      .select(col("doc_id"), col("cluster_id"))

  private val coSourceCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def coSourcingEdges(s: SparkSession, dir: String): DataFrame =
    memoShared(coSourceCache, s, dir)(
      Tables.lineitem(s, dir)
        .select((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        // NULL-free at the source (output-neutral: every consumer drops
        // NULL endpoints anyway) — one leg of the inputNormalized proof
        // the layout builders rely on
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct().localCheckpoint(true))

  /** The exact-Jaccard all-pairs truth frame q_jaccard_allpairs emits and
    * q_block_quality grades against — the AllPairs prefix pipeline (the
    * audit family's expensive side) runs once per run, persisted; built
    * openly as `_build:jaccard_allpairs`. */
  private val japCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def jaccardAllPairsShared(s: SparkSession,
                                    dir: String): DataFrame =
    memoPersist(japCache, s, dir)(
      Dedup.jaccardAllPairs(Tables.documents(s, dir), "doc_id", "text",
        MhK, 1, 2))

  /** Its md5 % BqSampleMod twin — q_jaccard_allpairs_sampled's output and
    * q_block_quality_sampled's truth side (`_build:jaccard_allpairs_sampled`). */
  private val japSampledCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def jaccardAllPairsSampledShared(s: SparkSession,
                                           dir: String): DataFrame =
    memoPersist(japSampledCache, s, dir)(
      Dedup.jaccardAllPairsSampled(Tables.documents(s, dir), "doc_id",
        "text", MhK, 1, 2, BqSampleMod))

  /** The fused common-neighbor pair frame q_adamic_adar and
    * q_neighbor_jaccard both rank — the wedge self-join, anti join, and
    * degree work run once (Graph.commonNeighborStatsOn), persisted so the
    * second score is a TakeOrderedAndProject over cached rows. */
  private val cnStatsCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def commonNeighborShared(s: SparkSession,
                                   dir: String): DataFrame =
    memoPersist(cnStatsCache, s, dir)(
      Graph.commonNeighborStatsOn(undLayoutShared(s, dir), AaMaxDeg))

  /** The per-seed BFS distance frame q_harmonic and q_betweenness both
    * consume (same CentSeedMod seeds, same CentRounds hop cap) —
    * checkpointed once, O(|seeds|·|reached|) rows. */
  private val centDistCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def centDistShared(s: SparkSession, dir: String): DataFrame =
    memoShared(centDistCache, s, dir)(
      Graph.bfsDistancesPerSeedOn(prLayoutShared(s, dir),
        Tables.lineitem(s, dir)
          .filter(pmod(col("l_suppkey"), lit(CentSeedMod)) === 0)
          .select((col("l_suppkey") * 2).as("node")).distinct(),
        CentRounds).localCheckpoint(true))

  /** The synthesized (old, new) corpus snapshot pair for the diff
    * queries: v2 drops doc_id%11==3, appends " v2" to doc_id%7==2's
    * text, and re-keys docs < 15 as additions. */
  private def snapshotPair(s: SparkSession,
                           dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val v2 = docs.filter(col("doc_id") % 11 =!= 3)
      .withColumn("text", when(col("doc_id") % 7 === 2,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
      .unionByName(docs.filter(col("doc_id") < 15)
        .withColumn("doc_id", col("doc_id") + 100000))
    (docs, v2)
  }

  /** The co-sourcing graph WITH lineitem multiplicities — the weighted
    * twin of coSourcingEdges (the q_pagerank_weighted weight recipe).
    * NULL-free at the source and checkpointed (round-16): one row per
    * (src, dst) with a positive count — the inputGrouped proof
    * wprLayoutShared passes to the layout builder; memoized so the
    * lineitem aggregation runs once per run. */
  private val coWeightedCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def coSourcingWeighted(s: SparkSession, dir: String): DataFrame =
    memoShared(coWeightedCache, s, dir)(
      Tables.lineitem(s, dir)
        .filter(col("l_suppkey").isNotNull && col("l_partkey").isNotNull)
        .groupBy((col("l_suppkey") * 2).as("src"),
          (col("l_partkey") * 2 + 1).as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(true))

  /** Both orientations of the shared co-sourcing frame. */
  private def bidirected(s: SparkSession, dir: String): DataFrame = {
    val sp = coSourcingEdges(s, dir)
    sp.union(sp.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Both orientations of the weighted co-sourcing frame (the
    * q_pagerank_weighted edge recipe). */
  private def bidirectedWeighted(s: SparkSession, dir: String): DataFrame = {
    val w = coSourcingWeighted(s, dir)
    w.union(w.select(col("dst").as("src"), col("src").as("dst"), col("w")))
  }

  // ── co-partitioned persisted edge layouts (round-16, guide §2.4/§6) ──
  // The in-session bucketed-edge-table move the round-15 verdict asked
  // for: each layout normalizes its graph ONCE (distinct/canonicalize/
  // degree or weight totals), hash-partitions the edge-side frames by
  // their per-round join key, persists, and eagerly materializes — all
  // inside the openly-timed `_build:graph_edges_bucketed` entry. Every
  // fixpoint consumer (pagerank family, HITS, BFS walkers, LPA, k-core,
  // the wedge/clustering tier) then RECOMPUTES all of its rounds from
  // these static frames on every run: input layout, never result caching.
  // Plan effect (see plans/r16): the per-round O(|E|) edge Exchange is
  // gone; only the dst-side aggregation transpose still shuffles.
  private val prLayoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Graph.PrLayout]
  private def prLayoutShared(s: SparkSession, dir: String): Graph.PrLayout =
    memoShared(prLayoutCache, s, dir)(
      // inputNormalized proof: coSourcingEdges is distinct, NULL-free and
      // checkpointed; the graph is bipartite on disjoint id ranges
      // (suppliers 2k, parts 2k+1), so its two orientations are disjoint
      // and their union stays distinct — the layout's own distinct would
      // be the identity
      Graph.pagerankLayout(bidirected(s, dir), "src", "dst",
        inputNormalized = true))

  private val hitsLayoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Graph.HitsLayout]
  private def hitsLayoutShared(s: SparkSession,
                               dir: String): Graph.HitsLayout =
    memoShared(hitsLayoutCache, s, dir)(
      // inputNormalized proof: coSourcingEdges is distinct, NULL-free,
      // checkpointed — re-normalizing it would be the identity
      Graph.hitsLayout(coSourcingEdges(s, dir), "src", "dst",
        inputNormalized = true))

  private val wprLayoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Graph.WprLayout]
  private def wprLayoutShared(s: SparkSession,
                              dir: String): Graph.WprLayout =
    memoShared(wprLayoutCache, s, dir)(
      // inputGrouped proof: coSourcingWeighted is one row per (src, dst)
      // with a positive non-NULL count, NULL-free endpoints, checkpointed;
      // the bipartite orientations are disjoint, so the union stays
      // one-row-per-pair — the layout's weight-summing groupBy would be
      // the identity
      Graph.pagerankWeightedLayout(bidirectedWeighted(s, dir),
        "src", "dst", "w", inputGrouped = true))

  /** LPA layout as PROJECTIONS of the pagerank layout — zero extra build
    * cost. Frame-identity proof for THIS graph: the co-sourcing graph is
    * bipartite on disjoint id ranges (suppliers 2k, parts 2k+1), so it
    * has no self-loops and the bidirected distinct edge set contains each
    * canonical pair in both orientations exactly once — which is exactly
    * Graph.lpaLayout's adj (canonical least/greatest distinct, then both
    * orientations) over coSourcingEdges; the node set likewise. The
    * projections keep the underlying caches' hash partitioning
    * (_src ≡ _s, node). */
  private val lpaLayoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Graph.LpaLayout]
  private def lpaLayoutShared(s: SparkSession,
                              dir: String): Graph.LpaLayout =
    memoShared(lpaLayoutCache, s, dir)({
      val pr = prLayoutShared(s, dir)
      Graph.LpaLayout(
        pr.withDeg.select(col("_src").as("_s"), col("_dst").as("_d")),
        pr.nodes.select(col("node"), col("node").as("label")))
    })

  /** The canonical weight-summed undirected co-sourcing frame — shared by
    * both community cards; a FILTERED PROJECTION of the weighted-pagerank
    * layout (zero extra build cost): withTw holds both orientations of
    * every canonical pair with the same summed weight (bipartite disjoint
    * ids, symmetric bidirection), so keeping the _src < _dst orientation
    * yields exactly Graph.weightedUndirected(coSourcingWeighted) —
    * least/greatest on longs ≡ the numeric comparison. Partitioning by
    * _src ≡ _a survives the filter. */
  private val coWUndCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), DataFrame]
  private def coWeightedUndShared(s: SparkSession, dir: String): DataFrame =
    memoShared(coWUndCache, s, dir)(
      wprLayoutShared(s, dir).withTw
        .filter(col("_src") < col("_dst"))
        .select(col("_src").as("_a"), col("_dst").as("_b"), col("_w")))

  /** Weighted-LPA layout as projections of the weighted-pagerank layout
    * (the lpaLayoutShared argument, weighted): withTw minus its totals
    * column IS the both-orientations weighted adjacency. */
  private val lpaWLayoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Graph.LpaLayout]
  private def lpaWeightedLayoutShared(s: SparkSession,
                                      dir: String): Graph.LpaLayout =
    memoShared(lpaWLayoutCache, s, dir)({
      val w = wprLayoutShared(s, dir)
      Graph.LpaLayout(
        w.withTw.select(col("_src").as("_s"), col("_dst").as("_d"),
          col("_w")),
        w.nodes.select(col("node"), col("node").as("label")))
    })

  /** Canonical-undirected layout of the co-sourcing graph (string
    * canonical pairs + degrees) — shared by k-core, local clustering,
    * the common-neighbor wedge build, and the LPA modularity gauge. */
  private val undLayoutCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Graph.UndLayout]
  private def undLayoutShared(s: SparkSession,
                              dir: String): Graph.UndLayout =
    memoShared(undLayoutCache, s, dir)(
      // inputCanonicalDistinct proof: coSourcingEdges is distinct,
      // NULL-free, checkpointed, and bipartite on disjoint id ranges —
      // no self-loops, and no two directed rows share an unordered pair
      // (the reverse orientation never occurs), so the canonicalized
      // pair set is duplicate-free without the distinct
      Graph.undirectedLayout(coSourcingEdges(s, dir), "src", "dst",
        inputCanonicalDistinct = true))

  /** q_pq_topk and q_pq_recall are views over the same PQ search result —
    * memoized like nearDupPairs so the 4 × IvfIters codebook training rounds
    * run once per Verify/Bench run. Same BENCH caveat: the pair's per-query
    * timings share one materialization. */
  private val pqCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def pqTopKShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(pqCache, s, dir)({
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 5, EmbDims, PqM, IvfNlist, IvfIters)
    })

  /** The sample-trained PQ search result, memoized for the same reason —
    * its codebook training (m sliced Lloyd's runs) would otherwise rerun on
    * every bench repetition. */
  private val pqSampleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def pqTopKSampleShared(s: SparkSession, dir: String): DataFrame =
    memoPersist(pqSampleCache, s, dir)({
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopKSampled(emb, emb.filter(col("vec_id") < 8),
        "vec_id", "embedding", 5, EmbDims, PqM, IvfNlist, IvfIters, IvfSampleMod)
    })

  /** Memoize-and-persist with eviction when the owning session's application
    * ends, so stopped sessions don't stay strongly referenced in long-lived
    * JVMs / test suites. */
  /** Memoize any per-(session, sf-dir) value with eviction when the owning
    * session's application ends — the generic core of memoPersist, also
    * used for multi-frame shares (the pagerank pair). */
  /** Force a frame to materialize (and populate its persist cache if it
    * has one) without letting Catalyst prune it down to a bare count —
    * the Bench evaluation convention. */
  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The one-time memoized builds behind the fused/shared query families,
    * in DEPENDENCY ORDER, each forced to full materialization — Bench
    * times these as `_build:<name>` line items so the shared-frame work
    * the consumer queries reuse is MEASURED instead of hidden in the
    * warm-up pass (the round-13 bench-accounting debt: six fused
    * consumers timed ~0.1s while ~18s of one-time build cost vanished
    * from every total). Order matters for attribution: an entry's cost is
    * its OWN work because everything it depends on was built by an
    * earlier entry (e.g. `funnel_stages` reads the dedup/contamination/
    * trainer artifacts built above it; `funnel_pipeline` is the full
    * streaming ingest run). A consumer query that runs without its build
    * entry (SPARK_GRAFT_ONLY subsets) simply builds lazily in warm-up,
    * exactly as before. */
  /** Synthetic cold-JVM warm-up (guide §1: time the computation, not JVM
    * startup): the FIRST Spark action in a cold JVM pays classloading,
    * Catalyst/codegen bring-up and JIT — measured ~5 s on the bench VM,
    * which used to land on whichever single-shot `_build:*` entry ran
    * first (`_build:late_flag` read 6.9-16.6 s across recordings for
    * ~4.5 s of actual work). Runs scan → join → agg → window → sort →
    * hash over `spark.range` rows ONLY — no input data is touched and
    * nothing is kept — mirroring the warm-up pass Bench has always run
    * for the query loop. Registered as the FIRST `_build:*` entry so the
    * startup cost stays a visible line item in the bench total instead
    * of polluting a real build's single-shot reading; declared as a
    * round-15 measurement fix in OPTIMIZATION_r15.md (with before/after
    * recordings kept). */
  def jvmWarmup(s: SparkSession): Unit = {
    val n = s.range(0, 200000L, 1, 8).toDF("id")
      .withColumn("k", pmod(col("id"), lit(97L)))
    val agg = n.groupBy(col("k")).agg(sum(col("id")).as("v"),
      count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("id"))
    force(n.join(agg, Seq("k")).withColumn("rn", row_number().over(w))
      .withColumn("h", md5(concat_ws(":", col("id"), col("k"))))
      .orderBy(col("k"), col("rn")).limit(1000))
  }

  def builds: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    // MUST stay first: absorbs cold-JVM bring-up as its own line item
    "jvm_warmup" -> ((s, _) => jvmWarmup(s)),
    "late_flag" -> ((s, d) => force(flaggedEvents(s, d))),
    "exact_dedup" -> ((s, d) => force(exactDedupShared(s, d))),
    "neardup_pairs" -> ((s, d) => force(nearDupPairs(s, d))),
    "image_dup_pairs" -> ((s, d) => force(imageDupPairsShared(s, d))),
    "audio_dup_pairs" -> ((s, d) => force(audioDupPairsShared(s, d))),
    // ONE tagged pointer-jumping loop closes all three dup graphs (text /
    // image / audio) — the per-round fixed cost is paid once, not thrice
    "dup_clusters_all" -> ((s, d) => force(allDupClustersShared(s, d))),
    // the three pre-round-15 names stay registered (bench contract: never
    // remove an entry); each now times its per-modality view over the
    // shared frame built above — residual cost, not a second loop
    "dup_clusters" -> ((s, d) => force(dupClustersShared(s, d))),
    "image_dup_clusters" -> ((s, d) => force(imageDupClustersShared(s, d))),
    "audio_dup_clusters" -> ((s, d) => force(audioDupClustersShared(s, d))),
    "contamination_pairs" -> ((s, d) =>
      force(contaminationPairsShared(s, d))),
    "fuzzy_pairs" -> ((s, d) => force(fuzzyPairsShared(s, d))),
    // the exact-Jaccard all-pairs truth frames (round-16): the audit
    // family's quadratic-truth side built once in the open — consumed by
    // q_jaccard_allpairs[_sampled] (verbatim) and as q_block_quality
    // [_sampled]'s ground-truth side
    "jaccard_allpairs" -> ((s, d) => force(jaccardAllPairsShared(s, d))),
    "jaccard_allpairs_sampled" -> ((s, d) =>
      force(jaccardAllPairsSampledShared(s, d))),
    "coorder_pairs" -> ((s, d) => force(coorderPairs(s, d))),
    "bpe_train" -> ((s, d) => {
      val (merges, segments) = bpeShared(s, d)
      force(merges); force(segments)
    }),
    "unigram_train" -> ((s, d) => force(unigramShared(s, d)._1)),
    "unigram_heldout" -> ((s, d) => force(unigramHeldoutShared(s, d)._1)),
    "unigram_apply_seg" -> ((s, d) => force(unigramApplySeg(s, d))),
    "logreg_train" -> ((s, d) => { logregShared(s, d); () }),
    "logreg_heldout" -> ((s, d) => { logregHeldoutShared(s, d); () }),
    "classifier_scored" -> ((s, d) => force(qualityScoredShared(s, d))),
    "doc_ppl" -> ((s, d) => force(docPpl(s, d))),
    "ppl_head" -> ((s, d) => force(pplHeadShared(s, d))),
    "funnel_stages" -> ((s, d) =>
      funnelStages(s, d).foreach(t => force(t._3))),
    "funnel_rule_drops" -> ((s, d) => force(funnelRuleDrops(s, d))),
    "funnel_pipeline" -> ((s, d) => { funnelPipelineShared(s, d); () }),
    // input layout for the whole iterative graph tier (round-16): every
    // co-partitioned persisted edge/node/degree frame the fixpoints
    // consume, built and materialized HERE so the one-time layout cost is
    // its own visible line item (the bucketed-edge-table move, guide
    // §2.4/§6; consumers recompute all their rounds per run — input
    // layout, never result caching)
    "graph_edges_bucketed" -> ((s, d) => {
      // per-layout job labels (guide §1.5) — profiler/UI attribution
      def lbl(n: String): Unit =
        s.sparkContext.setJobDescription(s"layout: $n")
      lbl("pagerank"); prLayoutShared(s, d)
      lbl("hits"); hitsLayoutShared(s, d)
      lbl("weighted-pagerank"); wprLayoutShared(s, d)
      lbl("lpa"); lpaLayoutShared(s, d)
      lbl("lpa-weighted"); lpaWeightedLayoutShared(s, d)
      lbl("undirected"); undLayoutShared(s, d)
      lbl("weighted-undirected"); coWeightedUndShared(s, d)
      s.sparkContext.setJobDescription(null)
    }),
    "pagerank_fixpoint" -> ((s, d) => {
      val (pr, res) = pagerankShared(s, d); force(pr); force(res)
    }),
    "hits_fixpoint" -> ((s, d) => {
      val (h, res) = hitsShared(s, d); force(h); force(res)
    }),
    "lpa_labels" -> ((s, d) => {
      val (labels, movement) = lpaShared(s, d)
      force(labels); force(movement)
    }),
    "lpa_weighted" -> ((s, d) => force(lpaWeightedShared(s, d))),
    "common_neighbor_stats" -> ((s, d) =>
      force(commonNeighborShared(s, d))),
    "cent_dist_bfs" -> ((s, d) => force(centDistShared(s, d))),
    "pca_basis" -> ((s, d) => {
      val (a, b) = pcaShared(s, d); force(a); force(b)
    }),
    "pq_topk" -> ((s, d) => force(pqTopKShared(s, d))),
    "pq_topk_sample" -> ((s, d) => force(pqTopKSampleShared(s, d))))

  private def memoShared[T](
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), T],
      s: SparkSession, dir: String)(build: => T): T =
    // TrieMap.getOrElseUpdate's thunk is NOT atomic: two threads racing on
    // the same key would both build (one cached value leaks) and both
    // register the eviction listener. The caches see a handful of
    // plan-time lookups per run, so a plain monitor costs nothing
    cache.synchronized {
      cache.getOrElseUpdate((s, dir), {
        // one eviction listener per (cache, session) — checked before this
        // entry is inserted, so a session touching many sf dirs doesn't
        // stack duplicate listeners on the context
        if (!cache.keys.exists(_._1 eq s))
          s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
              cache.filterInPlace { case ((sess, _), _) => sess ne s }
          })
        build
      })
    }

  private def memoPersist(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame],
      s: SparkSession, dir: String)(frame: => DataFrame): DataFrame =
    memoShared(cache, s, dir)(
      frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  // ───────────────────────────────────────────────────────────────────────
  // DuckDB oracles. Table names = parquet file stems. epoch_ms(ts) matches
  // the Spark side exactly because Tables.events truncates ts to ms.
  // ───────────────────────────────────────────────────────────────────────

  /** Shared SQL fragments. */
  private def sqlMd5Int(x: String)  = s"('0x' || substr(md5($x),1,8))::BIGINT"

  /** The BM25 oracle, shared by q_bm25 and q_bm25_explode (the two plans
    * produce bit-identical scores on the ascending BmTerms list). Generated
    * from BmTerms so the Spark plans and the oracle can't drift; every
    * arithmetic step mirrors TextOps.bm25's operand order exactly
    * (rational idf: +,*,/ only — bit-identical on any IEEE engine). */
  private lazy val bm25OracleSql: String = {
    val dfCols = BmTerms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END)::BIGINT AS df_$i"
    }.mkString(", ")
    val dlNorm =
      s"($BmK1 * (${1 - BmB} + $BmB * (dl::DOUBLE / (sumdl::DOUBLE / n::DOUBLE))))"
    val score = BmTerms.zipWithIndex.map { case (t, i) =>
      val tf = s"len(list_filter(toks, x -> x = '$t'))::DOUBLE"
      s"(((n - df_$i)::DOUBLE + 0.5) / (df_$i::DOUBLE + 0.5)) * " +
        s"(($tf * ${BmK1 + 1}) / ($tf + $dlNorm))"
    }.mkString(" + ")
    s"""WITH tk AS (SELECT doc_id,
       |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
       |                    x -> x <> '') AS toks
       |      FROM documents),
       |d AS (SELECT doc_id, toks, len(toks)::BIGINT AS dl FROM tk),
       |s AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS sumdl, $dfCols FROM d)
       |SELECT doc_id, dl, floor(($score) * 1000000) / 1000000 AS bm25
       |FROM d, s""".stripMargin
  }
  private def sqlMd5Long(x: String) = s"('0x' || substr(md5($x),1,15))::BIGINT"

  /** 60-bit SimHash sign vote over a token-hash list column, mirroring
    * Dedup.simhashFromHashes bit-for-bit. */
  private def sqlSimhashBits(hs: String): String =
    (0 until 60).map { j =>
      s"(CASE WHEN list_sum(list_transform($hs, h -> CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 THEN ${1L << j}::BIGINT ELSE 0 END)"
    }.mkString(" + ")

  /** The exact-containment expression over two distinct-shingle lists —
    * shared by q_decontaminate and the funnel's contamination stage. */
  private val sqlContainmentExpr =
    "len(list_intersect(a.sh, b.sh))::DOUBLE / len(b.sh)::DOUBLE"

  /** The winnowing-candidate contamination chain (norm → shingles →
    * hashes → winnow fingerprints → cross-side candidates → distinct
    * shingle sets), mirroring Dedup.contaminationPairs stage for stage —
    * shared by q_decontaminate and q_curation_funnel. */
  private def sqlContaminationCtes: String =
    s"""nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |ntk AS (SELECT doc_id, nt,
       |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
       |nshg AS (SELECT doc_id,
       |        CASE WHEN len(toks) >= $MhK
       |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
       |                   for i in range(0, len(toks)-$MhK+1)]
       |             ELSE [nt] END AS shingles FROM ntk),
       |hsh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
       |wfp AS (SELECT doc_id,
       |        CASE WHEN len(hs) < $WinnowW THEN [list_min(hs)]
       |             ELSE list_distinct([list_min(list_slice(hs, i+1, i+$WinnowW))
       |                                 for i in range(0, len(hs)-$WinnowW+1)]) END AS fps
       |        FROM hsh),
       |fpr AS (SELECT doc_id, unnest(fps) AS fp_hash FROM wfp),
       |bfp AS (SELECT doc_id AS bench_id, unnest(fps) AS fp_hash FROM wfp WHERE doc_id < 20),
       |cand AS (SELECT DISTINCT c.doc_id, b.bench_id
       |         FROM fpr c JOIN bfp b USING (fp_hash)),
       |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)""".stripMargin

  /** The logistic-GD training loop as MATERIALIZED unrolled CTEs (the
    * sqlBpeCtes discipline), mirroring LogReg.fit round for round: the
    * quantized sigmoid floor'd at the term (operand order pinned), exact
    * HUGEINT gradient sums, and trunc-toward-zero `//` weight updates
    * (probed equal to Spark's div / BigInteger on negatives). */
  /** The logreg feature projection as a SQL SELECT over a caller-chosen
    * relation — shared by training (lf) and any evaluation slice. */
  private def sqlLogregFeaturesSql(table: String): String =
    s"""SELECT doc_id,
       |  CASE WHEN nt >= $LrLenThreshold THEN 1 ELSE 0 END::BIGINT AS label,
       |  LEAST(nt, $LrTokCap)::BIGINT AS x_len,
       |  ((nd * 100) // nt)::BIGINT AS x_div
       | FROM (SELECT doc_id, len(toks)::BIGINT AS nt,
       |         len(list_distinct(toks))::BIGINT AS nd
       |       FROM (SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
       |             FROM $table WHERE text IS NOT NULL))
       | WHERE nt > 0""".stripMargin

  private def sqlLogregCtes(rounds: Int): String =
    sqlLogregCtesOver(rounds, "documents")

  private def sqlLogregCtesOver(rounds: Int, table: String): String = {
    val sb = new StringBuilder
    sb ++= s"""lf AS MATERIALIZED (${sqlLogregFeaturesSql(table)}),
lcn AS (SELECT count(*)::BIGINT AS n FROM lf),
lw0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2)"""
    for (r <- 1 to rounds) {
      val p = r - 1
      sb ++= s""",
       |ls$r AS (SELECT label, x_len, x_div,
       |   (label * 1000000 - floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * x_len + w.w2 * x_div)::DOUBLE) / 1000000.0)))::BIGINT) AS res
       | FROM lf CROSS JOIN lw$p w),
       |lg$r AS (SELECT sum(res) AS g0, sum(res * x_len) AS g1,
       |   sum(res * x_div) AS g2 FROM ls$r),
       |lw$r AS MATERIALIZED (SELECT
       |   (w.w0 + (($LrRatePpm * g.g0) // (1000000 * n.n)))::BIGINT AS w0,
       |   (w.w1 + (($LrRatePpm * g.g1) // (1000000 * n.n)))::BIGINT AS w1,
       |   (w.w2 + (($LrRatePpm * g.g2) // (1000000 * n.n)))::BIGINT AS w2
       | FROM lw$p w CROSS JOIN lg$r g CROSS JOIN lcn n)""".stripMargin
    }
    sb.toString
  }

  /** One unigram Viterbi-DP block over a words CTE under an inventory
    * CTE — DuckDB lateral-alias column algebra mirroring Unigram.viterbi
    * column name for column name (sc_{s}_{l} pivot, max-plus best_i with
    * shorter-last-piece bl_i tie rule, the c_k/l_k backtrace walk, the
    * fixed-slot piece list). Emits `${tag}dp`(word, freq, pieces LIST,
    * best_qll). Starts with "," — append after an existing CTE. */
  private def sqlUnigramDp(tag: String, wordsCte: String,
                           vocabCte: String): String = {
    val W = UniW; val L = UniL
    val scCols = (for { s <- 0 until W; l <- 1 to L if s + l <= W }
      yield s"max(CASE WHEN s = $s AND l = $l THEN score END) AS sc_${s}_$l")
      .mkString(",\n   ")
    // one CTE per DP level: DuckDB expands lateral column aliases by
    // SUBSTITUTION, so chaining best_1..best_12 inside one SELECT blows
    // the expression tree up exponentially (probed: the single-SELECT
    // form hangs the planner); a CTE per level keeps every reference a
    // real column
    val dpSteps = (1 to W).map { i =>
      val cands = (1 to math.min(L, i))
        .map(l => s"(best_${i - l} + sc_${i - l}_$l)")
      val best = if (cands.size == 1) cands.head
        else s"greatest(${cands.mkString(", ")})"
      val bl = (1 to math.min(L, i)).map(l =>
        s"WHEN best_${i - l} + sc_${i - l}_$l = best_$i THEN $l")
        .mkString(" ")
      s"""${tag}d$i AS (SELECT *, $best AS best_$i,
 (CASE $bl END)::BIGINT AS bl_$i FROM ${tag}d${i - 1})"""
    }.mkString(",\n")
    def blAt(c: String): String = "(CASE " +
      (1 to W).map(i => s"WHEN $c = $i THEN bl_$i").mkString(" ") + " END)"
    val btSteps = (s"""${tag}b0 AS (SELECT *, len(word)::BIGINT AS c_0,
 ${blAt("c_0")} AS l_0 FROM ${tag}d$W)""" +:
      (1 until W).map(k =>
        s"""${tag}b$k AS (SELECT *,
 (CASE WHEN l_${k - 1} IS NOT NULL THEN c_${k - 1} - l_${k - 1} END) AS c_$k,
 (CASE WHEN c_$k > 0 THEN ${blAt(s"c_$k")} END) AS l_$k FROM ${tag}b${k - 1})"""))
      .mkString(",\n")
    val slots = (W - 1 to 0 by -1).map(k =>
      s"CASE WHEN l_$k IS NOT NULL THEN substr(word, " +
        s"(c_$k - l_$k + 1)::INT, l_$k::INT) END").mkString(",\n     ")
    val bestAt = "(CASE " + (1 to W)
      .map(i => s"WHEN len(word) = $i THEN best_$i").mkString(" ") + " END)"
    s""",
${tag}z AS (SELECT floor(ln((sum(cnt + 1))::DOUBLE) * 1000000)::BIGINT AS z FROM $vocabCte),
${tag}sc AS (SELECT b.word, b.freq, b.s, b.l,
   (coalesce(floor(ln((v.cnt + 1)::DOUBLE) * 1000000)::BIGINT,
             CASE WHEN b.l = 1 THEN 0::BIGINT END) - z.z) AS score
 FROM (SELECT word, freq, s, l, substr(word, (s+1)::INT, l::INT) AS piece
       FROM $wordsCte, range(0, $W) r1(s), range(1, ${L + 1}) r2(l)
       WHERE s < len(word) AND s + l <= len(word)) b
 LEFT JOIN $vocabCte v USING (piece) CROSS JOIN ${tag}z z),
${tag}d0 AS (SELECT word, freq,
   $scCols,
   0::BIGINT AS best_0
 FROM ${tag}sc GROUP BY 1, 2),
$dpSteps,
$btSteps,
${tag}dp AS MATERIALIZED (SELECT word, freq,
   list_filter([
     $slots
   ], x -> x IS NOT NULL) AS pieces,
   $bestAt AS best_qll
  FROM ${tag}b${W - 1})"""
  }

  /** The unigram hard-EM loop as unrolled CTEs (the sqlBpeCtes
    * discipline), mirroring Unigram.learn round for round: seed stats,
    * per-round Viterbi DP block, freq-weighted usage, the
    * chars-never-prune / zero-usage-multis-drop inventory update. */
  private def sqlUnigramCtes: String = sqlUnigramCtesOver("documents")

  private def sqlUnigramCtesOver(table: String): String = {
    val sb = new StringBuilder
    sb ++= s"""uw AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq FROM (
    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
      x -> x <> '' AND len(x) <= $UniW)) AS word FROM $table) GROUP BY 1),
ucand AS (SELECT substr(word, (s+1)::INT, l::INT) AS piece,
    sum(freq)::BIGINT AS cnt
  FROM uw, range(0, $UniW) r1(s), range(1, ${UniL + 1}) r2(l)
  WHERE s < len(word) AND s + l <= len(word) GROUP BY 1),
uchars AS MATERIALIZED (SELECT piece, cnt FROM ucand WHERE len(piece) = 1),
uvoc0 AS MATERIALIZED (SELECT piece, cnt FROM uchars UNION ALL
  SELECT piece, cnt FROM (SELECT piece, cnt FROM ucand WHERE len(piece) >= 2
    ORDER BY cnt DESC, piece LIMIT $UniSeedK) tk)"""
    for (r <- 1 to UniRounds) {
      val p = r - 1
      sb ++= sqlUnigramDp(s"ur$r", "uw", s"uvoc$p")
      sb ++= s""",
uuse$r AS (SELECT piece, sum(freq)::BIGINT AS cnt FROM (
    SELECT freq, unnest(pieces) AS piece FROM ur${r}dp) GROUP BY 1),
uvoc$r AS MATERIALIZED (SELECT c.piece, coalesce(u.cnt, 0)::BIGINT AS cnt
    FROM uchars c LEFT JOIN uuse$r u USING (piece)
  UNION ALL SELECT piece, cnt FROM uuse$r WHERE len(piece) >= 2)"""
    }
    sb.toString
  }

  /** The BPE induction loop as MATERIALIZED unrolled CTEs (the
    * q_pagerank oracle pattern), mirroring TextOps.bpeLoop round for
    * round: per round, freq-weighted adjacent-pair counts, the
    * (count DESC, l, r) argmax winner, and the greedy-L2R re-segmentation
    * via the run-parity rule (merge every matched position when l != r;
    * matched positions at odd rank within each run of `l` symbols when
    * l = r — both validated against the hand fold in TextOpsSpec). */
  private def sqlBpeCtes(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""bw AS (SELECT word, count(*)::BIGINT AS freq FROM (
       |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
       |    x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word FROM documents)
       |  GROUP BY 1),
       |bpos AS (SELECT word, freq, unnest(range(1, len(word)+1))::BIGINT AS pos FROM bw),
       |bseg0 AS MATERIALIZED (SELECT word, freq, pos, substr(word, pos::INT, 1) AS sym FROM bpos)""".stripMargin
    for (r <- 1 to iters) {
      val p = r - 1
      sb ++= s""",
       |bp$r AS (SELECT sym, nxt, sum(freq)::BIGINT AS cnt FROM (
       |   SELECT sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt, freq FROM bseg$p) t
       | WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |bwin$r AS MATERIALIZED (SELECT sym AS l, nxt AS r, cnt FROM bp$r ORDER BY cnt DESC, sym, nxt LIMIT 1),
       |ba$r AS (SELECT s.word, s.freq, s.pos, s.sym, w.l, w.r,
       |   (s.sym = w.l AND lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = w.r) AS m,
       |   (s.sym = w.l) AS f
       | FROM bseg$p s CROSS JOIN bwin$r w),
       |bb$r AS (SELECT *, pos - row_number() OVER (PARTITION BY word, f ORDER BY pos) AS rk FROM ba$r),
       |bc$r AS (SELECT *, (m AND (l <> r OR row_number() OVER (PARTITION BY word, f, rk ORDER BY pos) % 2 = 1)) AS mg FROM bb$r),
       |bd$r AS (SELECT *, lag(mg) OVER (PARTITION BY word ORDER BY pos) AS mp FROM bc$r),
       |bseg$r AS MATERIALIZED (SELECT word, freq,
       |   row_number() OVER (PARTITION BY word ORDER BY pos)::BIGINT AS pos,
       |   CASE WHEN mg THEN l || r ELSE sym END AS sym
       | FROM bd$r WHERE NOT coalesce(mp, FALSE))""".stripMargin
    }
    sb.toString
  }

  /** The snapshot-diff CTE pair: both sides collapsed to (id, content
    * hash, token count), mirroring Curation.snapshotDiff side for side. */
  private def sqlSnapshotCtes: String =
    s"""sdn AS (SELECT doc_id,
       |          CASE WHEN doc_id % 7 = 2 THEN text || ' v2' ELSE text END AS text
       |        FROM documents WHERE doc_id % 11 <> 3
       |        UNION ALL
       |        SELECT doc_id + 100000, text FROM documents WHERE doc_id < 15),
       |sdo2 AS (SELECT doc_id, COALESCE(md5(text), '__NULL_TEXT__') AS ho,
       |          len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |            x -> x <> ''))::BIGINT AS tko
       |        FROM documents),
       |sdn2 AS (SELECT doc_id, COALESCE(md5(text), '__NULL_TEXT__') AS hn,
       |          len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |            x -> x <> ''))::BIGINT AS tkn
       |        FROM sdn)""".stripMargin

  private def sqlSnapshotDiffSelect: String =
    s"""SELECT doc_id,
       |  CASE WHEN ho IS NULL THEN 'added'
       |       WHEN hn IS NULL THEN 'removed'
       |       WHEN ho <> hn THEN 'changed' ELSE 'unchanged' END AS status,
       |  COALESCE(tko, 0)::BIGINT AS n_tokens_old,
       |  COALESCE(tkn, 0)::BIGINT AS n_tokens_new,
       |  (COALESCE(tkn, 0) - COALESCE(tko, 0))::BIGINT AS token_delta
       |FROM sdo2 FULL OUTER JOIN sdn2 USING (doc_id)""".stripMargin

  /** The BPE ENCODE chain: the training CTEs' bwin$r winners replayed in
    * rank order over a held-out slice's vocabulary (TextOps.bpeEncode
    * fold-for-fold) — same reseg algebra, no pair counting. */
  private def sqlBpeEncodeCtes(iters: Int, slice: String): String = {
    val sb = new StringBuilder
    sb ++= s""",
       |ew AS (SELECT word, count(*)::BIGINT AS freq FROM (
       |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
       |    x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word FROM $slice)
       |  GROUP BY 1),
       |epos AS (SELECT word, freq, unnest(range(1, len(word)+1))::BIGINT AS pos FROM ew),
       |eseg0 AS MATERIALIZED (SELECT word, freq, pos, substr(word, pos::INT, 1) AS sym FROM epos)""".stripMargin
    for (r <- 1 to iters) {
      val p = r - 1
      sb ++= s""",
       |ea$r AS (SELECT s.word, s.freq, s.pos, s.sym, w.l, w.r,
       |   (s.sym = w.l AND lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = w.r) AS m,
       |   (s.sym = w.l) AS f
       | FROM eseg$p s CROSS JOIN bwin$r w),
       |eb$r AS (SELECT *, pos - row_number() OVER (PARTITION BY word, f ORDER BY pos) AS rk FROM ea$r),
       |ec$r AS (SELECT *, (m AND (l <> r OR row_number() OVER (PARTITION BY word, f, rk ORDER BY pos) % 2 = 1)) AS mg FROM eb$r),
       |ed$r AS (SELECT *, lag(mg) OVER (PARTITION BY word ORDER BY pos) AS mp FROM ec$r),
       |eseg$r AS MATERIALIZED (SELECT word, freq,
       |   row_number() OVER (PARTITION BY word ORDER BY pos)::BIGINT AS pos,
       |   CASE WHEN mg THEN l || r ELSE sym END AS sym
       | FROM ed$r WHERE NOT coalesce(mp, FALSE))""".stripMargin
    }
    sb.toString
  }

  /** MinHash signature pipeline (norm → tokens → shingles → hashes → sig) as
    * DuckDB CTEs, mirroring Dedup.minhashFromHashes over
    * Dedup.shingleHashes hash-for-hash. */
  private def sqlMinhashCtes: String = sqlMinhashCtesOver("documents")

  /** The MinHash CTE chain over a caller-chosen relation (the
    * sqlKmeansCtesOver pattern) — q_block_quality_sampled audits the
    * deterministic hash slice instead of the full corpus. */
  private def sqlMinhashCtesOver(table: String): String =
    sqlMinhashCtesOver(table, "")

  /** Same chain with every CTE name prefixed — for oracles that must
    * combine it with the contamination chain (whose hsh/cand/shs names
    * would otherwise collide in one WITH). */
  private def sqlMinhashCtesOver(table: String, p: String): String = {
    val perms = (0 until MhN).map { i =>
      val a = 1117 * (i + 1) + 31
      val b = 271828 * (i + 1) + 1828
      s"list_min(list_transform(hs, h -> (h * $a + $b) % 2147483647)) AS s$i"
    }.mkString(", ")
    s"""${p}norm AS (SELECT doc_id, $normSql AS nt FROM $table),
       |${p}tk AS (SELECT doc_id, nt,
       |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM ${p}norm),
       |${p}shg AS (SELECT doc_id,
       |        CASE WHEN len(toks) >= $MhK
       |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
       |                   for i in range(0, len(toks)-$MhK+1)]
       |             ELSE [nt] END AS shingles FROM ${p}tk),
       |${p}hsh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM ${p}shg),
       |${p}sig AS (SELECT doc_id, [${(0 until MhN).map("s" + _).mkString(", ")}] AS sig
       |        FROM (SELECT doc_id, $perms FROM ${p}hsh)),
       |${p}banded AS (SELECT doc_id, sig,
       |        b.b::VARCHAR || '_' ||
       |          array_to_string(list_slice(sig, b.b*$MhRows+1, (b.b+1)*$MhRows), ',') AS bucket
       |        FROM ${p}sig, (SELECT unnest(range(0,$MhBands)) AS b) b),
       |${p}cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |        len([i for i in range(1,${MhN + 1}) if a.sig[i] = b.sig[i]])::DOUBLE / $MhN AS est_jaccard
       |        FROM ${p}banded a JOIN ${p}banded b USING (bucket) WHERE a.doc_id < b.doc_id)""".stripMargin
  }

  /** The dHash → banding → verified-pair chain over the fake-payload hex
    * (Multimodal.dHash / imageDupPairs fold-for-fold): byte(p) =
    * ('0x' || substr(h, p*2+1, 2))::BIGINT, positions (j·(nb−1)) // 60,
    * the 60-bit fold acc·2+bit, 3 bands of 20 bits, exact Hamming. */
  private def sqlImageDupCtes: String =
    s"""hx AS (SELECT doc_id,
       |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
       |      FROM documents),
       |hb AS (SELECT doc_id, h, (length(h) // 2)::BIGINT AS nb FROM hx),
       |isig AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
       |    [CASE WHEN ('0x' || substr(h, (((j*(nb-1)) // 60) * 2 + 1)::INT, 2))::BIGINT
       |           > ('0x' || substr(h, ((((j+1)*(nb-1)) // 60) * 2 + 1)::INT, 2))::BIGINT
       |     THEN 1 ELSE 0 END::BIGINT for j in range(0, 60)]),
       |    (a, b) -> a * 2 + b) AS sg FROM hb),
       |ibnd AS (SELECT doc_id, sg,
       |    b.b::VARCHAR || '_' || ((sg >> (b.b*20)) & 1048575)::VARCHAR AS bk
       |  FROM isig, (SELECT unnest(range(0, 3)) AS b) b),
       |ipairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.sg, b.sg))::BIGINT AS hamming
       |  FROM ibnd a JOIN ibnd b USING (bk) WHERE a.doc_id < b.doc_id)""".stripMargin

  /** The audio fingerprint chain over the fake payloads' hex (Multimodal
    * .energyProfile at frameBytes 1 → energySig → hammingBandPairs,
    * fold-for-fold): energy[i] = |byte_i − 128|, sample positions via
    * BIGINT //, the 60-bit acc·2+bit fold, 3 bands of 20 bits, exact
    * bit_count Hamming. */
  private def sqlAudioDupCtes: String =
    s"""ahx AS (SELECT doc_id,
       |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
       |      FROM documents),
       |aen AS (SELECT doc_id,
       |        [abs(('0x' || substr(h, 2*i+1, 2))::BIGINT - 128)
       |         for i in range(0, (length(h)/2)::INT)] AS e
       |      FROM ahx WHERE length(h) > 0),
       |asg AS (SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
       |    [CASE WHEN e[((j*(len(e)-1)) // 60)::INT + 1]
       |             > e[(((j+1)*(len(e)-1)) // 60)::INT + 1]
       |     THEN 1 ELSE 0 END::BIGINT for j in range(0, 60)]),
       |    (a, b) -> a * 2 + b) AS sg FROM aen),
       |abnd AS (SELECT doc_id, sg,
       |    b.b::VARCHAR || '_' || ((sg >> (b.b*20)) & 1048575)::VARCHAR AS bk
       |  FROM asg, (SELECT unnest(range(0, 3)) AS b) b),
       |apairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    bit_count(xor(a.sg, b.sg))::BIGINT AS hamming
       |  FROM abnd a JOIN abnd b USING (bk) WHERE a.doc_id < b.doc_id)""".stripMargin

  /** Hyperplane-LSH bucket + exact sequential cosine as DuckDB CTEs,
    * mirroring Similarity.hyperplaneSig / Similarity.cosine fold-for-fold
    * (left fold from 0.0 over doubles → bit-identical IEEE results). */
  private def sqlEmbSigCte: String = sqlEmbSigCteAt("esig", 0)

  /** Same signature CTE under a caller-chosen name and plane-family offset
    * (bit p uses plane offset+p, exactly like Similarity.hyperplaneSig). */
  private def sqlEmbSigCteAt(name: String, planeOffset: Int): String = {
    val sigBits = (0 until LshPlanes).map { p =>
      val planeDot =
        s"""list_reduce(list_prepend(0.0::DOUBLE,
           |          [CASE WHEN ${sqlMd5Int(s"(${planeOffset + p}::VARCHAR || ':' || d::VARCHAR)")} & 1 = 1
           |                THEN embedding[d+1]::DOUBLE ELSE -(embedding[d+1]::DOUBLE) END
           |           for d in range(0,$EmbDims)]), (a,b) -> a+b)""".stripMargin
      s"(CASE WHEN $planeDot >= 0 THEN ${1L << p}::BIGINT ELSE 0 END)"
    }.mkString(" + ")
    s"$name AS (SELECT vec_id, embedding, $sigBits AS bucket FROM embeddings)"
  }

  /** IVF cell-probe search over any `cent(cell_id, embedding)` CTE —
    * mirrors Similarity.ivfTopK assignment/probe/rank step-for-step. */
  private def sqlIvfSearch(centDef: String): String =
    s"""WITH $centDef,
       |asg AS (SELECT neighbor_id, cell_id FROM (
       |  SELECT e.vec_id AS neighbor_id, c.cell_id,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${sqlCosine("e.embedding", "c.embedding")} DESC, c.cell_id) AS rn
       |  FROM embeddings e, cent c) WHERE rn = 1),
       |prb AS (SELECT query_id, cell_id FROM (
       |  SELECT q.vec_id AS query_id, c.cell_id,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${sqlCosine("q.embedding", "c.embedding")} DESC, c.cell_id) AS rn
       |  FROM embeddings q, cent c WHERE q.vec_id < 64) WHERE rn <= $IvfNprobe),
       |scored AS (SELECT p.query_id, a.neighbor_id,
       |    ${sqlCosine("q.embedding", "e.embedding")} AS score
       |  FROM prb p JOIN asg a ON p.cell_id = a.cell_id
       |  JOIN embeddings q ON q.vec_id = p.query_id
       |  JOIN embeddings e ON e.vec_id = a.neighbor_id
       |  WHERE p.query_id <> a.neighbor_id),
       |r AS (SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3""".stripMargin

  /** Deterministic Lloyd's k-means as chained CTEs, mirroring
    * Similarity.kmeansCentroids round-for-round: cosine assignment with
    * smaller-cell tiebreak, then per-cell element-wise means folded in
    * sorted-id member order (list(… ORDER BY id) + sequential list_reduce),
    * so every double matches Spark bit-for-bit. */
  /** PQ chain: one sliced k-means CTE chain per subspace (same shape as
    * sqlKmeansCtesOver, with every vector access offset into its slice),
    * then per-subspace nearest-centroid assignment, reconstruction by list
    * concatenation, and full-dimension fold scoring — mirrors
    * Similarity.pqTopK / VectorKernels.pqReconstruct stage for stage. */
  private def sqlPqCtes: String = sqlPqCtesOver("embeddings")

  private def sqlPqCtesOver(trainSrc: String): String = {
    val sub = EmbDims / PqM
    def dot2(x: String, xo: Int, y: String, yo: Int) =
      s"list_reduce(list_prepend(0.0::DOUBLE, [$x[$xo + i + 1]::DOUBLE * " +
        s"$y[$yo + i + 1]::DOUBLE for i in range(0,$sub)]), (p,q) -> p+q)"
    def cosSlice(x: String, xo: Int, y: String) =
      s"${dot2(x, xo, y, 0)} / (sqrt(${dot2(x, xo, x, xo)}) * sqrt(${dot2(y, 0, y, 0)}))"
    val chains = (0 until PqM).map { mi =>
      val off = mi * sub
      val init = s"cent0_m$mi AS (SELECT se.vec_id AS cell_id, " +
        s"[se.embedding[$off+d+1]::DOUBLE for d in range(0,$sub)] AS cvec " +
        s"FROM $trainSrc se WHERE se.vec_id < $IvfNlist)"
      val rounds = (1 to IvfIters).map { t =>
        val prev = s"cent${t - 1}_m$mi"
        s"""asg${t}_m$mi AS (SELECT id, cell_id, vec FROM (
           |  SELECT e.vec_id AS id, c.cell_id, e.embedding AS vec,
           |    row_number() OVER (PARTITION BY e.vec_id
           |      ORDER BY ${cosSlice("e.embedding", off, "c.cvec")} DESC, c.cell_id) AS rn
           |  FROM $trainSrc e, $prev c) WHERE rn = 1),
           |mem${t}_m$mi AS (SELECT cell_id, list(vec ORDER BY id) AS vs
           |                 FROM asg${t}_m$mi GROUP BY cell_id),
           |cent${t}_m$mi AS (SELECT cell_id,
           |  [list_reduce(list_prepend(0.0::DOUBLE,
           |     [vs[m][$off+d+1]::DOUBLE for m in range(1, len(vs)+1)]), (a,b) -> a+b)
           |   / len(vs)::DOUBLE for d in range(0,$sub)] AS cvec FROM mem${t}_m$mi)""".stripMargin
      }
      (init +: rounds).mkString(",\n")
    }
    val encs = (0 until PqM).map { mi =>
      val off = mi * sub
      s"""enc_m$mi AS (SELECT vec_id, cvec FROM (
         |  SELECT e.vec_id, c.cvec,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSlice("e.embedding", off, "c.cvec")} DESC, c.cell_id) AS rn
         |  FROM embeddings e, cent${IvfIters}_m$mi c) WHERE rn = 1)""".stripMargin
    }
    val recon = s"recon AS (SELECT e0.vec_id, " +
      (0 until PqM).map(mi => s"e$mi.cvec").mkString(" || ") +
      " AS rv FROM enc_m0 e0 " +
      (1 until PqM).map(mi => s"JOIN enc_m$mi e$mi USING (vec_id)").mkString(" ") + ")"
    (chains ++ encs :+ recon).mkString(",\n")
  }

  /** Scalar-quantization chain through the per-pair scores `s` (queries =
    * vec_id < 8) — shared by q_sq_topk and q_sq_recall. */
  private def sqlSqCtes: String = {
    val span = "(b.maxs[i+1] - b.mins[i+1])"
    s"""d AS (SELECT unnest(range(0, $EmbDims)) AS dim),
       |pb AS (SELECT d.dim, min(e.embedding[d.dim+1]::DOUBLE) AS mn,
       |         max(e.embedding[d.dim+1]::DOUBLE) AS mx
       |       FROM embeddings e, d GROUP BY d.dim),
       |b AS (SELECT list(mn ORDER BY dim) AS mins, list(mx ORDER BY dim) AS maxs FROM pb),
       |enc AS (SELECT e.vec_id AS neighbor_id,
       |        [b.mins[i+1] + ((CASE WHEN $span > 0
       |             THEN LEAST(255, GREATEST(0,
       |               floor((e.embedding[i+1]::DOUBLE - b.mins[i+1]) / $span * 255)))
       |             ELSE 0 END - 128)::TINYINT::DOUBLE + 128.0) * ($span / 255.0)
       |          for i in range(0, $EmbDims)] AS deq
       |        FROM embeddings e, b),
       |s AS (SELECT q.vec_id AS query_id, n.neighbor_id,
       |        list_reduce(list_prepend(0.0::DOUBLE,
       |          [n.deq[i+1] * q.embedding[i+1]::DOUBLE for i in range(0, $EmbDims)]),
       |          (p, q) -> p + q) AS score
       |      FROM enc n, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
       |      WHERE n.neighbor_id <> q.vec_id)""".stripMargin
  }

  private def sqlKmeansCtes: String = sqlKmeansCtesOver("embeddings")

  /** Same k-means chain trained over an arbitrary source relation (the
    * deterministic-sample variant passes a filtered subquery). */
  private def sqlKmeansCtesOver(trainSrc: String): String = {
    val init = s"cent0 AS (SELECT vec_id AS cell_id, " +
      s"[embedding[d+1]::DOUBLE for d in range(0,$EmbDims)] AS cvec " +
      s"FROM embeddings WHERE vec_id < $IvfNlist)"
    val rounds = (1 to IvfIters).map { t =>
      val prev = s"cent${t - 1}"
      s"""asg$t AS (SELECT id, cell_id, vec FROM (
         |  SELECT e.vec_id AS id, c.cell_id, e.embedding AS vec,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC, c.cell_id) AS rn
         |  FROM $trainSrc e, $prev c) WHERE rn = 1),
         |mem$t AS (SELECT cell_id, list(vec ORDER BY id) AS vs FROM asg$t GROUP BY cell_id),
         |cent$t AS (SELECT cell_id,
         |  [list_reduce(list_prepend(0.0::DOUBLE,
         |     [vs[m][d+1]::DOUBLE for m in range(1, len(vs)+1)]), (a,b) -> a+b)
         |   / len(vs)::DOUBLE for d in range(0,$EmbDims)] AS cvec FROM mem$t)""".stripMargin
    }
    (init +: rounds).mkString(",\n")
  }

  /** Near-dup cluster CTE chain: minhash-LSH verified pairs, symmetric
    * edges, and the recursive min-label closure (`reach`), shared by
    * q_dup_clusters and q_dedup_keep. */
  private def sqlDupClusterCtes: String =
    s"""$sqlMinhashCtes,
       |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh),
       |verified AS (SELECT c.doc_a, c.doc_b
       |  FROM cand c JOIN shs a ON c.doc_a = a.doc_id JOIN shs b ON c.doc_b = b.doc_id
       |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
       |    len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
       |eg AS (SELECT doc_a AS s, doc_b AS d FROM verified
       |       UNION SELECT doc_b, doc_a FROM verified),
       |reach(node, lbl) AS (
       |  SELECT s, s FROM eg
       |  UNION
       |  SELECT e.s, r.lbl FROM eg e JOIN reach r ON e.d = r.node)""".stripMargin

  /** Brute-force edit-distance oracles, shared verbatim by the
    * prefix-filter queries and their segment-scheme twins — both candidate
    * generations must reproduce the exact all-pairs result. */
  private def sqlFuzzyPairsOracle: String =
    """WITH st AS (SELECT doc_id, substr(text, 1, 24) AS head FROM documents
      |            WHERE length(substr(text, 1, 24)) >= 15)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       levenshtein(a.head, b.head)::BIGINT AS dist
      |FROM st a JOIN st b ON a.doc_id < b.doc_id
      |WHERE levenshtein(a.head, b.head) <= 2""".stripMargin

  /** Fellegi-Sunter oracle: brute-force fuzzy candidates + per-field
    * Laplace-smoothed u-stats + the quantized agree/disagree weights,
    * mirroring Dedup.linkageScore's algebra field by field. */
  private def linkageOracleSql(fields: Seq[String],
                               mNum: Long, mDen: Long): String = {
    def d(f: String) = s"(s_$f.n * (s_$f.n - 1))"
    def wAgree(f: String) =
      s"""floor(ln(($mNum * (${d(f)} + 2))::DOUBLE) * 1000000)::BIGINT
         |     - floor(ln(($mDen * (s_$f.u + 1))::DOUBLE) * 1000000)::BIGINT"""
        .stripMargin
    def wDis(f: String) =
      s"""floor(ln((${mDen - mNum} * (${d(f)} + 2))::DOUBLE) * 1000000)::BIGINT
         |     - floor(ln(($mDen * (${d(f)} - s_$f.u + 1))::DOUBLE) * 1000000)::BIGINT"""
        .stripMargin
    def known(f: String) = s"a.$f IS NOT NULL AND b.$f IS NOT NULL"
    val statsCtes = fields.map { f =>
      s"""s_$f AS (SELECT coalesce(sum(c * (c - 1)), 0)::BIGINT AS u,
         |           coalesce(sum(c), 0)::BIGINT AS n
         |         FROM (SELECT count(*)::BIGINT AS c FROM rec
         |               WHERE $f IS NOT NULL GROUP BY $f))""".stripMargin
    }.mkString(",\n")
    val score = fields.map { f =>
      s"""CASE WHEN ${known(f)} THEN
         |    CASE WHEN a.$f = b.$f THEN ${wAgree(f)}
         |    ELSE ${wDis(f)} END
         |  ELSE 0 END""".stripMargin
    }.mkString(" + ")
    val nAgree = fields.map(f =>
      s"CASE WHEN ${known(f)} AND a.$f = b.$f THEN 1 ELSE 0 END")
      .mkString(" + ")
    val nKnown = fields.map(f =>
      s"CASE WHEN ${known(f)} THEN 1 ELSE 0 END").mkString(" + ")
    val statsFrom = fields.map(f => s"s_$f").mkString(", ")
    s"""WITH st AS (SELECT doc_id, substr(text, 1, 24) AS head FROM documents
       |            WHERE length(substr(text, 1, 24)) >= 15),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |      FROM st a JOIN st b ON a.doc_id < b.doc_id
       |      WHERE levenshtein(a.head, b.head) <= 2),
       |rec AS (SELECT doc_id, lang, source, n_chars // 16 AS len_bucket
       |        FROM documents),
       |$statsCtes
       |SELECT p.doc_a, p.doc_b,
       |  ($nAgree)::BIGINT AS n_agree,
       |  ($nKnown)::BIGINT AS n_known,
       |  ($score)::BIGINT AS score_scaled,
       |  ($score)::BIGINT::DOUBLE / 1000000 AS score
       |FROM p JOIN rec a ON a.doc_id = p.doc_a
       |       JOIN rec b ON b.doc_id = p.doc_b, $statsFrom""".stripMargin
  }

  private def sqlFuzzyResolveOracle: String =
    s"""WITH RECURSIVE $sqlDupClusterCtes,
       |cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
       |lh AS (SELECT doc_id, substr(text, 1, 24) AS head FROM documents
       |       WHERE length(substr(text, 1, 24)) >= 15),
       |rh AS (SELECT doc_id, head FROM lh
       |       WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE cluster_id <> doc_id))
       |SELECT l.doc_id AS left_id, r.doc_id AS right_id,
       |       levenshtein(l.head, r.head)::BIGINT AS dist
       |FROM lh l JOIN rh r ON levenshtein(l.head, r.head) <= 2""".stripMargin

  /** Winnowing pairs pipeline (normalize → shingle-hash → winnow select →
    * fp equi-join candidates → exact Jaccard verify); `candFilter` appends
    * the optional too-common fingerprint cutoff to the candidate CTE. */
  private def sqlWinnowPairs(candFilter: String): String = {
    val jacc = "len(list_intersect(a.sh, b.sh))::DOUBLE / " +
      "len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE"
    s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
       |ntk AS (SELECT doc_id, nt,
       |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
       |nshg AS (SELECT doc_id,
       |        CASE WHEN len(toks) >= $MhK
       |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
       |                   for i in range(0, len(toks)-$MhK+1)]
       |             ELSE [nt] END AS shingles FROM ntk),
       |hsh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
       |wfp AS (SELECT doc_id,
       |        CASE WHEN len(hs) < $WinnowW THEN [list_min(hs)]
       |             ELSE list_distinct([list_min(list_slice(hs, i+1, i+$WinnowW))
       |                                 for i in range(0, len(hs)-$WinnowW+1)]) END AS fps
       |        FROM hsh),
       |fpr AS (SELECT doc_id, unnest(fps) AS fp_hash FROM wfp),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM fpr a JOIN fpr b USING (fp_hash) WHERE a.doc_id < b.doc_id$candFilter),
       |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)
       |SELECT c.doc_a, c.doc_b, $jacc AS jaccard
       |FROM cand c JOIN shs a ON c.doc_a = a.doc_id JOIN shs b ON c.doc_b = b.doc_id
       |WHERE $jacc >= 0.5""".stripMargin
  }

  /** Sequential-fold cosine between two embedding columns in DuckDB. */
  private def sqlCosine(a: String, b: String): String = {
    def dotSql(x: String, y: String) =
      s"""list_reduce(list_prepend(0.0::DOUBLE,
         |      [$x[i+1]::DOUBLE * $y[i+1]::DOUBLE for i in range(0,$EmbDims)]), (p,q) -> p+q)""".stripMargin
    s"${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
  }

  /** Unrolled MMR oracle (the lpaOracleCtes discipline): pool = the
    * poolK-deep exact-cosine lists, then k greedy steps — each step's
    * candidate scores join the picked-so-far set, max-sim via the shared
    * cosine chain, argmax with the (score DESC, id) tie rule, λ = 1/2 as
    * the same fixed double chain as mmrTopK. */
  private def mmrOracleSql(queryPred: String, poolK: Int, k: Int): String = {
    val steps = (2 to k).map { i =>
      val prev = s"picked${i - 1}"
      s"""rem$i AS (SELECT p.* FROM pool p
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev s
         |                    WHERE s.query_id = p.query_id
         |                      AND s.nid = p.nid)),
         |sc$i AS (SELECT r.query_id, r.nid, max(r.rel) AS rel,
         |           max(r.nv) AS nv,
         |           max(${sqlCosine("r.nv", "s.nv")}) AS ms
         |         FROM rem$i r JOIN $prev s USING (query_id)
         |         GROUP BY 1, 2),
         |sel$i AS (SELECT query_id, ${i}::BIGINT AS pick_rank, nid, nv,
         |            (1.0 * rel - 1.0 * ms) / 2.0 AS score
         |          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |                  ORDER BY (1.0 * rel - 1.0 * ms) / 2.0 DESC, nid)
         |                  AS rn
         |                FROM sc$i) WHERE rn = 1),
         |picked$i AS (SELECT * FROM picked${i - 1}
         |             UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe
       |           FROM embeddings WHERE $queryPred),
       |s AS (SELECT q.query_id, e.vec_id AS nid, e.embedding AS nv,
       |        ${sqlCosine("q.qe", "e.embedding")} AS rel
       |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |pool AS (SELECT query_id, nid, nv, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY rel DESC, nid) AS rn FROM s) WHERE rn <= $poolK),
       |picked1 AS (SELECT query_id, 1::BIGINT AS pick_rank, nid, nv,
       |              (1.0 * rel) / 2.0 AS score
       |            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |                    ORDER BY rel DESC, nid) AS rn FROM pool)
       |            WHERE rn = 1),
       |$steps
       |SELECT query_id, pick_rank, nid AS neighbor_id,
       |  floor(score * 1000000) / 1000000 AS mmr_score
       |FROM picked$k""".stripMargin
  }

  /** The q_ann_cosine ranked lists + label-match relevance as a CTE chain
    * ending in jrel(query_id, rank, rel) — the shared oracle input of
    * q_ndcg/q_mrr, mirroring annLabelRelevance exactly (NULL labels → 0:
    * unknown ≠ relevant). */
  private lazy val sqlAnnRelCtes: String =
    s"""q AS (SELECT vec_id AS query_id, embedding AS qe, label AS ql
       |      FROM embeddings WHERE vec_id < 8),
       |s AS (SELECT q.query_id, q.ql, e.vec_id AS neighbor_id,
       |        e.label AS nl, ${sqlCosine("q.qe", "e.embedding")} AS score
       |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |r AS (SELECT query_id, ql, neighbor_id, nl,
       |        row_number() OVER (PARTITION BY query_id
       |          ORDER BY score DESC, neighbor_id) AS rank
       |      FROM s),
       |jrel AS (SELECT query_id, rank,
       |           (CASE WHEN nl = ql THEN 1 ELSE 0 END)::BIGINT AS rel
       |         FROM r WHERE rank <= 5)""".stripMargin

  private val evMs   = "epoch_ms(ts)"
  private val arrCte =
    s"SELECT event_id, $evMs AS ms, $evMs + (event_id % 5) * 1800000 AS arr_ms FROM events"
  private val normSql =
    "trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))"
  private val toksSql =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"

  private def inList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Shared by q_session_funnel (batch sessionize ∘ funnel) and
    * q_session_funnel_stream (session-aware state machine in batch mode):
    * both must emit this exact (skey, t0, t1, t2) set. user_id IS NOT NULL
    * up front — the events-oracle convention (and the Spark side's
    * concat_ws would otherwise skip a NULL the || here propagates). */
  private val sessionFunnelOracle =
    s"""WITH x AS (SELECT event_id, user_id, event_type, $evMs AS ms,
       |        lag($evMs) OVER (PARTITION BY user_id
       |                         ORDER BY $evMs, event_id) AS prev
       |      FROM events WHERE user_id IS NOT NULL),
       |sx AS (SELECT event_id, user_id, event_type, ms,
       |        (sum(CASE WHEN prev IS NULL OR ms - prev > $D
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY user_id ORDER BY ms, event_id
       |                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
       |      FROM x),
       |sk AS (SELECT user_id::VARCHAR || ':' || session_seq::VARCHAR
       |          AS skey, event_type, ms FROM sx),
       |v AS (SELECT skey, min(ms) AS t0 FROM sk
       |      WHERE event_type = 'view' GROUP BY skey),
       |c AS (SELECT e.skey, v.t0, min(e.ms) AS t1
       |      FROM sk e JOIN v ON e.skey = v.skey
       |      WHERE e.event_type = 'click' AND e.ms > v.t0
       |      GROUP BY e.skey, v.t0)
       |SELECT e.skey, c.t0, c.t1, min(e.ms) AS t2
       |FROM sk e JOIN c ON e.skey = c.skey
       |WHERE e.event_type = 'purchase' AND e.ms > c.t1
       |GROUP BY e.skey, c.t0, c.t1""".stripMargin

  /** Shared by q_transitions2 (batch lag pair) and q_transitions2_stream
    * (last-two-kinds state machine in batch mode). */
  private val transitions2Oracle =
    """WITH seq AS (SELECT user_id, event_type,
      |        lag(event_type, 1) OVER w AS p1,
      |        lag(event_type, 2) OVER w AS p2
      |      FROM events
      |      WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |        AND user_id IS NOT NULL
      |      WINDOW w AS (PARTITION BY user_id
      |                   ORDER BY epoch_ms(ts), event_id)),
      |c AS (SELECT p2 AS from2_state, p1 AS from1_state,
      |        event_type AS to_state, count(*)::BIGINT AS n
      |      FROM seq WHERE p1 IS NOT NULL AND p2 IS NOT NULL
      |      GROUP BY 1, 2, 3),
      |t AS (SELECT from2_state, from1_state, sum(n)::BIGINT AS n_from
      |      FROM c GROUP BY 1, 2)
      |SELECT c.from2_state, c.from1_state, c.to_state, n, n_from,
      |  floor(n::DOUBLE / n_from::DOUBLE * 1000000) / 1000000 AS prob
      |FROM c JOIN t USING (from2_state, from1_state)""".stripMargin

  /** Shared by q_streak_ends (batch islands) and q_streak_ends_stream
    * (two-long state machine in batch mode): closed runs only — each
    * user's final island is still open and excluded by both forms. */
  private val streakEndsOracle =
    """WITH d AS (SELECT DISTINCT user_id,
      |        (epoch_ms(ts) // 86400000) AS day
      |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |i AS (SELECT user_id, day,
      |        day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |          AS isl
      |      FROM d),
      |runs AS (SELECT user_id, isl, min(day)::BIGINT AS start_day,
      |        max(day)::BIGINT AS end_day, count(*)::BIGINT AS len
      |      FROM i GROUP BY 1, 2),
      |mx AS (SELECT user_id, max(end_day) AS me FROM runs GROUP BY 1)
      |SELECT r.user_id, r.start_day, r.end_day, r.len
      |FROM runs r JOIN mx ON r.user_id = mx.user_id AND r.end_day < mx.me"""
      .stripMargin

  /** Shared by q_quantile_norm and its checked sketch twin (which appends
    * the guaranteed-TRUE rank-space verdict, the q_outliers_approx
    * convention — the approx estimate itself never leaves the engine). */
  private def quantileNormOracleSql(withBound: Boolean): String =
    s"""WITH s AS (SELECT event_type, event_id,
       |        floor(value * 100)::BIGINT AS c
       |      FROM events WHERE value IS NOT NULL),
       |r AS (SELECT event_type, event_id, c,
       |        row_number() OVER (PARTITION BY event_type
       |                           ORDER BY c, event_id) AS r,
       |        count(*) OVER (PARTITION BY event_type) AS n
       |      FROM s),
       |tot AS (SELECT count(*)::BIGINT AS nn FROM s),
       |grid AS (SELECT c AS v, count(*) AS cnt FROM s GROUP BY 1),
       |gp AS (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS pc FROM grid),
       |t AS (SELECT event_type, event_id, c,
       |        (r::HUGEINT * nn + n - 1) // n AS tr FROM r, tot)
       |SELECT t.event_type, t.event_id, t.c AS cents,
       |  gp.v::BIGINT AS qn_value${if (withBound) ",\n  TRUE AS within_bound" else ""}
       |FROM t JOIN gp ON t.tr > gp.pc - gp.cnt AND t.tr <= gp.pc"""
      .stripMargin

  /** The funnel's CTE preamble (through the kept set cs5) — shared by the
    * funnel card oracle and q_shard_manifest's export oracle. */
  private lazy val sqlCurationFunnelCtes: String =
      s"""$sqlContaminationCtes,
         |${sqlMinhashCtesOver("documents", "m")},
         |${sqlLogregCtes(LrRounds)},
         |$sqlUnigramCtes${sqlUnigramDp("ua", "uw", s"uvoc$UniRounds")},
         |cf0 AS (SELECT * FROM (SELECT doc_id, lang,
         |        len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
         |          x -> x <> ''))::BIGINT AS nt
         |      FROM documents WHERE text IS NOT NULL) t WHERE nt > 0),
         |cdd AS (SELECT min(doc_id) AS doc_id FROM (
         |      SELECT doc_id, md5($normSql) AS fp FROM documents) GROUP BY fp),
         |mshs AS (SELECT doc_id, list_distinct(hs) AS sh FROM mhsh),
         |cnd AS (SELECT DISTINCT c.doc_b AS doc_id
         |      FROM mcand c JOIN mshs a ON c.doc_a = a.doc_id
         |                   JOIN mshs b ON c.doc_b = b.doc_id
         |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
         |ccont AS (SELECT DISTINCT c.doc_id
         |      FROM cand c JOIN shs a ON c.doc_id = a.doc_id
         |                  JOIN shs b ON c.bench_id = b.doc_id
         |      WHERE $sqlContainmentExpr >= 0.05 AND c.doc_id <> c.bench_id),
         |clq AS (SELECT f.doc_id FROM lf f CROSS JOIN lw$LrRounds w
         |      WHERE floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT >= 500000),
         |cdw AS (SELECT doc_id, lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT doc_id, lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents) GROUP BY 1, 2, 3),
         |cdp AS (SELECT d.doc_id, d.lang,
         |        sum(d.n * len(a.pieces))::BIGINT AS np,
         |        (-sum(d.n * a.best_qll))::BIGINT AS nll
         |      FROM cdw d JOIN uadp a USING (word) GROUP BY 1, 2),
         |cph AS (SELECT doc_id FROM (
         |      SELECT doc_id, ntile(3) OVER (PARTITION BY lang
         |        ORDER BY nll // np, doc_id) AS b FROM cdp) t WHERE b <> 3),
         |cs1 AS (SELECT f.* FROM cf0 f
         |      WHERE EXISTS (SELECT 1 FROM cdd d WHERE d.doc_id = f.doc_id)),
         |cs2 AS (SELECT f.* FROM cs1 f
         |      WHERE NOT EXISTS (SELECT 1 FROM cnd n WHERE n.doc_id = f.doc_id)),
         |cs3 AS (SELECT f.* FROM cs2 f
         |      WHERE NOT EXISTS (SELECT 1 FROM ccont c WHERE c.doc_id = f.doc_id)),
         |cs4 AS (SELECT f.* FROM cs3 f
         |      WHERE EXISTS (SELECT 1 FROM clq q WHERE q.doc_id = f.doc_id)),
         |cs5 AS (SELECT f.* FROM cs4 f
         |      WHERE EXISTS (SELECT 1 FROM cph p WHERE p.doc_id = f.doc_id))""".stripMargin

  /** q_curation_funnel's oracle text, shared verbatim with
    * q_curation_funnel_stream: one SQL truth, two execution paths
    * (batch semi/anti joins vs the five chained ingest gates). */
  private lazy val sqlCurationFunnelOracle: String =
      s"""WITH $sqlCurationFunnelCtes
         |SELECT 0::BIGINT AS stage_idx, 'ingested' AS stage,
         |  count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens FROM cf0
         |UNION ALL SELECT 1::BIGINT, 'exact_dedup', count(*)::BIGINT,
         |  sum(nt)::BIGINT FROM cs1
         |UNION ALL SELECT 2::BIGINT, 'near_dedup', count(*)::BIGINT,
         |  sum(nt)::BIGINT FROM cs2
         |UNION ALL SELECT 3::BIGINT, 'decontaminated', count(*)::BIGINT,
         |  sum(nt)::BIGINT FROM cs3
         |UNION ALL SELECT 4::BIGINT, 'quality_kept', count(*)::BIGINT,
         |  sum(nt)::BIGINT FROM cs4
         |UNION ALL SELECT 5::BIGINT, 'ppl_head', count(*)::BIGINT,
         |  sum(nt)::BIGINT FROM cs5""".stripMargin

  /** q_data_card's oracle text — shared with the composed
    * q_release_card oracle. */
  private lazy val sqlDataCardOracle: String =
      s"""WITH base AS (SELECT source, count(*)::BIGINT AS n_docs,
         |        count(DISTINCT lang)::BIGINT AS n_langs,
         |        sum(n_chars)::BIGINT AS total_chars
         |      FROM documents GROUP BY 1),
         |tq AS (SELECT source,
         |        sum(len($toksSql))::BIGINT AS total_tokens,
         |        sum(len(list_filter($toksSql,
         |          x -> x IN ${inList(stopEn)})))::BIGINT AS total_stop
         |      FROM documents GROUP BY 1),
         |dd AS (SELECT source,
         |        count(DISTINCT md5($normSql))::BIGINT AS n_distinct
         |      FROM documents GROUP BY 1)
         |SELECT b.source, b.n_docs, b.n_langs, t.total_tokens,
         |  floor(b.total_chars::DOUBLE / b.n_docs * 1000000) / 1000000
         |    AS mean_chars,
         |  floor((b.n_docs - d.n_distinct)::DOUBLE / b.n_docs * 1000000)
         |    / 1000000 AS dup_rate,
         |  CASE WHEN t.total_tokens > 0 THEN
         |    floor(t.total_stop::DOUBLE / t.total_tokens * 1000000)
         |      / 1000000
         |  END AS stop_ratio
         |FROM base b JOIN tq t USING (source) JOIN dd d USING (source)""".stripMargin

  /** q_tokenizer_compare's oracle text — shared with q_release_card. */
  private lazy val sqlTokenizerCompareOracle: String =
      s"""WITH ${sqlBpeCtes(BpeIters)},
         |$sqlUnigramCtes${sqlUnigramDp("ua", "uw", s"uvoc$UniRounds")},
         |tcsgb AS (SELECT word, count(*)::BIGINT AS np
         |        FROM bseg$BpeIters GROUP BY 1),
         |tcsgu AS (SELECT word, len(pieces)::BIGINT AS np FROM uadp),
         |tcwb AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word
         |    FROM documents) GROUP BY 1, 2),
         |tchb AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word
         |    FROM documents WHERE doc_id % 7 = 3) GROUP BY 1, 2),
         |tcwu AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents) GROUP BY 1, 2),
         |tchu AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents WHERE doc_id % 7 = 3) GROUP BY 1, 2),
         |tcfb AS (SELECT w.lang, sum(w.n)::BIGINT AS bpe_n_words,
         |        floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |              * 1000000) / 1000000 AS bpe_fertility
         |      FROM tcwb w JOIN tcsgb s USING (word) GROUP BY 1),
         |tcgb AS (SELECT w.lang,
         |        floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |              * 1000000) / 1000000 AS bpe_fertility_heldout
         |      FROM tchb w JOIN tcsgb s USING (word) GROUP BY 1),
         |tcfu AS (SELECT w.lang, sum(w.n)::BIGINT AS uni_n_words,
         |        floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |              * 1000000) / 1000000 AS uni_fertility
         |      FROM tcwu w JOIN tcsgu s USING (word) GROUP BY 1),
         |tcgu AS (SELECT w.lang,
         |        floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |              * 1000000) / 1000000 AS uni_fertility_heldout
         |      FROM tchu w JOIN tcsgu s USING (word) GROUP BY 1),
         |tcv AS (SELECT
         |        (SELECT count(DISTINCT sym) FROM bseg$BpeIters)::BIGINT
         |          AS bpe_vocab,
         |        (SELECT count(*) FROM uvoc$UniRounds)::BIGINT AS uni_vocab)
         |SELECT b.lang, b.bpe_n_words, b.bpe_fertility,
         |  gb.bpe_fertility_heldout,
         |  floor((gb.bpe_fertility_heldout - b.bpe_fertility) * 1000000)
         |    / 1000000 AS bpe_gap,
         |  u.uni_n_words, u.uni_fertility, gu.uni_fertility_heldout,
         |  floor((gu.uni_fertility_heldout - u.uni_fertility) * 1000000)
         |    / 1000000 AS uni_gap,
         |  v.bpe_vocab, v.uni_vocab
         |FROM tcfb b JOIN tcgb gb USING (lang) JOIN tcfu u USING (lang)
         |JOIN tcgu gu USING (lang) CROSS JOIN tcv v""".stripMargin

  /** q_shard_summary's oracle text — shared with q_release_card. */
  private lazy val sqlShardSummaryOracle: String =
      s"""WITH $sqlCurationFunnelCtes,
         |sms AS (SELECT ${sqlMd5Long("doc_id::VARCHAR")} % $ShardCount
         |          AS shard, nt FROM cs5)
         |SELECT shard, count(*)::BIGINT AS n_docs,
         |  sum(nt)::BIGINT AS n_tokens,
         |  ((sum(nt) + $PackTokens - 1) // $PackTokens)::BIGINT AS n_seqs
         |FROM sms GROUP BY 1""".stripMargin

  /** q_contamination_rate's oracle text — shared with q_release_card. */
  private lazy val sqlContaminationRateOracle: String =
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt,
         |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= $MhK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
         |                   for i in range(0, len(toks)-$MhK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, unnest(list_distinct(hs)) AS g FROM hsh),
         |bg AS (SELECT DISTINCT g FROM (
         |         SELECT unnest(list_distinct(hs)) AS g FROM hsh
         |         WHERE doc_id < 20))
         |SELECT c.doc_id, count(*)::BIGINT AS n_grams,
         |  count(b.g)::BIGINT AS n_contaminated,
         |  floor(count(b.g)::DOUBLE / count(*)::DOUBLE * 1000000) / 1000000
         |    AS contamination_rate
         |FROM cg c LEFT JOIN bg b ON c.g = b.g
         |GROUP BY 1""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // residuals against the same unrolled fit; the coefficients are
    // trunc6'd doubles identical on both engines, so |y − ŷ| rows match
    // value-for-value before the percentile interpolation
    "q_residuals" ->
      s"""WITH t AS (SELECT lang, n_chars, len($toksSql)::BIGINT AS n_tokens
         |           FROM documents
         |           WHERE lang IS NOT NULL AND n_chars IS NOT NULL
         |             AND text IS NOT NULL),
         |s AS (SELECT lang, count(*)::DOUBLE AS n,
         |        sum(n_chars)::DOUBLE AS sx, sum(n_tokens)::DOUBLE AS sy,
         |        sum(n_chars * n_tokens)::DOUBLE AS sxy,
         |        sum(n_chars * n_chars)::DOUBLE AS sxx
         |      FROM t GROUP BY 1),
         |f AS (SELECT lang,
         |        floor(((n * sxy - sx * sy) / (n * sxx - sx * sx))
         |              * 1000000) / 1000000 AS slope,
         |        floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
         |              * 1000000) / 1000000 AS intercept
         |      FROM s WHERE (n * sxx - sx * sx) > 0),
         |r AS (SELECT t.lang,
         |        abs(t.n_tokens::DOUBLE
         |            - (f.intercept + f.slope * t.n_chars::DOUBLE)) AS aerr
         |      FROM t JOIN f USING (lang))
         |SELECT lang, count(*)::BIGINT AS n,
         |  floor(quantile_cont(aerr, 0.5) * 1000000) / 1000000 AS p50_abs_err,
         |  floor(quantile_cont(aerr, 0.9) * 1000000) / 1000000 AS p90_abs_err
         |FROM r GROUP BY 1""".stripMargin,

    // decorrelated Q17 shape: per-part totals joined back, the 20%%
    // threshold as exact integer cross-multiplication
    "q_small_qty" ->
      """WITH li AS (SELECT l_partkey,
        |        floor(l_quantity * 100)::BIGINT AS qty_c, l_extendedprice
        |      FROM lineitem),
        |pp AS (SELECT l_partkey AS pk, sum(qty_c)::BIGINT AS sum_qty_c,
        |        count(*)::BIGINT AS cnt FROM li GROUP BY 1)
        |SELECT p.p_brand, count(*)::BIGINT AS n_small,
        |  CAST(SUM(CAST(li.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS revenue
        |FROM li JOIN pp ON li.l_partkey = pp.pk
        |JOIN part p ON li.l_partkey = p.p_partkey
        |WHERE li.qty_c * 5 * pp.cnt < pp.sum_qty_c
        |GROUP BY 1""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS DECIMAL(28,0))) AS DOUBLE) / 100 AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q_nation_revenue" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_regional_revenue" ->
      """SELECT n_name, p_brand, COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100) AS DECIMAL(28,0))) AS DOUBLE) / 100 AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN part ON l_partkey = p_partkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1, 2""".stripMargin,

    "q_keyed_sum" ->
      """SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id""".stripMargin,

    "q_running_sum" ->
      s"""SELECT event_id, user_id,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         |    PARTITION BY user_id ORDER BY $evMs, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         |FROM events""".stripMargin,

    "q_running_sum_salted" ->
      s"""SELECT event_id, user_id,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         |    PARTITION BY user_id ORDER BY $evMs, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         |FROM events""".stripMargin,

    "q_running_sum_auto" ->
      s"""SELECT event_id, user_id,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
         |    PARTITION BY user_id ORDER BY $evMs, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         |FROM events""".stripMargin,

    "q_tumbling_count" ->
      s"""SELECT $evMs - $evMs % 3600000 AS window_start_ms, COUNT(*) AS cnt,
         |  MIN($evMs) AS min_ms, MAX($evMs) AS max_ms
         |FROM events GROUP BY 1""".stripMargin,

    "q_sliding_summary" ->
      s"""WITH t AS (SELECT $evMs AS ms FROM events),
         |x AS (SELECT ms, ms - ms % 3600000 AS w FROM t
         |      UNION ALL SELECT ms, ms - ms % 3600000 - 3600000 AS w FROM t)
         |SELECT w AS window_start_ms, COUNT(*) AS cnt, MIN(ms) AS min_ms, MAX(ms) AS max_ms
         |FROM x GROUP BY w""".stripMargin,

    "q_session_summary" ->
      s"""WITH e AS (SELECT user_id, $evMs AS ms FROM events),
         |g AS (SELECT user_id, ms,
         |        CASE WHEN lag(ms) OVER w IS NULL
         |               OR ms - lag(ms) OVER w > 7200000 THEN 1 ELSE 0 END AS brk
         |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
         |s AS (SELECT user_id, ms, SUM(brk) OVER (
         |        PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         |SELECT user_id, MIN(ms) AS session_start_ms, COUNT(*) AS cnt, MAX(ms) AS max_ms
         |FROM s GROUP BY user_id, sid""".stripMargin,

    "q_keyed_window_count" ->
      s"""SELECT user_id, event_type, $evMs - $evMs % 86400000 AS window_start_ms,
         |  COUNT(*) AS cnt
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_window_join" ->
      s"""WITH l AS (SELECT user_id, $evMs - $evMs % 86400000 AS w, event_id AS left_id
         |           FROM events WHERE event_type = 'click'),
         |r AS (SELECT user_id, $evMs - $evMs % 86400000 AS w, event_id AS right_id
         |      FROM events WHERE event_type = 'purchase')
         |SELECT l.user_id AS user_id, l.w AS window_start_ms, left_id, right_id
         |FROM l JOIN r ON l.user_id = r.user_id AND l.w = r.w""".stripMargin,

    "q_asof_join" ->
      s"""WITH p AS (SELECT user_id, $evMs AS ms, event_id FROM events
         |           WHERE event_type = 'purchase'),
         |e AS (SELECT user_id, $evMs AS err_ms, MAX(event_id) AS err_event
         |      FROM events WHERE event_type = 'error' GROUP BY 1, 2)
         |SELECT p.event_id, p.user_id, e.err_ms, e.err_event
         |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND e.err_ms <= p.ms""".stripMargin,

    // the state machine must reproduce the ASOF join exactly in batch
    // mode; NULL keys/timestamps are filtered by projection (the
    // events-oracle NULL convention, like q_latest_state_stream)
    "q_asof_join_stream" ->
      s"""WITH p AS (SELECT user_id, $evMs AS ms, event_id FROM events
         |           WHERE event_type = 'purchase'
         |             AND user_id IS NOT NULL AND ts IS NOT NULL),
         |e AS (SELECT user_id, $evMs AS err_ms, MAX(event_id) AS err_event
         |      FROM events WHERE event_type = 'error'
         |        AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2)
         |SELECT p.event_id, p.user_id, e.err_ms, e.err_event
         |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND e.err_ms <= p.ms""".stripMargin,

    // the ASOF match is the latest at-or-before; if IT is stale every
    // candidate is staler, so the bound is a post-join null-out
    "q_asof_tolerant" ->
      s"""WITH p AS (SELECT user_id, $evMs AS ms, event_id FROM events
         |           WHERE event_type = 'purchase'),
         |e AS (SELECT user_id, $evMs AS err_ms, MAX(event_id) AS err_event
         |      FROM events WHERE event_type = 'error' GROUP BY 1, 2)
         |SELECT p.event_id, p.user_id,
         |  CASE WHEN p.ms - e.err_ms <= 3600000 THEN e.err_ms END AS err_ms,
         |  CASE WHEN p.ms - e.err_ms <= 3600000 THEN e.err_event END
         |    AS err_event
         |FROM p ASOF LEFT JOIN e ON p.user_id = e.user_id AND e.err_ms <= p.ms""".stripMargin,

    "q_split_merge" ->
      """SELECT CASE WHEN event_type = 'error' THEN 'Stream-Error'
        |            ELSE 'Stream-Normal' END AS stream,
        |  user_id, COUNT(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_interval_alert" ->
      s"""WITH d AS (SELECT user_id, $evMs AS ms, event_id FROM events
         |           WHERE event_type = 'error'),
         |l AS (SELECT user_id, ms,
         |        lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
         |      FROM d)
         |SELECT user_id, ms AS ts_ms, ms - prev AS gap_ms
         |FROM l WHERE prev IS NOT NULL AND ms - prev < 86400000""".stripMargin,

    "q_dedup_horizon" ->
      s"""WITH e AS (SELECT user_id::VARCHAR || ':' || event_type AS k,
         |        $evMs AS ms, event_id FROM events),
         |l AS (SELECT event_id,
         |        ms - lag(ms) OVER (PARTITION BY k ORDER BY ms, event_id)
         |          AS gap
         |      FROM e)
         |SELECT event_id, (gap IS NULL OR gap > $HorizonMs) AS is_first
         |FROM l""".stripMargin,

    "q_dedup_horizon_stream" ->
      s"""WITH e AS (SELECT user_id::VARCHAR || ':' || event_type AS k,
         |        $evMs AS ms, event_id FROM events),
         |l AS (SELECT event_id,
         |        ms - lag(ms) OVER (PARTITION BY k ORDER BY ms, event_id)
         |          AS gap
         |      FROM e)
         |SELECT event_id, (gap IS NULL OR gap > $HorizonMs) AS is_first
         |FROM l""".stripMargin,

    "q_action_durations" ->
      s"""WITH l AS (SELECT user_id, event_type, $evMs AS ms,
         |        lag(event_type) OVER w AS prev_type, lag($evMs) OVER w AS prev_ms
         |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY $evMs, event_id))
         |SELECT user_id, prev_type AS action, ms - prev_ms AS duration_ms
         |FROM l WHERE prev_type IS NOT NULL AND prev_type <> 'purchase'
         |  AND event_type <> 'signup'""".stripMargin,

    "q_interval_alert_stream" ->
      s"""WITH d AS (SELECT user_id, $evMs AS ms, event_id FROM events
         |           WHERE event_type = 'error'),
         |l AS (SELECT user_id, ms,
         |        lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
         |      FROM d)
         |SELECT user_id, ms AS ts_ms, ms - prev AS gap_ms
         |FROM l WHERE prev IS NOT NULL AND ms - prev < 86400000""".stripMargin,

    "q_action_durations_stream" ->
      s"""WITH l AS (SELECT user_id, event_type, $evMs AS ms,
         |        lag(event_type) OVER w AS prev_type, lag($evMs) OVER w AS prev_ms
         |      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY $evMs, event_id))
         |SELECT user_id, prev_type AS action, ms - prev_ms AS duration_ms
         |FROM l WHERE prev_type IS NOT NULL AND prev_type <> 'purchase'
         |  AND event_type <> 'signup'""".stripMargin,

    "q_late_flag" ->
      s"""WITH e AS ($arrCte),
         |m AS (SELECT event_id, ms, arr_ms,
         |        MAX(ms) OVER (ORDER BY arr_ms, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 3600000 AS wm
         |      FROM e)
         |SELECT event_id, arr_ms, (wm IS NOT NULL AND ms < wm) AS is_late FROM m""".stripMargin,

    "q_event_time_count" ->
      s"""WITH e AS ($arrCte),
         |m AS (SELECT event_id, ms, arr_ms,
         |        MAX(ms) OVER (ORDER BY arr_ms, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 3600000 AS wm
         |      FROM e),
         |ontime AS (SELECT ms FROM m WHERE NOT (wm IS NOT NULL AND ms < wm))
         |SELECT ms - ms % 3600000 AS window_start_ms, COUNT(*) AS cnt,
         |  MIN(ms) AS min_ms, MAX(ms) AS max_ms
         |FROM ontime GROUP BY 1""".stripMargin,

    "q_late_rows" ->
      s"""WITH e AS ($arrCte),
         |m AS (SELECT event_id, ms, arr_ms,
         |        MAX(ms) OVER (ORDER BY arr_ms, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 3600000 AS wm
         |      FROM e)
         |SELECT event_id, arr_ms FROM m WHERE wm IS NOT NULL AND ms < wm""".stripMargin,

    "q_dedup_exact" ->
      s"""SELECT md5(norm) AS fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
         |FROM (SELECT doc_id, $normSql AS norm FROM documents) GROUP BY 1""".stripMargin,

    "q_dedup_profile" ->
      s"""SELECT source, lang, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT md5($normSql)) AS n_distinct
         |FROM documents GROUP BY 1, 2""".stripMargin,

    // the sketch estimate never leaves the engine — the oracle computes the
    // exact side and asserts the bound verdict is uniformly true, which the
    // HLL++ tolerance in Dedup.dedupProfileChecked guarantees
    "q_dedup_profile_approx" ->
      s"""SELECT source, lang, COUNT(*) AS n_docs,
         |  COUNT(DISTINCT md5($normSql)) AS n_distinct, TRUE AS within_bound
         |FROM documents GROUP BY 1, 2""".stripMargin,

    // same (doc, token) counts; docs with no tokens absent on both sides
    "q_lexical_diversity" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT doc_id, tok, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
         |a AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         |        count(*)::BIGINT AS n_types,
         |        sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
         |      FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax,
         |  floor(n_types::DOUBLE / n_tokens::DOUBLE * 1000000) / 1000000
         |    AS ttr,
         |  floor(n_hapax::DOUBLE / n_tokens::DOUBLE * 1000000) / 1000000
         |    AS hapax_rate
         |FROM a""".stripMargin,

    // counts-of-counts per language; the two ratios exact integer // (the
    // Spark side's div)
    "q_good_turing" ->
      s"""WITH t AS (SELECT lang, unnest($toksSql) AS tok FROM documents
         |      WHERE lang IS NOT NULL),
         |c AS (SELECT lang, tok, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
         |a AS (SELECT lang, sum(c)::BIGINT AS n_tokens,
         |        count(*)::BIGINT AS n_types,
         |        sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)::BIGINT AS n_singletons,
         |        sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)::BIGINT AS n_doubletons
         |      FROM c GROUP BY 1)
         |SELECT lang, n_tokens, n_types, n_singletons, n_doubletons,
         |  (n_singletons * 1000000) // n_tokens AS unseen_ppm,
         |  CASE WHEN n_singletons > 0
         |       THEN (2 * n_doubletons * 1000000) // n_singletons
         |  END AS gt1_ppm
         |FROM a""".stripMargin,

    // same filtered shingle universe on both sides of the pair expansion;
    // the q_ngram_vocab shingle recipe
    "q_source_overlap" ->
      s"""WITH nrm AS (SELECT source, $normSql AS nt FROM documents
         |      WHERE source IS NOT NULL),
         |tk AS (SELECT source, list_filter(regexp_split_to_array(nt, '\\s+'),
         |        x -> x <> '') AS toks FROM nrm),
         |st AS (SELECT DISTINCT source, tok
         |      FROM (SELECT source,
         |              unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                      for i in range(0, len(toks)-2+1)]) AS tok
         |            FROM tk WHERE len(toks) >= 2)),
         |d AS (SELECT tok FROM st GROUP BY tok
         |      HAVING count(*) <= $OverlapMaxDf),
         |k AS (SELECT st.source, st.tok FROM st JOIN d USING (tok)),
         |sz AS (SELECT source, count(*)::BIGINT AS n FROM k GROUP BY 1),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |        count(*)::BIGINT AS n_common
         |      FROM k a JOIN k b USING (tok) WHERE a.source < b.source
         |      GROUP BY 1, 2)
         |SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
         |  floor(n_common::DOUBLE / (sa.n + sb.n - n_common)::DOUBLE
         |        * 1000000) / 1000000 AS jaccard
         |FROM p JOIN sz sa ON sa.source = source_a
         |JOIN sz sb ON sb.source = source_b""".stripMargin,

    // the KMV replay: distinct (source, md5Int(token)), group-partitioned
    // row_number for the k-th minimum, the ((k-1)·2^32) // h_k estimate —
    // pure BIGINT on both engines (DuckDB // = Spark div on positives)
    "q_kmv_distinct" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS tok FROM documents
         |      WHERE source IS NOT NULL),
         |d AS (SELECT DISTINCT source, ${sqlMd5Int("tok")} AS h FROM t),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source
         |        ORDER BY h) AS rk FROM d),
         |e AS (SELECT source, count(*)::BIGINT AS n_exact FROM d GROUP BY 1),
         |s AS (SELECT source, count(*)::BIGINT AS m, max(h) AS hk
         |      FROM r WHERE rk <= $KmvK GROUP BY 1)
         |SELECT e.source, e.n_exact,
         |  CASE WHEN s.m < $KmvK THEN s.m
         |       ELSE (${KmvK - 1} * 4294967296) // s.hk END AS est_distinct
         |FROM e JOIN s USING (source)""".stripMargin,

    // per-day k-min sets, predecessor by grid join, the kmvOverlap union/
    // co-membership algebra, novelty clamped non-negative
    "q_window_novelty" ->
      s"""WITH s AS (SELECT $evMs - $evMs % 86400000 AS w,
         |        floor(value * 100)::BIGINT AS v
         |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |d AS (SELECT DISTINCT w, ${sqlMd5Int("v::VARCHAR")} AS h FROM s),
         |r AS (SELECT w, h, row_number() OVER (
         |        PARTITION BY w ORDER BY h) AS rk FROM d),
         |sk AS (SELECT w, h FROM r WHERE rk <= $KmvK),
         |cur AS (SELECT w, count(*)::BIGINT AS m, max(h) AS hk
         |      FROM sk GROUP BY 1),
         |pw AS (SELECT c1.w FROM cur c1
         |       JOIN cur c0 ON c0.w = c1.w - 86400000),
         |ub AS (SELECT p.w, s1.h FROM pw p JOIN sk s1 ON s1.w = p.w
         |       UNION
         |       SELECT p.w, s0.h FROM pw p
         |       JOIN sk s0 ON s0.w = p.w - 86400000),
         |ur AS (SELECT w, h, row_number() OVER (
         |        PARTITION BY w ORDER BY h) AS rk FROM ub),
         |us AS (SELECT w, h FROM ur WHERE rk <= $KmvK),
         |ua AS (SELECT us.w, count(*)::BIGINT AS um, max(us.h) AS uhk,
         |        sum(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
         |            THEN 1 ELSE 0 END)::BIGINT AS nb
         |      FROM us
         |      LEFT JOIN sk a ON a.w = us.w AND a.h = us.h
         |      LEFT JOIN sk b ON b.w = us.w - 86400000 AND b.h = us.h
         |      GROUP BY 1),
         |es AS (SELECT cur.w, cur.m AS n_sketch,
         |        CASE WHEN cur.m < $KmvK THEN cur.m
         |             ELSE (${KmvK - 1} * 4294967296) // cur.hk
         |        END AS ew,
         |        ua.um, ua.nb,
         |        CASE WHEN ua.um IS NULL THEN NULL
         |             WHEN ua.um < $KmvK THEN ua.um
         |             ELSE (${KmvK - 1} * 4294967296) // ua.uhk
         |        END AS eu
         |      FROM cur LEFT JOIN ua ON ua.w = cur.w)
         |SELECT w AS window_start_ms, n_sketch, ew AS est_distinct,
         |  CASE WHEN um IS NOT NULL THEN (nb * eu) // um END AS est_inter,
         |  CASE WHEN um IS NOT NULL AND ew > 0 THEN
         |    (greatest(ew - (nb * eu) // um, 0) * 1000000) // ew
         |  END AS novel_ppm
         |FROM es""".stripMargin,

    // per-day distinct→row_number sketch, the same estimate algebra the
    // mergeable windowed aggregate lands on
    "q_kmv_by_window" ->
      s"""WITH s AS (SELECT $evMs - $evMs % 86400000 AS w,
         |        floor(value * 100)::BIGINT AS v
         |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |d AS (SELECT DISTINCT w, ${sqlMd5Int("v::VARCHAR")} AS h FROM s),
         |r AS (SELECT w, h, row_number() OVER (
         |        PARTITION BY w ORDER BY h) AS rk FROM d),
         |sk AS (SELECT w, count(*)::BIGINT AS n_sketch, max(h) AS hk
         |      FROM r WHERE rk <= $KmvK GROUP BY 1)
         |SELECT w AS window_start_ms, n_sketch,
         |  CASE WHEN n_sketch < $KmvK THEN n_sketch
         |       ELSE (${KmvK - 1} * 4294967296) // hk END AS est_distinct
         |FROM sk""".stripMargin,

    // the machine's k-minima set is arrival-order independent, so this
    // batch sketch IS the final stream state — same estimate algebra
    "q_kmv_stream" ->
      s"""WITH s AS (SELECT event_type, floor(value * 100)::BIGINT AS v
         |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |        AND event_type IS NOT NULL AND event_id IS NOT NULL),
         |n AS (SELECT event_type, count(*)::BIGINT AS n_events
         |      FROM s GROUP BY 1),
         |d AS (SELECT DISTINCT event_type,
         |        ${sqlMd5Int("v::VARCHAR")} AS h FROM s),
         |r AS (SELECT event_type, h, row_number() OVER (
         |        PARTITION BY event_type ORDER BY h) AS rk FROM d),
         |sk AS (SELECT event_type, count(*)::BIGINT AS n_sketch,
         |        max(h) AS hk
         |      FROM r WHERE rk <= $KmvK GROUP BY 1)
         |SELECT n.event_type, n.n_events, sk.n_sketch,
         |  CASE WHEN sk.n_sketch < $KmvK THEN sk.n_sketch
         |       ELSE (${KmvK - 1} * 4294967296) // sk.hk END AS est_distinct
         |FROM n JOIN sk USING (event_type)""".stripMargin,

    // union sketch = k smallest of the two sides' sketches; n_both counts
    // union-sketch hashes in BOTH sides; est_inter = (n_both·est_union)//m
    "q_kmv_overlap" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS tok FROM documents
         |      WHERE source IS NOT NULL),
         |d AS (SELECT DISTINCT source, ${sqlMd5Int("tok")} AS h FROM t),
         |r AS (SELECT source, h, row_number() OVER (PARTITION BY source
         |        ORDER BY h) AS rk FROM d),
         |sk AS (SELECT source, h FROM r WHERE rk <= $KmvK),
         |g AS (SELECT DISTINCT source FROM sk),
         |p AS (SELECT a.source AS source_a, b.source AS source_b
         |      FROM g a JOIN g b ON a.source < b.source),
         |u AS (SELECT p.source_a, p.source_b, s.h,
         |        max(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
         |        max(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
         |      FROM p JOIN sk s
         |        ON s.source = p.source_a OR s.source = p.source_b
         |      GROUP BY 1, 2, 3),
         |ru AS (SELECT *, row_number() OVER (PARTITION BY source_a, source_b
         |        ORDER BY h) AS rk FROM u),
         |ag AS (SELECT source_a, source_b, count(*)::BIGINT AS m,
         |        max(h) AS hk,
         |        sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0
         |            END)::BIGINT AS n_both
         |      FROM ru WHERE rk <= $KmvK GROUP BY 1, 2)
         |SELECT source_a, source_b, n_both,
         |  CASE WHEN m < $KmvK THEN m
         |       ELSE (${KmvK - 1} * 4294967296) // hk END AS est_union,
         |  (n_both * (CASE WHEN m < $KmvK THEN m
         |       ELSE (${KmvK - 1} * 4294967296) // hk END)) // m AS est_inter
         |FROM ag""".stripMargin,

    "q_token_stats" ->
      s"""SELECT doc_id, len($toksSql) AS n_tokens,
         |  CAST(length(text) AS BIGINT) AS n_chars_measured,
         |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_token_chars
         |FROM documents""".stripMargin,

    "q_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, text, len(toks) AS n_tokens,
         |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS n_stopwords,
         |        length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_punct
         |      FROM t)
         |SELECT doc_id, n_tokens, n_stopwords, n_punct,
         |  CASE WHEN n_tokens > 0
         |       THEN floor(CAST(n_stopwords AS DOUBLE) / n_tokens * 1000000) / 1000000 ELSE 0.0 END AS stopword_ratio,
         |  CASE WHEN length(text) > 0
         |       THEN floor(CAST(n_punct AS DOUBLE) / length(text) * 1000000) / 1000000 ELSE 0.0 END AS punct_ratio
         |FROM c""".stripMargin,

    // words/sentences/vowel-group counts exact; flesch is the same
    // left-associated double chain, trunc6'd
    "q_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |        len($toksSql)::BIGINT AS n_words,
         |        len(regexp_extract_all(text, '[.!?]+'))::BIGINT
         |          AS n_sentences,
         |        len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT
         |          AS n_syllables
         |      FROM documents)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CASE WHEN n_words > 0 AND n_sentences > 0 THEN
         |    floor((206.835
         |      - 1.015 * (n_words::DOUBLE / n_sentences::DOUBLE)
         |      - 84.6 * (n_syllables::DOUBLE / n_words::DOUBLE))
         |      * 1000000) / 1000000
         |  END AS flesch
         |FROM c""".stripMargin,

    "q_lang_id" ->
      s"""WITH t AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         |      FROM documents),
         |h AS (SELECT doc_id,
         |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
         |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
         |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
         |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
         |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
         |      FROM t)
         |SELECT doc_id,
         |  CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
         |       WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred,
         |  m AS lang_hits
         |FROM (SELECT *, GREATEST(h_en, h_de, h_fr, h_es, h_zh) AS m FROM h)""".stripMargin,

    // the q_word_pieces piece formula summed per language; each ratio
    // one floored division of exact integer sums
    "q_fertility" ->
      s"""WITH c AS (SELECT lang, len($toksSql)::BIGINT AS w,
         |        (len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))
         |         + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')))::BIGINT AS p,
         |        length(text)::BIGINT AS ch
         |      FROM documents WHERE lang IS NOT NULL)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  sum(w)::BIGINT AS total_words, sum(p)::BIGINT AS total_pieces,
         |  sum(ch)::BIGINT AS total_chars,
         |  CASE WHEN sum(w) > 0 THEN
         |    floor(sum(p)::DOUBLE / sum(w) * 1000000) / 1000000
         |  END AS fertility,
         |  CASE WHEN sum(p) > 0 THEN
         |    floor(sum(ch)::DOUBLE / sum(p) * 1000000) / 1000000
         |  END AS chars_per_piece
         |FROM c GROUP BY 1""".stripMargin,

    // the chunk CTE + the lang-ID argmax per chunk + two grouped passes;
    // the majority tie-break is (most chunks, smallest code) both sides
    "q_lang_mixture" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |ck AS (SELECT doc_id,
         |        array_to_string(list_slice(toks, start + 1,
         |          start + $ChunkWindow), ' ') AS chunk_text
         |      FROM (SELECT doc_id, toks,
         |              unnest(range(0, len(toks), $ChunkStride)) AS start
         |            FROM tk WHERE len(toks) > 0)),
         |ct AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(trim(lower(chunk_text)), '\\s+'),
         |          x -> x <> '') AS toks
         |      FROM ck),
         |h AS (SELECT doc_id,
         |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
         |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
         |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
         |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
         |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
         |      FROM ct),
         |pr AS (SELECT doc_id,
         |        CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr'
         |             WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en'
         |             ELSE 'de' END AS lang_pred
         |      FROM (SELECT *, GREATEST(h_en, h_de, h_fr, h_es, h_zh) AS m
         |            FROM h)),
         |pl AS (SELECT doc_id, lang_pred, count(*)::BIGINT AS c
         |       FROM pr GROUP BY 1, 2),
         |ag AS (SELECT doc_id, sum(c)::BIGINT AS n_chunks,
         |         count(*)::BIGINT AS n_langs,
         |         min(struct_pack(n := -c, l := lang_pred)) AS mj
         |       FROM pl GROUP BY 1)
         |SELECT doc_id, n_chunks, n_langs, mj.l AS majority_lang,
         |  floor((-mj.n)::DOUBLE / n_chunks * 1000000) / 1000000
         |    AS majority_share,
         |  n_langs > 1 AS mixed
         |FROM ag""".stripMargin,

    // the q_lang_id prediction CTE joined back to the labels; plain
    // group counts, NULL labels dropped like confusionMatrix
    "q_lang_confusion" ->
      s"""WITH t AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         |      FROM documents),
         |h AS (SELECT doc_id,
         |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
         |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
         |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
         |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
         |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
         |      FROM t),
         |pr AS (SELECT doc_id,
         |        CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr'
         |             WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en'
         |             ELSE 'de' END AS lang_pred
         |      FROM (SELECT *, GREATEST(h_en, h_de, h_fr, h_es, h_zh) AS m
         |            FROM h))
         |SELECT d.lang AS lang_true, pr.lang_pred,
         |  count(*)::BIGINT AS n_rows
         |FROM documents d JOIN pr ON pr.doc_id = d.doc_id
         |WHERE d.lang IS NOT NULL AND pr.lang_pred IS NOT NULL
         |GROUP BY 1, 2""".stripMargin,

    "q_ngram_vocab" ->
      s"""WITH nrm AS (SELECT $normSql AS nt FROM documents),
         |tk AS (SELECT list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |g AS (SELECT unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                     for i in range(0, len(toks)-2+1)]) AS gram
         |      FROM tk WHERE len(toks) >= 2)
         |SELECT gram, COUNT(*) AS n_occurrences FROM g GROUP BY 1
         |ORDER BY n_occurrences DESC, gram LIMIT 100""".stripMargin,

    // the surviving inventory after the unrolled hard-EM rounds, with
    // usage counts and the smoothed quantized likelihoods
    "q_unigram_vocab" ->
      s"""WITH $sqlUnigramCtes
         |SELECT piece, cnt AS n_uses,
         |  floor(ln((cnt + 1)::DOUBLE) * 1000000)::BIGINT AS qlogp
         |FROM uvoc$UniRounds""".stripMargin,

    // per-round total Viterbi likelihood — the monotone audit trail
    "q_unigram_ll" ->
      s"""WITH $sqlUnigramCtes
         |${(1 to UniRounds).map(r =>
             s"SELECT $r::BIGINT AS round, sum(freq * best_qll)::BIGINT " +
               s"AS total_qll FROM ur${r}dp").mkString("\nUNION ALL ")}"""
        .stripMargin,

    // the training vocabulary segmented under the FINAL inventory — one
    // more DP block under uvoc$UniRounds
    "q_unigram_apply" ->
      s"""WITH $sqlUnigramCtes${sqlUnigramDp("ua", "uw",
             s"uvoc$UniRounds")}
         |SELECT word, freq, len(pieces)::BIGINT AS n_pieces,
         |  array_to_string(pieces, ' ') AS pieces
         |FROM uadp""".stripMargin,

    // the held-out slice's vocabulary under the frozen inventory — same
    // DP block over the slice's own word table
    "q_unigram_encode" ->
      s"""WITH $sqlUnigramCtes,
         |uew AS (SELECT word, count(*)::BIGINT AS freq FROM (
         |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents WHERE doc_id % 7 = 3) GROUP BY 1)${
           sqlUnigramDp("ue", "uew", s"uvoc$UniRounds")}
         |SELECT word, freq, len(pieces)::BIGINT AS n_pieces,
         |  array_to_string(pieces, ' ') AS pieces
         |FROM uedp""".stripMargin,

    // the q_bpe_drift SQL shape under a train-slice inventory: one DP
    // block per side, both under the frozen uvoc
    "q_unigram_drift" -> {
      val trainRel = "(SELECT * FROM documents WHERE doc_id % 7 <> 3)"
      val heldRel = "(SELECT * FROM documents WHERE doc_id % 7 = 3)"
      s"""WITH ${sqlUnigramCtesOver(trainRel)}${
             sqlUnigramDp("ua", "uw", s"uvoc$UniRounds")},
         |uew AS (SELECT word, count(*)::BIGINT AS freq FROM (
         |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM $heldRel) GROUP BY 1)${
             sqlUnigramDp("ue", "uew", s"uvoc$UniRounds")},
         |twl AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM $trainRel) GROUP BY 1, 2),
         |tsg AS (SELECT word, len(pieces)::BIGINT AS np FROM uadp),
         |ftr AS (SELECT w.lang,
         |          floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |                * 1000000) / 1000000 AS fertility_train
         |        FROM twl w JOIN tsg s USING (word) GROUP BY 1),
         |hwl AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM $heldRel) GROUP BY 1, 2),
         |hsg AS (SELECT word, len(pieces)::BIGINT AS np FROM uedp),
         |fhe AS (SELECT w.lang, sum(w.n)::BIGINT AS n_words,
         |          sum(w.n * s.np)::BIGINT AS n_pieces,
         |          floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |                * 1000000) / 1000000 AS fertility_heldout
         |        FROM hwl w JOIN hsg s USING (word) GROUP BY 1)
         |SELECT h.lang, h.n_words, h.n_pieces, t.fertility_train,
         |  h.fertility_heldout,
         |  floor((h.fertility_heldout - t.fertility_train) * 1000000)
         |    / 1000000 AS fertility_gap
         |FROM fhe h JOIN ftr t USING (lang)""".stripMargin
    },

    // q_bpe_fertility's SQL shape under the unigram apply segmentation
    "q_unigram_fertility" ->
      s"""WITH $sqlUnigramCtes${sqlUnigramDp("ua", "uw",
             s"uvoc$UniRounds")},
         |uwl AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents) GROUP BY 1, 2),
         |usg AS (SELECT word, len(pieces)::BIGINT AS np FROM uadp)
         |SELECT w.lang, sum(w.n)::BIGINT AS n_words,
         |  sum(w.n * s.np)::BIGINT AS n_pieces,
         |  floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE * 1000000)
         |    / 1000000 AS fertility
         |FROM uwl w JOIN usg s USING (word) GROUP BY 1""".stripMargin,

    // the decision card: both training families' CTEs in one WITH
    // (disjoint name spaces, the q_source_quality composition move);
    // held-slice fertilities re-join the SAME frozen segmentations
    "q_tokenizer_compare" -> sqlTokenizerCompareOracle,

    // per-doc word counts joined onto the apply DP's exact per-word
    // Viterbi likelihoods; mean NLL floored at the µnat then scaled
    "q_doc_ppl" ->
      s"""WITH $sqlUnigramCtes${sqlUnigramDp("ua", "uw",
             s"uvoc$UniRounds")},
         |udw AS (SELECT doc_id, word, count(*)::BIGINT AS n FROM (
         |    SELECT doc_id, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents) GROUP BY 1, 2)
         |SELECT d.doc_id, sum(d.n)::BIGINT AS n_words,
         |  sum(d.n * len(a.pieces))::BIGINT AS n_pieces,
         |  (-sum(d.n * a.best_qll))::BIGINT AS nll_scaled,
         |  floor((-sum(d.n * a.best_qll))::DOUBLE
         |        / sum(d.n * len(a.pieces))::DOUBLE) / 1000000 AS mean_nll
         |FROM udw d JOIN uadp a USING (word) GROUP BY 1""".stripMargin,

    // per-lang ntile(3) over the exact integer µnat-per-piece order
    "q_ppl_buckets" ->
      s"""WITH $sqlUnigramCtes${sqlUnigramDp("ua", "uw",
             s"uvoc$UniRounds")},
         |udw2 AS (SELECT doc_id, lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT doc_id, lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents) GROUP BY 1, 2, 3),
         |dp2 AS (SELECT d.doc_id, d.lang,
         |        sum(d.n * len(a.pieces))::BIGINT AS np,
         |        (-sum(d.n * a.best_qll))::BIGINT AS nll
         |      FROM udw2 d JOIN uadp a USING (word) GROUP BY 1, 2),
         |rb AS (SELECT lang, np, (nll // np)::BIGINT AS npp,
         |        ntile(3) OVER (PARTITION BY lang
         |          ORDER BY nll // np, doc_id) AS b
         |      FROM dp2)
         |SELECT lang, CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
         |  ELSE 'tail' END AS bucket,
         |  count(*)::BIGINT AS n_docs, sum(np)::BIGINT AS n_pieces,
         |  min(npp)::BIGINT AS min_nll_pp, max(npp)::BIGINT AS max_nll_pp
         |FROM rb GROUP BY 1, 2""".stripMargin,

    // bigram/context counts + the 1-row vocabulary size, qlog terms
    // mirrored operand for operand
    "q_bigram_ppl" ->
      """WITH btk AS (SELECT doc_id,
        |        list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |          x -> x <> '') AS toks
        |      FROM documents WHERE text IS NOT NULL),
        |bbg AS (SELECT doc_id, toks[i+1] AS prev, toks[i+2] AS w
        |      FROM (SELECT doc_id, toks,
        |              unnest(range(0, len(toks) - 1)) AS i
        |            FROM btk WHERE len(toks) >= 2)),
        |bpd AS (SELECT doc_id, prev, w, count(*)::BIGINT AS n
        |      FROM bbg GROUP BY 1, 2, 3),
        |bc2 AS (SELECT prev, w, sum(n)::BIGINT AS c2 FROM bpd GROUP BY 1, 2),
        |bc1 AS (SELECT prev, sum(c2)::BIGINT AS c1 FROM bc2 GROUP BY 1),
        |bvv AS (SELECT count(DISTINCT t)::BIGINT AS v FROM (
        |      SELECT unnest(toks) AS t FROM btk))
        |SELECT d.doc_id, sum(d.n)::BIGINT AS n_bigrams,
        |  sum(d.n * (floor(ln((c1.c1 + vv.v)::DOUBLE) * 1000000)::BIGINT
        |           - floor(ln((c2.c2 + 1)::DOUBLE) * 1000000)::BIGINT))::BIGINT
        |    AS nll_scaled,
        |  floor(sum(d.n * (floor(ln((c1.c1 + vv.v)::DOUBLE) * 1000000)::BIGINT
        |           - floor(ln((c2.c2 + 1)::DOUBLE) * 1000000)::BIGINT))::DOUBLE
        |        / sum(d.n)::DOUBLE) / 1000000 AS mean_nll
        |FROM bpd d
        |JOIN bc2 c2 ON c2.prev = d.prev AND c2.w = d.w
        |JOIN bc1 c1 ON c1.prev = d.prev
        |CROSS JOIN bvv vv
        |GROUP BY 1""".stripMargin,

    // the q_ngram_vocab gram construction folded per doc
    "q_doc_repetition" ->
      """WITH tk AS (SELECT doc_id,
        |        list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |          x -> x <> '') AS toks
        |      FROM documents WHERE text IS NOT NULL),
        |g AS (SELECT doc_id,
        |        unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
        |                for i in range(0, len(toks)-2+1)]) AS gram
        |      FROM tk WHERE len(toks) >= 2)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        |  count(DISTINCT gram)::BIGINT AS n_distinct,
        |  (((count(*) - count(DISTINCT gram)) * 1000000)
        |    // count(*))::BIGINT AS dup_ppm
        |FROM g GROUP BY 1""".stripMargin,

    // the classifier scores and the LM NLL joined per doc, rolled up per
    // source — both CTE families in one WITH (disjoint name spaces)
    "q_source_quality" ->
      s"""WITH ${sqlLogregCtes(LrRounds)},
         |$sqlUnigramCtes${sqlUnigramDp("ua", "uw", s"uvoc$UniRounds")},
         |sq1 AS (SELECT doc_id, score_ppm, score_ppm >= 500000 AS pred
         |      FROM (SELECT f.doc_id,
         |              floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT AS score_ppm
         |            FROM lf f CROSS JOIN lw$LrRounds w)),
         |udw3 AS (SELECT doc_id, word, count(*)::BIGINT AS n FROM (
         |    SELECT doc_id, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $UniW)) AS word
         |    FROM documents) GROUP BY 1, 2),
         |sq2 AS (SELECT d.doc_id, sum(d.n * len(a.pieces))::BIGINT AS np,
         |        (-sum(d.n * a.best_qll))::BIGINT AS nll
         |      FROM udw3 d JOIN uadp a USING (word) GROUP BY 1),
         |sqj AS (SELECT doc.source, s1.score_ppm, s1.pred,
         |        (s2.nll // s2.np)::BIGINT AS npp, s2.np
         |      FROM documents doc
         |      JOIN sq1 s1 ON s1.doc_id = doc.doc_id
         |      JOIN sq2 s2 ON s2.doc_id = doc.doc_id)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN pred THEN 1 ELSE 0 END)::BIGINT AS n_keep,
         |  ((sum(CASE WHEN pred THEN 1 ELSE 0 END) * 1000000)
         |    // count(*))::BIGINT AS keep_ppm,
         |  (sum(score_ppm) // count(*))::BIGINT AS mean_score_ppm,
         |  (sum(npp) // count(*))::BIGINT AS mean_nll_pp,
         |  sum(np)::BIGINT AS n_pieces
         |FROM sqj GROUP BY 1""".stripMargin,

    // the q_roc SQL shape over the trained scores (window cumulatives
    // are oracle-only; the engine side runs orderedPrefixSum)
    "q_logreg_roc" ->
      s"""WITH ${sqlLogregCtes(LrRounds)},
         |lsc3 AS (SELECT f.label = 1 AS y,
         |        floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT AS score
         |      FROM lf f CROSS JOIN lw$LrRounds w),
         |rs AS (SELECT score AS threshold,
         |        sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS np,
         |        sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS nn
         |      FROM lsc3 GROUP BY 1),
         |rc AS (SELECT threshold,
         |        sum(np) OVER (ORDER BY threshold DESC
         |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_tp,
         |        sum(nn) OVER (ORDER BY threshold DESC
         |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_fp
         |      FROM rs),
         |rt AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS ng FROM rs)
         |SELECT threshold, n_tp, n_fp,
         |  CASE WHEN p > 0 THEN floor(n_tp::DOUBLE / p::DOUBLE * 1000000)
         |    / 1000000 END AS tpr,
         |  CASE WHEN ng > 0 THEN floor(n_fp::DOUBLE / ng::DOUBLE * 1000000)
         |    / 1000000 END AS fpr
         |FROM rc CROSS JOIN rt""".stripMargin,

    // the q_calibration SQL shape on the exact ppm score grid
    "q_logreg_calibration" ->
      s"""WITH ${sqlLogregCtes(LrRounds)},
         |lsc4 AS (SELECT f.label = 1 AS y,
         |        floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT AS score
         |      FROM lf f CROSS JOIN lw$LrRounds w),
         |cb AS (SELECT least(greatest((score - 0) * 10 // 1000000, 0), 9)
         |          AS bin, score, y FROM lsc4)
         |SELECT bin, count(*)::BIGINT AS n,
         |  count(CASE WHEN y THEN 1 END)::BIGINT AS n_pos,
         |  floor(sum(score)::DOUBLE / count(*)::DOUBLE * 1000000) / 1000000
         |    AS mean_score,
         |  floor(count(CASE WHEN y THEN 1 END)::DOUBLE / count(*)::DOUBLE
         |        * 1000000) / 1000000 AS pos_rate
         |FROM cb GROUP BY 1""".stripMargin,

    // the q_isotonic minimax identity verbatim, run over the TRAINED
    // classifier's exact ppm score bins (the q_logreg_calibration grid)
    "q_logreg_isotonic" ->
      s"""WITH ${sqlLogregCtes(LrRounds)},
         |lisc AS (SELECT f.label = 1 AS y,
         |        floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT AS score
         |      FROM lf f CROSS JOIN lw$LrRounds w),
         |lib AS (SELECT least(greatest((score - 0) * 10 // 1000000, 0), 9)
         |          AS bin, y FROM lisc),
         |libins AS (SELECT bin, count(*)::BIGINT AS n,
         |        count(CASE WHEN y THEN 1 END)::BIGINT AS n_pos
         |      FROM lib GROUP BY 1),
         |lip AS (SELECT bin, n, n_pos,
         |        sum(n) OVER liw::BIGINT AS cn,
         |        sum(n_pos) OVER liw::BIGINT AS cp
         |      FROM libins WINDOW liw AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
         |liiv AS (SELECT j.bin AS jb, k.bin AS kb,
         |        (((k.cp - j.cp + j.n_pos)::HUGEINT * 1000000::HUGEINT)
         |         // (k.cn - j.cn + j.n)::HUGEINT)::BIGINT AS m
         |      FROM lip j JOIN lip k ON j.bin <= k.bin),
         |limn AS (SELECT bb.bin, liiv.jb, min(liiv.m) AS mn FROM libins bb
         |       JOIN liiv ON liiv.jb <= bb.bin AND liiv.kb >= bb.bin
         |       GROUP BY 1, 2),
         |liso AS (SELECT bin, max(mn)::BIGINT AS iso_ppm FROM limn GROUP BY 1)
         |SELECT libins.bin, libins.n, libins.n_pos,
         |  ((libins.n_pos::HUGEINT * 1000000::HUGEINT)
         |   // libins.n::HUGEINT)::BIGINT AS rate_ppm,
         |  liso.iso_ppm
         |FROM libins JOIN liso USING (bin)""".stripMargin,

    // the weight trajectory = one MATERIALIZED 1-row CTE per gradient
    // round, unioned in round order
    "q_logreg_train" ->
      s"""WITH ${sqlLogregCtes(LrRounds)}
         |${(1 to LrRounds).map(r =>
             s"SELECT $r::BIGINT AS round, w0 AS w0_ppm, w1 AS w1_ppm, " +
               s"w2 AS w2_ppm FROM lw$r")
             .mkString("\nUNION ALL ")}""".stripMargin,

    // every doc scored under the final round's frozen weights — the
    // same quantized-sigmoid chain, one cross join with the 1-row table
    "q_logreg_score" ->
      s"""WITH ${sqlLogregCtes(LrRounds)}
         |SELECT doc_id, label, x_len, x_div, score_ppm,
         |  score_ppm >= 500000 AS pred
         |FROM (SELECT f.doc_id, f.label, f.x_len, f.x_div,
         |        floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT AS score_ppm
         |      FROM lf f CROSS JOIN lw$LrRounds w)""".stripMargin,

    // the training CTEs over the %7!=3 slice; the held-out slice's own
    // feature projection scored under the final weights
    "q_logreg_heldout" ->
      s"""WITH ${sqlLogregCtesOver(LrRounds,
             "(SELECT * FROM documents WHERE doc_id % 7 <> 3)")},
         |lhf AS (${sqlLogregFeaturesSql(
             "(SELECT * FROM documents WHERE doc_id % 7 = 3)")}),
         |lhs AS (SELECT f.label,
         |        floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT >= 500000 AS pred
         |      FROM lhf f CROSS JOIN lw$LrRounds w),
         |lha AS (SELECT count(*)::BIGINT AS n_docs,
         |        sum(CASE WHEN pred AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         |        sum(CASE WHEN pred AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
         |        sum(CASE WHEN NOT pred AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
         |        sum(CASE WHEN NOT pred AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
         |      FROM lhs)
         |SELECT n_docs, tp, fp, fn, tn,
         |  (((tp + tn) * 1000000) // n_docs)::BIGINT AS accuracy_ppm,
         |  CASE WHEN tp + fp > 0
         |       THEN ((tp * 1000000) // (tp + fp))::BIGINT END AS precision_ppm,
         |  CASE WHEN tp + fn > 0
         |       THEN ((tp * 1000000) // (tp + fn))::BIGINT END AS recall_ppm
         |FROM lha""".stripMargin,

    // confusion rollup of the scored corpus + exact ppm rates
    "q_logreg_eval" ->
      s"""WITH ${sqlLogregCtes(LrRounds)},
         |lsc AS (SELECT f.label,
         |        floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT >= 500000 AS pred
         |      FROM lf f CROSS JOIN lw$LrRounds w),
         |lag2 AS (SELECT count(*)::BIGINT AS n_docs,
         |        sum(CASE WHEN pred AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
         |        sum(CASE WHEN pred AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
         |        sum(CASE WHEN NOT pred AND label = 1 THEN 1 ELSE 0 END)::BIGINT AS fn,
         |        sum(CASE WHEN NOT pred AND label = 0 THEN 1 ELSE 0 END)::BIGINT AS tn
         |      FROM lsc)
         |SELECT n_docs, tp, fp, fn, tn,
         |  (((tp + tn) * 1000000) // n_docs)::BIGINT AS accuracy_ppm,
         |  CASE WHEN tp + fp > 0
         |       THEN ((tp * 1000000) // (tp + fp))::BIGINT END AS precision_ppm,
         |  CASE WHEN tp + fn > 0
         |       THEN ((tp * 1000000) // (tp + fn))::BIGINT END AS recall_ppm
         |FROM lag2""".stripMargin,

    // the merge table = the per-round argmax winners, in rank order
    "q_bpe_merges" ->
      s"""WITH ${sqlBpeCtes(BpeIters)}
         |${(1 to BpeIters).map(r =>
             s"SELECT $r::BIGINT AS merge_rank, l AS lhs, r AS rhs, " +
               s"l || r AS merged, cnt AS pair_count FROM bwin$r")
             .mkString("\nUNION ALL ")}""".stripMargin,

    // the final segmentation state, one row per vocab word
    "q_bpe_apply" ->
      s"""WITH ${sqlBpeCtes(BpeIters)}
         |SELECT word, freq, count(*)::BIGINT AS n_pieces,
         |  string_agg(sym, ' ' ORDER BY pos) AS pieces
         |FROM bseg$BpeIters GROUP BY 1, 2""".stripMargin,

    // the held-out slice's vocab re-segmented by replaying the training
    // chain's winners in rank order — no pair counting on the slice
    "q_bpe_encode" ->
      s"""WITH ${sqlBpeCtes(BpeIters)}${sqlBpeEncodeCtes(BpeIters,
             "(SELECT * FROM documents WHERE doc_id % 7 = 3)")}
         |SELECT word, freq, count(*)::BIGINT AS n_pieces,
         |  string_agg(sym, ' ' ORDER BY pos) AS pieces
         |FROM eseg$BpeIters GROUP BY 1, 2""".stripMargin,

    // train fertility (bseg) vs held-out fertility (eseg under the same
    // winners), one gap row per language
    "q_bpe_drift" ->
      s"""WITH ${sqlBpeCtes(BpeIters)}${sqlBpeEncodeCtes(BpeIters,
             "(SELECT * FROM documents WHERE doc_id % 7 = 3)")},
         |twl AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word
         |    FROM documents) GROUP BY 1, 2),
         |tsg AS (SELECT word, count(*)::BIGINT AS np
         |        FROM bseg$BpeIters GROUP BY 1),
         |ftr AS (SELECT w.lang,
         |          floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |                * 1000000) / 1000000 AS fertility_train
         |        FROM twl w JOIN tsg s USING (word) GROUP BY 1),
         |hwl AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word
         |    FROM documents WHERE doc_id % 7 = 3) GROUP BY 1, 2),
         |hsg AS (SELECT word, count(*)::BIGINT AS np
         |        FROM eseg$BpeIters GROUP BY 1),
         |fhe AS (SELECT w.lang, sum(w.n)::BIGINT AS n_words,
         |          sum(w.n * s.np)::BIGINT AS n_pieces,
         |          floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE
         |                * 1000000) / 1000000 AS fertility_heldout
         |        FROM hwl w JOIN hsg s USING (word) GROUP BY 1)
         |SELECT h.lang, h.n_words, h.n_pieces, t.fertility_train,
         |  h.fertility_heldout,
         |  floor((h.fertility_heldout - t.fertility_train) * 1000000)
         |    / 1000000 AS fertility_gap
         |FROM fhe h JOIN ftr t USING (lang)""".stripMargin,

    // per-language word counts joined onto the learned segmentation's
    // piece counts — the trained tokenizer measured on its own corpus
    "q_bpe_fertility" ->
      s"""WITH ${sqlBpeCtes(BpeIters)},
         |bwl AS (SELECT lang, word, count(*)::BIGINT AS n FROM (
         |    SELECT lang, unnest(list_filter(
         |      regexp_split_to_array(lower(text), '[^a-z]+'),
         |      x -> x <> '' AND len(x) <= $BpeMaxWordLen)) AS word
         |    FROM documents) GROUP BY 1, 2),
         |bsg AS (SELECT word, count(*)::BIGINT AS np
         |        FROM bseg$BpeIters GROUP BY 1)
         |SELECT w.lang, sum(w.n)::BIGINT AS n_words,
         |  sum(w.n * s.np)::BIGINT AS n_pieces,
         |  floor(sum(w.n * s.np)::DOUBLE / sum(w.n)::DOUBLE * 1000000)
         |    / 1000000 AS fertility
         |FROM bwl w JOIN bsg s USING (word) GROUP BY 1""".stripMargin,

    // first-doc-per-token min agg + cumulative counts at each checkpoint
    "q_vocab_growth" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
         |ft AS (SELECT t, min(doc_id) AS fd FROM tok GROUP BY t),
         |cps AS (SELECT unnest([${VocabCps.mkString(", ")}]::BIGINT[])
         |          AS checkpoint)
         |SELECT checkpoint,
         |  (SELECT count(*) FROM documents
         |   WHERE doc_id <= checkpoint)::BIGINT AS n_docs,
         |  (SELECT count(*) FROM tok
         |   WHERE doc_id <= checkpoint)::BIGINT AS n_tokens,
         |  (SELECT count(*) FROM ft WHERE fd <= checkpoint)::BIGINT AS vocab
         |FROM cps""".stripMargin,

    // distinct (doc, type) grid + first-doc min + per-doc new-type ratio
    "q_doc_novelty" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, t
         |            FROM (SELECT doc_id, unnest($toksSql) AS t
         |                  FROM documents)),
         |ft AS (SELECT t, min(doc_id) AS fd FROM dt GROUP BY t)
         |SELECT d.doc_id, count(*)::BIGINT AS n_types,
         |  count(CASE WHEN ft.fd = d.doc_id THEN 1 END)::BIGINT
         |    AS n_new_types,
         |  floor(count(CASE WHEN ft.fd = d.doc_id THEN 1 END)::DOUBLE
         |        / count(*)::DOUBLE * 1000000) / 1000000 AS novelty
         |FROM dt d JOIN ft ON d.t = ft.t GROUP BY 1""".stripMargin,

    "q_ann_cosine" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        ${sqlCosine("q.qe", "e.embedding")} AS score
         |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5""".stripMargin,

    // three unrolled greedy steps over the 8-deep pool; λ = 1/2 as the
    // identical fixed double chain
    "q_mmr" -> mmrOracleSql("vec_id < 4", 8, 3),

    // the A-Res quantized key replayed: L = qlog(2^32) − qlog(h+1),
    // key = (L·1e6) // w, smallest-k with id tiebreak
    "q_weighted_sample" ->
      s"""WITH s AS (SELECT doc_id, n_chars,
         |        ${sqlMd5Int("doc_id::VARCHAR || 'wsk'")} AS h
         |      FROM documents WHERE n_chars > 0),
         |k AS (SELECT doc_id, n_chars,
         |        ((floor(ln((4294967296)::DOUBLE) * 1000000)::BIGINT
         |          - floor(ln((h + 1)::DOUBLE) * 1000000)::BIGINT)
         |         * 1000000) // n_chars AS es_key
         |      FROM s)
         |SELECT doc_id, n_chars, es_key FROM k
         |ORDER BY es_key, doc_id LIMIT 50""".stripMargin,

    // three grouped passes joined on source; every ratio one floored
    // division of exact integer sums
    "q_data_card" -> sqlDataCardOracle,


    // the same md5 quarter-sample + brute pairs; per-pair distance
    // floored at 1e-6, one trunc6'd mean out
    "q_embed_diversity" ->
      s"""WITH sm AS (SELECT vec_id, embedding FROM embeddings
         |            WHERE ${sqlMd5Int("vec_id::VARCHAR")} % 4 = 0),
         |p AS (SELECT floor((1 - ${sqlCosine("a.embedding", "b.embedding")})
         |          * 1000000)::BIGINT AS d
         |      FROM sm a JOIN sm b ON a.vec_id < b.vec_id),
         |np AS (SELECT count(*)::BIGINT AS n_points FROM sm),
         |ag AS (SELECT count(*)::BIGINT AS n_pairs,
         |         coalesce(sum(d), 0)::BIGINT AS s FROM p)
         |SELECT np.n_points, ag.n_pairs, ag.s AS dist_sum_scaled,
         |  CASE WHEN ag.n_pairs > 0
         |       THEN floor(ag.s::DOUBLE / ag.n_pairs) / 1000000
         |  END AS mean_dist
         |FROM np, ag""".stripMargin,

    // the covariance + unrolled power-iteration chain; every round's
    // normalization is the same truncating HUGEINT div the Spark
    // decimal(38,0) `div` runs
    "q_pca_power" ->
      s"""${pcaOracleCtes(PcaIters)}
         |SELECT dim, w::BIGINT AS loading_ppm FROM v$PcaIters""".stripMargin,

    // exact-integer projections onto the round-final direction, flagged
    // past 3σ by the same fixed double chain
    "q_pca_outliers" ->
      s"""${pcaOracleCtes(PcaIters)},
         |e2 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |       WHERE embedding IS NOT NULL),
         |pj AS (SELECT e2.vec_id,
         |        sum(floor(e2.v[g.i + 1] * 1000000)::BIGINT
         |            * vv.w::BIGINT)::BIGINT AS proj
         |      FROM e2 CROSS JOIN gs g
         |      JOIN v$PcaIters vv ON vv.dim = g.i GROUP BY 1),
         |st AS (SELECT count(*)::BIGINT AS n,
         |        sum(proj::HUGEINT)::HUGEINT AS s,
         |        sum(proj::HUGEINT * proj::HUGEINT)::HUGEINT AS ss
         |      FROM pj),
         |s2 AS (SELECT n, s::DOUBLE / n::DOUBLE AS mu,
         |        ss::DOUBLE / n::DOUBLE
         |          - (s::DOUBLE / n::DOUBLE) * (s::DOUBLE / n::DOUBLE) AS vr
         |      FROM st)
         |SELECT pj.vec_id, pj.proj AS proj_scaled,
         |  vr > 0 AND abs(pj.proj::DOUBLE - mu) > 3 * sqrt(vr)
         |    AS is_outlier
         |FROM pj, s2""".stripMargin,

    // bruteForceTopK's exact ranking restricted to cross-label pairs
    "q_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |        label AS ql FROM embeddings
         |      WHERE vec_id < 32 AND label IS NOT NULL),
         |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |        ${sqlCosine("q.qe", "e.embedding")} AS score
         |      FROM q, embeddings e
         |      WHERE e.vec_id <> q.query_id AND e.label IS NOT NULL
         |        AND e.label <> q.ql),
         |r AS (SELECT query_id, neighbor_id, score,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, rank, neighbor_id,
         |  floor(score * 1000000) / 1000000 AS neg_score
         |FROM r WHERE rank <= 3""".stripMargin,

    // the machine's exact-integer walk IS a partitioned prefix sum over
    // plan-time constants; the first crossing row per key, frozen after
    "q_sprt_stream" ->
      s"""WITH e AS (SELECT user_id, $evMs AS ms, event_id,
         |        CASE WHEN event_type = 'purchase' THEN $SprtIncS
         |             ELSE $SprtIncF END AS inc
         |      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |        AND event_id IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT user_id, ms, event_id,
         |        sum(inc) OVER (PARTITION BY user_id ORDER BY ms, event_id
         |          ROWS UNBOUNDED PRECEDING)::BIGINT AS llr,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY ms, event_id)::BIGINT AS n
         |      FROM e),
         |x AS (SELECT *, CASE WHEN llr >= $SprtA THEN 'accept_h1'
         |                     WHEN llr <= $SprtB THEN 'accept_h0'
         |                END AS decision
         |      FROM c),
         |f AS (SELECT user_id, min(n)::BIGINT AS n FROM x
         |      WHERE decision IS NOT NULL GROUP BY 1)
         |SELECT x.user_id, x.event_id AS tiebreak, x.ms AS decision_ms,
         |  x.n AS n_events, x.llr AS llr_ppm, x.decision
         |FROM x JOIN f ON f.user_id = x.user_id AND f.n = x.n""".stripMargin,

    // qlog-exact ln RR over conditional exact/distinct counts; z is the
    // one mirrored double chain
    "q_rate_ratio" ->
      """WITH b AS (SELECT user_id % 2 = 0 AS a,
        |        event_type = 'purchase' AS ev,
        |        user_id::VARCHAR || ':'
        |          || (epoch_ms(ts) // 86400000)::VARCHAR AS xp
        |      FROM events WHERE user_id IS NOT NULL),
        |t AS (SELECT
        |        sum(CASE WHEN a AND ev THEN 1 ELSE 0 END)::BIGINT AS x_a,
        |        count(DISTINCT CASE WHEN a THEN xp END)::BIGINT AS t_a,
        |        sum(CASE WHEN NOT a AND ev THEN 1 ELSE 0 END)::BIGINT
        |          AS x_b,
        |        count(DISTINCT CASE WHEN NOT a THEN xp END)::BIGINT AS t_b
        |      FROM b),
        |u AS (SELECT *,
        |        x_a > 0 AND x_b > 0 AND t_a > 0 AND t_b > 0 AS ok
        |      FROM t),
        |v AS (SELECT *,
        |        CASE WHEN ok THEN
        |          floor(ln((x_a * t_b)::DOUBLE) * 1000000)::BIGINT
        |            - floor(ln((x_b * t_a)::DOUBLE) * 1000000)::BIGINT
        |        END AS lnrr
        |      FROM u)
        |SELECT x_a, t_a, x_b, t_b, lnrr AS lnrr_ppm,
        |  CASE WHEN ok THEN
        |    floor(lnrr::DOUBLE / 1000000
        |          / sqrt(1.0 / x_a::DOUBLE + 1.0 / x_b::DOUBLE)
        |          * 1000000) / 1000000
        |  END AS z
        |FROM v""".stripMargin,

    // Rayleigh quotient of the round-$PcaIters direction as a share of
    // trace(C) — all products HUGEINT-exact, both ratios truncating div
    "q_pca_explained" ->
      s"""${pcaOracleCtes(PcaIters)},
         |num AS (SELECT sum(c.cv::HUGEINT * vi.w * vj.w)::HUGEINT AS num,
         |         max(c.n_rows)::BIGINT AS n_rows
         |       FROM cov c JOIN v$PcaIters vi ON vi.dim = c.i
         |       JOIN v$PcaIters vj ON vj.dim = c.j),
         |den AS (SELECT sum(w * w)::HUGEINT AS den FROM v$PcaIters),
         |tr AS (SELECT sum(cv)::HUGEINT AS trace FROM cov WHERE i = j)
         |SELECT n_rows,
         |  CASE WHEN den > 0 THEN (num // den)::BIGINT END AS lambda_scaled,
         |  trace::BIGINT AS trace_scaled,
         |  CASE WHEN den > 0 AND trace > 0
         |       THEN (((num // den) * 1000000::HUGEINT) // trace)::BIGINT
         |  END AS explained_ppm
         |FROM num, den, tr""".stripMargin,

    // both ranking CTEs on the audit slice; the depth weights are the
    // IDENTICAL plan-time longs (Similarity.rboWeightsScaled), so the
    // per-pair sum is exact integer arithmetic on both engines
    "q_rbo" -> {
      val w = Similarity.rboWeightsScaled(5, 1, 2)
      val cases = w.zipWithIndex
        .map { case (v, i) => s"WHEN ${i + 1} THEN ${v}" }.mkString(" ")
      s"""WITH $sqlEmbSigCte,
         |q AS (SELECT vec_id AS query_id, embedding AS qe
         |      FROM embeddings WHERE vec_id < 64),
         |exs AS (SELECT q.query_id, e.vec_id AS neighbor_id,
         |          ${sqlCosine("q.qe", "e.embedding")} AS score
         |        FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |ex AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank FROM exs) WHERE rank <= 5),
         |lss AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |          ${sqlCosine("a.embedding", "b.embedding")} AS score
         |        FROM esig a JOIN esig b USING (bucket)
         |        WHERE a.vec_id <> b.vec_id AND a.vec_id < 64),
         |ls AS (SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY score DESC, neighbor_id)
         |      AS rank FROM lss) WHERE rank <= 5),
         |j AS (SELECT e.query_id,
         |        CASE greatest(e.rank, l.rank) $cases END::BIGINT AS w
         |      FROM ex e JOIN ls l ON e.query_id = l.query_id
         |        AND e.neighbor_id = l.neighbor_id),
         |agg AS (SELECT query_id, count(*)::BIGINT AS n_common,
         |          sum(w)::BIGINT AS rbo_scaled FROM j GROUP BY 1),
         |base AS (SELECT DISTINCT query_id FROM ex)
         |SELECT b.query_id,
         |  COALESCE(a.n_common, 0)::BIGINT AS n_common,
         |  COALESCE(a.rbo_scaled, 0)::BIGINT AS rbo_scaled,
         |  COALESCE(a.rbo_scaled, 0)::DOUBLE / 1000000000000 AS rbo
         |FROM base b LEFT JOIN agg a ON a.query_id = b.query_id""".stripMargin
    },

    // the q_ann_cosine ranked lists under label-match relevance; DCG
    // terms are exact integer // of quantized log2 discounts, the ideal
    // re-rank a ≤k-row partitioned window with rank as tiebreak
    "q_ndcg" ->
      s"""WITH $sqlAnnRelCtes,
         |i AS (SELECT query_id, rank, rel,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY rel DESC, rank) AS irank
         |      FROM jrel),
         |t AS (SELECT query_id,
         |        (rel * 1000000000000::BIGINT)
         |          // floor(log2(rank::DOUBLE + 1) * 1000000)::BIGINT AS t,
         |        (rel * 1000000000000::BIGINT)
         |          // floor(log2(irank::DOUBLE + 1) * 1000000)::BIGINT AS it
         |      FROM i)
         |SELECT query_id, count(*)::BIGINT AS n_ranked,
         |  sum(t)::BIGINT AS dcg_scaled, sum(it)::BIGINT AS idcg_scaled,
         |  CASE WHEN sum(it) > 0 THEN
         |    floor(sum(t)::DOUBLE / sum(it)::DOUBLE * 1000000) / 1000000
         |  END AS ndcg
         |FROM t GROUP BY 1""".stripMargin,

    // first same-label rank per query; zero-hit lists stay in the
    // denominator at rr = 0 (the standard MRR convention)
    "q_mrr" ->
      s"""WITH $sqlAnnRelCtes,
         |f AS (SELECT query_id,
         |        min(CASE WHEN rel > 0 THEN rank END) AS fr
         |      FROM jrel GROUP BY 1),
         |g AS (SELECT count(*)::BIGINT AS n_queries,
         |        count(fr)::BIGINT AS n_hit,
         |        COALESCE(sum(COALESCE(1000000::BIGINT // fr, 0)),
         |          0)::BIGINT AS mrr_scaled
         |      FROM f)
         |SELECT n_queries, n_hit, mrr_scaled,
         |  CASE WHEN n_queries > 0 THEN
         |    floor(mrr_scaled::DOUBLE
         |      / (n_queries::DOUBLE * 1000000) * 1000000) / 1000000
         |  END AS mrr
         |FROM g""".stripMargin,

    // the same ordered centroid folds per slice, then the shared cosine
    // chain on the two DOUBLE centroids
    "q_centroid_drift" ->
      s"""WITH ma AS (SELECT label, count(*)::BIGINT AS n_a,
         |        list(embedding ORDER BY vec_id) AS vs
         |      FROM embeddings WHERE vec_id % 2 = 0 GROUP BY label),
         |mb AS (SELECT label, count(*)::BIGINT AS n_b,
         |        list(embedding ORDER BY vec_id) AS vs
         |      FROM embeddings WHERE vec_id % 2 = 1 GROUP BY label),
         |ca AS (SELECT label, n_a,
         |        [list_reduce(list_prepend(0.0::DOUBLE,
         |           [vs[m][d+1]::DOUBLE for m in range(1, len(vs)+1)]),
         |           (a,b) -> a+b) / len(vs)::DOUBLE
         |         for d in range(0,$EmbDims)] AS c
         |      FROM ma),
         |cb AS (SELECT label, n_b,
         |        [list_reduce(list_prepend(0.0::DOUBLE,
         |           [vs[m][d+1]::DOUBLE for m in range(1, len(vs)+1)]),
         |           (a,b) -> a+b) / len(vs)::DOUBLE
         |         for d in range(0,$EmbDims)] AS c
         |      FROM mb)
         |SELECT ca.label, n_a, n_b,
         |  floor(${sqlCosine("ca.c", "cb.c")} * 1000000) / 1000000
         |    AS drift_cos
         |FROM ca JOIN cb ON ca.label = cb.label""".stripMargin,

    // the same fold-exact cosine ranking; NULL neighbor labels count
    // toward k but not disagreement on both engines
    "q_knn_disagree" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
         |        label AS qlab
         |      FROM embeddings WHERE vec_id % 10 = 0 AND label IS NOT NULL),
         |s AS (SELECT q.query_id, q.qlab, e.vec_id AS neighbor_id,
         |        e.label AS nlab,
         |        ${sqlCosine("q.qe", "e.embedding")} AS score
         |      FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |r AS (SELECT query_id, qlab, nlab,
         |        row_number() OVER (PARTITION BY query_id
         |                           ORDER BY score DESC, neighbor_id) AS rank
         |      FROM s)
         |SELECT query_id, max(qlab) AS label, count(*)::BIGINT AS k_actual,
         |  count(CASE WHEN nlab <> qlab THEN 1 END)::BIGINT AS n_disagree,
         |  floor(count(CASE WHEN nlab <> qlab THEN 1 END)::DOUBLE
         |        / count(*)::DOUBLE * 1000000) / 1000000 AS disagree_rate
         |FROM r WHERE rank <= 10 GROUP BY 1""".stripMargin,

    // projection + 8-dim cosine + exact 64-dim cosine, all fold-exact; the
    // recall join mirrors q_sq_recall's
    "q_rp_recall" -> {
      val rpArr = (0 until RpDims).map { j =>
        s"""list_reduce(list_prepend(0.0::DOUBLE,
           |      [CASE WHEN ${sqlMd5Int(s"(${RpOffset + j}::VARCHAR || ':' || d::VARCHAR)")} & 1 = 1
           |            THEN embedding[d+1]::DOUBLE ELSE -(embedding[d+1]::DOUBLE) END
           |       for d in range(0,$EmbDims)]), (a,b) -> a+b)""".stripMargin
      }.mkString("[", ",\n      ", "]")
      def pcos(a: String, b: String) = {
        def dot(x: String, y: String) =
          s"list_reduce(list_prepend(0.0::DOUBLE, [$x[i+1] * $y[i+1] " +
            s"for i in range(0,$RpDims)]), (p,q) -> p+q)"
        s"${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)}))"
      }
      s"""WITH prj AS (SELECT vec_id, $rpArr AS pv FROM embeddings),
         |ps AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |        ${pcos("q.pv", "e.pv")} AS score
         |      FROM prj e, (SELECT * FROM prj WHERE vec_id < 8) q
         |      WHERE e.vec_id <> q.vec_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM ps) WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |        ${sqlCosine("q.embedding", "e.embedding")} AS score
         |      FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
         |      WHERE e.vec_id <> q.vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM bs) WHERE rank <= 5)
         |SELECT ex.query_id,
         |  (SUM(CASE WHEN ap.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5) AS recall
         |FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id
         |  AND ex.neighbor_id = ap.neighbor_id
         |GROUP BY ex.query_id""".stripMargin
    },

    // the identical ±1 matrix from md5(plane:dim), the identical left fold
    // from 0.0 — every projected double is bit-for-bit reproducible, then
    // floor-truncated on both sides
    "q_rand_project" -> {
      val cols = (0 until RpDims).map { j =>
        val dot =
          s"""list_reduce(list_prepend(0.0::DOUBLE,
             |      [CASE WHEN ${sqlMd5Int(s"(${RpOffset + j}::VARCHAR || ':' || d::VARCHAR)")} & 1 = 1
             |            THEN embedding[d+1]::DOUBLE ELSE -(embedding[d+1]::DOUBLE) END
             |       for d in range(0,$EmbDims)]), (a,b) -> a+b)""".stripMargin
        s"floor(($dot) * 1000000) / 1000000 AS rp_$j"
      }.mkString(",\n  ")
      s"SELECT vec_id,\n  $cols\nFROM embeddings"
    },

    "q_minhash_pairs" ->
      s"""WITH $sqlMinhashCtes
         |SELECT doc_a, doc_b, est_jaccard FROM cand WHERE est_jaccard >= 0.5""".stripMargin,

    // same signature/band CTEs; candidates cross the slice boundary and
    // the verify is the exact distinct-hash Jaccard both engines share
    "q_minhash_join" ->
      s"""WITH $sqlMinhashCtes,
         |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh),
         |cc AS (SELECT DISTINCT a.doc_id AS left_id, b.doc_id AS right_id
         |       FROM banded a JOIN banded b USING (bucket)
         |       WHERE a.doc_id % 7 = 3 AND b.doc_id % 7 <> 3)
         |SELECT left_id, right_id, jacc AS jaccard FROM (
         |  SELECT c.left_id, c.right_id,
         |    len(list_intersect(x.sh, y.sh))::DOUBLE /
         |      len(list_distinct(list_concat(x.sh, y.sh)))::DOUBLE AS jacc
         |  FROM cc c JOIN shs x ON c.left_id = x.doc_id
         |            JOIN shs y ON c.right_id = y.doc_id)
         |WHERE jacc >= 0.5""".stripMargin,

    // brute-force all-pairs ground truth — the recall proof for the
    // prefix-filtered Spark plan
    "q_jaccard_allpairs" ->
      s"""WITH $sqlMinhashCtes,
         |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)
         |SELECT doc_a, doc_b, jacc AS jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE /
         |      len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jacc
         |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id)
         |WHERE jacc >= 0.5""".stripMargin,

    // the exact oracle's CTE chain verbatim over the md5 slice relation
    "q_jaccard_allpairs_sampled" ->
      s"""WITH ${sqlMinhashCtesOver(
             s"(SELECT * FROM documents WHERE ${sqlMd5Int("doc_id::VARCHAR")} % $BqSampleMod = 0)")},
         |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)
         |SELECT doc_a, doc_b, jacc AS jaccard,
         |  CAST($BqSampleMod AS BIGINT) AS sample_den FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_intersect(a.sh, b.sh))::DOUBLE /
         |      len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jacc
         |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id)
         |WHERE jacc >= 0.5""".stripMargin,

    // truth = brute force, candidates = the same banding CTEs the
    // minhash oracles share; count arithmetic exact, ratios trunc6'd
    "q_block_quality" ->
      s"""WITH $sqlMinhashCtes,
         |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh),
         |truth AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |    len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
         |cd AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM cand),
         |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents
         |       WHERE doc_id IS NOT NULL),
         |nc AS (SELECT count(*)::BIGINT AS n_candidates FROM cd),
         |nt AS (SELECT count(*)::BIGINT AS n_true_pairs FROM truth),
         |ng AS (SELECT count(*)::BIGINT AS n_caught FROM truth t
         |       WHERE EXISTS (SELECT 1 FROM cd c
         |                     WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
         |SELECT n_docs, (n_docs * (n_docs - 1)) // 2 AS n_possible_pairs,
         |  n_candidates, n_true_pairs, n_caught,
         |  CASE WHEN (n_docs * (n_docs - 1)) // 2 > 0
         |    THEN floor((1 - n_candidates::DOUBLE
         |               / ((n_docs * (n_docs - 1)) // 2)::DOUBLE) * 1000000)
         |         / 1000000 END AS reduction_ratio,
         |  CASE WHEN n_true_pairs > 0
         |    THEN floor(n_caught::DOUBLE / n_true_pairs::DOUBLE * 1000000)
         |         / 1000000 END AS pairs_completeness
         |FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN ng""".stripMargin,

    // the audit over the deterministic md5 slice: the exact oracle's CTE
    // chain verbatim with documents swapped for the sampled relation
    "q_block_quality_sampled" ->
      s"""WITH ${sqlMinhashCtesOver(
             s"(SELECT * FROM documents WHERE ${sqlMd5Int("doc_id::VARCHAR")} % $BqSampleMod = 0)")},
         |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh),
         |truth AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM shs a JOIN shs b ON a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |    len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
         |cd AS MATERIALIZED (SELECT DISTINCT doc_a, doc_b FROM cand),
         |nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents
         |       WHERE doc_id IS NOT NULL
         |         AND ${sqlMd5Int("doc_id::VARCHAR")} % $BqSampleMod = 0),
         |nc AS (SELECT count(*)::BIGINT AS n_candidates FROM cd),
         |nt AS (SELECT count(*)::BIGINT AS n_true_pairs FROM truth),
         |ng AS (SELECT count(*)::BIGINT AS n_caught FROM truth t
         |       WHERE EXISTS (SELECT 1 FROM cd c
         |                     WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
         |SELECT n_docs, (n_docs * (n_docs - 1)) // 2 AS n_possible_pairs,
         |  n_candidates, n_true_pairs, n_caught,
         |  CASE WHEN (n_docs * (n_docs - 1)) // 2 > 0
         |    THEN floor((1 - n_candidates::DOUBLE
         |               / ((n_docs * (n_docs - 1)) // 2)::DOUBLE) * 1000000)
         |         / 1000000 END AS reduction_ratio,
         |  CASE WHEN n_true_pairs > 0
         |    THEN floor(n_caught::DOUBLE / n_true_pairs::DOUBLE * 1000000)
         |         / 1000000 END AS pairs_completeness,
         |  CAST($BqSampleMod AS BIGINT) AS sample_den
         |FROM nd CROSS JOIN nc CROSS JOIN nt CROSS JOIN ng""".stripMargin,

    "q_pq_topk" ->
      s"""WITH $sqlPqCtes,
         |s AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          [r.rv[i+1] * q.embedding[i+1]::DOUBLE for i in range(0, $EmbDims)]),
         |          (p, q) -> p + q) AS score
         |      FROM recon r, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
         |      WHERE r.vec_id <> q.vec_id),
         |rk AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, rank, neighbor_id FROM rk WHERE rank <= 5""".stripMargin,

    "q_pq_topk_sample" ->
      s"""WITH ${sqlPqCtesOver(
             s"(SELECT * FROM embeddings WHERE ${sqlMd5Int("vec_id::VARCHAR")} % $IvfSampleMod = 0 OR vec_id < $IvfNlist)")},
         |s AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          [r.rv[i+1] * q.embedding[i+1]::DOUBLE for i in range(0, $EmbDims)]),
         |          (p, q) -> p + q) AS score
         |      FROM recon r, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
         |      WHERE r.vec_id <> q.vec_id),
         |rk AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, rank, neighbor_id FROM rk WHERE rank <= 5""".stripMargin,

    "q_pq_recall" ->
      s"""WITH $sqlPqCtes,
         |s AS (SELECT q.vec_id AS query_id, r.vec_id AS neighbor_id,
         |        list_reduce(list_prepend(0.0::DOUBLE,
         |          [r.rv[i+1] * q.embedding[i+1]::DOUBLE for i in range(0, $EmbDims)]),
         |          (p, q) -> p + q) AS score
         |      FROM recon r, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
         |      WHERE r.vec_id <> q.vec_id),
         |pq AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM s) WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |        ${sqlCosine("q.embedding", "e.embedding")} AS score
         |      FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
         |      WHERE e.vec_id <> q.vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM bs) WHERE rank <= 5)
         |SELECT ex.query_id,
         |  (SUM(CASE WHEN pq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5) AS recall
         |FROM ex LEFT JOIN pq ON ex.query_id = pq.query_id
         |  AND ex.neighbor_id = pq.neighbor_id
         |GROUP BY ex.query_id""".stripMargin,

    "q_quota_sample" ->
      s"""SELECT lang, rank, doc_id FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${sqlMd5Int("(doc_id::VARCHAR || 'q')")} DESC, doc_id) AS rank
         |  FROM documents)
         |WHERE rank <= 20""".stripMargin,

    // mirrors sqEncode/sqDequant arithmetic token-for-token: the TINYINT
    // round trip, the clamp, and the (span/255) factor are all inside the
    // hash check. DuckDB's double→int cast rounds, but floor() already
    // yields an integral double, so the cast is exact
    "q_sq_topk" ->
      s"""WITH $sqlSqCtes,
         |r AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 5""".stripMargin,

    // exact and SQ rank CTEs fused: full-outer on (query, neighbor),
    // absent rank contributes 0, the same two-division chain
    "q_rrf" ->
      s"""WITH $sqlSqCtes,
         |sqr AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM s)
         |      , sq5 AS (SELECT * FROM sqr WHERE rank <= 5),
         |bq AS (SELECT vec_id AS query_id, embedding AS qe
         |       FROM embeddings WHERE vec_id < 8),
         |bs AS (SELECT bq.query_id, e.vec_id AS neighbor_id,
         |        ${sqlCosine("bq.qe", "e.embedding")} AS score
         |      FROM bq, embeddings e WHERE e.vec_id <> bq.query_id),
         |br AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM bs),
         |b5 AS (SELECT * FROM br WHERE rank <= 5)
         |SELECT coalesce(b5.query_id, sq5.query_id) AS query_id,
         |  coalesce(b5.neighbor_id, sq5.neighbor_id) AS neighbor_id,
         |  b5.rank AS rank_a, sq5.rank AS rank_b,
         |  floor((CASE WHEN b5.rank IS NOT NULL
         |              THEN 1.0 / (60.0 + b5.rank::DOUBLE) ELSE 0.0 END
         |         + CASE WHEN sq5.rank IS NOT NULL
         |                THEN 1.0 / (60.0 + sq5.rank::DOUBLE) ELSE 0.0 END)
         |        * 1000000) / 1000000 AS rrf_score
         |FROM b5 FULL OUTER JOIN sq5
         |  ON b5.query_id = sq5.query_id
         |  AND b5.neighbor_id = sq5.neighbor_id""".stripMargin,

    "q_sq_recall" ->
      s"""WITH $sqlSqCtes,
         |sq AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM s) WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         |        ${sqlCosine("q.embedding", "e.embedding")} AS score
         |      FROM embeddings e, (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8) q
         |      WHERE e.vec_id <> q.vec_id),
         |ex AS (SELECT query_id, neighbor_id FROM (
         |        SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         |          ORDER BY score DESC, neighbor_id) AS rank FROM bs) WHERE rank <= 5)
         |SELECT ex.query_id,
         |  (SUM(CASE WHEN sq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 5) AS recall
         |FROM ex LEFT JOIN sq ON ex.query_id = sq.query_id
         |  AND ex.neighbor_id = sq.neighbor_id
         |GROUP BY ex.query_id""".stripMargin,

    "q_simhash" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |hsh AS (SELECT doc_id, list_transform(toks, t -> ${sqlMd5Long("t")}) AS hs FROM tk)
         |SELECT doc_id, ${sqlSimhashBits("hs")} AS simhash FROM hsh""".stripMargin,

    "q_simhash_jaccard" -> {
      val jacc = "len(list_intersect(a.sh, b.sh))::DOUBLE / " +
        "len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE"
      s"""WITH stk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh60 AS (SELECT doc_id, list_transform(toks, t -> ${sqlMd5Long("t")}) AS hs FROM stk),
         |sims AS (SELECT doc_id, ${sqlSimhashBits("hs")} AS sh FROM sh60),
         |banded AS (SELECT doc_id,
         |        b.b::VARCHAR || '_' || ((sh >> (b.b * 20)) & 1048575)::VARCHAR AS bk
         |        FROM sims, (SELECT unnest(range(0,$SimBands)) AS b) b),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM banded a JOIN banded b USING (bk) WHERE a.doc_id < b.doc_id),
         |nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt,
         |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= $MhK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
         |                   for i in range(0, len(toks)-$MhK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |shs AS (SELECT doc_id,
         |        list_distinct(list_transform(shingles, s -> ${sqlMd5Int("s")})) AS sh FROM nshg)
         |SELECT c.doc_a, c.doc_b, $jacc AS jaccard
         |FROM cand c JOIN shs a ON c.doc_a = a.doc_id JOIN shs b ON c.doc_b = b.doc_id
         |WHERE $jacc >= 0.5""".stripMargin
    },

    "q_winnow_fp" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt,
         |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= $MhK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
         |                   for i in range(0, len(toks)-$MhK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |wfp AS (SELECT doc_id,
         |        CASE WHEN len(hs) < $WinnowW THEN [list_min(hs)]
         |             ELSE list_distinct([list_min(list_slice(hs, i+1, i+$WinnowW))
         |                                 for i in range(0, len(hs)-$WinnowW+1)]) END AS fps
         |        FROM hsh)
         |SELECT doc_id, unnest(fps) AS fp_hash FROM wfp""".stripMargin,

    "q_winnow_pairs" -> sqlWinnowPairs(""),
    "q_winnow_pairs_capped" -> sqlWinnowPairs(
      s" AND fp_hash IN (SELECT fp_hash FROM fpr GROUP BY 1 HAVING COUNT(*) <= $WinnowCap)"),

    "q_decontaminate" ->
      s"""WITH $sqlContaminationCtes
         |SELECT c.doc_id, c.bench_id, $sqlContainmentExpr AS containment
         |FROM cand c JOIN shs a ON c.doc_id = a.doc_id JOIN shs b ON c.bench_id = b.doc_id
         |WHERE $sqlContainmentExpr >= 0.05 AND c.doc_id <> c.bench_id""".stripMargin,

    // all four stage rules replayed in one WITH (disjoint CTE name
    // spaces: contamination, logreg, unigram), stages chained by
    // EXISTS / NOT EXISTS, one aggregate row per stage
    "q_curation_funnel" -> sqlCurationFunnelOracle,
    // the per-source ledger: the same stage CTEs grouped by the doc's
    // source
    "q_funnel_by_source" -> {
      val stages = Seq("cf0" -> (0, "ingested"), "cs1" -> (1, "exact_dedup"),
        "cs2" -> (2, "near_dedup"), "cs3" -> (3, "decontaminated"),
        "cs4" -> (4, "quality_kept"), "cs5" -> (5, "ppl_head"))
      val rows = stages.map { case (cte, (i, name)) =>
        s"""SELECT $i::BIGINT AS stage_idx, '$name' AS stage, s.source,
           |  count(*)::BIGINT AS n_docs, sum(f.nt)::BIGINT AS n_tokens
           |FROM $cte f JOIN fbs s USING (doc_id) GROUP BY 3""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $sqlCurationFunnelCtes,
         |fbs AS (SELECT doc_id, source FROM documents)
         |$rows""".stripMargin
    },
    // the streamed composition accumulates the SAME six rows — one oracle
    // text, two execution paths (batch joins vs five chained gates)
    "q_curation_funnel_stream" -> sqlCurationFunnelOracle,

    // the export manifest over the funnel's kept set: the same md5-long
    // key (15 hex chars → non-negative 60-bit, so % needs no pmod on
    // either engine), per-shard windows (oracle-only; the engine side is
    // the keyed bucketed prefix scan), q_pack's exact int64 arithmetic
    "q_shard_manifest" ->
      s"""WITH $sqlCurationFunnelCtes,
         |smk AS (SELECT doc_id, nt,
         |        ${sqlMd5Long("doc_id::VARCHAR")} AS ok
         |      FROM cs5),
         |smo AS (SELECT doc_id, nt, ok % $ShardCount AS shard,
         |        row_number() OVER smw::BIGINT AS pos,
         |        (sum(nt) OVER smw - nt)::BIGINT AS excl
         |      FROM smk WINDOW smw AS (PARTITION BY ok % $ShardCount
         |        ORDER BY ok, doc_id ROWS UNBOUNDED PRECEDING))
         |SELECT doc_id, shard, pos, nt AS n_tokens,
         |  (excl // $PackTokens)::BIGINT AS pack_first,
         |  ((excl + nt - 1) // $PackTokens)::BIGINT AS pack_last,
         |  (excl % $PackTokens)::BIGINT AS offset_in_pack
         |FROM smo""".stripMargin,

    // the INCREMENTAL manifest: same kept set and same md5 shard/pack
    // arithmetic as q_shard_manifest, but positions follow the pipeline's
    // arrival order — (slice, ok, doc_id) within each shard, where the
    // slice is the deterministic id-range batch of the file-monitor
    // replay (lo/span recomputed here exactly as FunnelPipeline.runSliced
    // derives them, numBatches = 2)
    "q_shard_manifest_stream" ->
      s"""WITH $sqlCurationFunnelCtes,
         |sbx AS (SELECT min(doc_id) AS lo,
         |        (max(doc_id) - min(doc_id)) // 2 + 1 AS span
         |      FROM documents),
         |ssk AS (SELECT doc_id, nt, ${sqlMd5Long("doc_id::VARCHAR")} AS ok,
         |        (doc_id - b.lo) // b.span AS slice
         |      FROM cs5 CROSS JOIN sbx b),
         |sso AS (SELECT doc_id, nt, ok % $ShardCount AS shard,
         |        row_number() OVER ssw::BIGINT AS pos,
         |        (sum(nt) OVER ssw - nt)::BIGINT AS excl
         |      FROM ssk WINDOW ssw AS (PARTITION BY ok % $ShardCount
         |        ORDER BY slice, ok, doc_id ROWS UNBOUNDED PRECEDING))
         |SELECT doc_id, shard, pos, nt AS n_tokens,
         |  (excl // $PackTokens)::BIGINT AS pack_first,
         |  ((excl + nt - 1) // $PackTokens)::BIGINT AS pack_last,
         |  (excl % $PackTokens)::BIGINT AS offset_in_pack
         |FROM sso""".stripMargin,

    // the funnel rules un-chained: each gate's independent drop verdict
    // per ingested doc (EXISTS against the same rule CTEs), the 10 pairs
    // from a VALUES cross — counts engine-exact
    "q_gate_overlap" ->
      s"""WITH $sqlCurationFunnelCtes,
         |fge AS (SELECT f.doc_id,
         |  [NOT EXISTS (SELECT 1 FROM cdd d WHERE d.doc_id = f.doc_id),
         |   EXISTS (SELECT 1 FROM cnd n WHERE n.doc_id = f.doc_id),
         |   EXISTS (SELECT 1 FROM ccont c WHERE c.doc_id = f.doc_id),
         |   NOT EXISTS (SELECT 1 FROM clq q WHERE q.doc_id = f.doc_id),
         |   NOT EXISTS (SELECT 1 FROM cph p WHERE p.doc_id = f.doc_id)]
         |    AS ds
         | FROM cf0 f),
         |ggn AS (SELECT * FROM (VALUES ('exact_dedup', 1),
         |   ('near_dedup', 2), ('decontaminated', 3), ('quality_kept', 4),
         |   ('ppl_head', 5)) g(name, idx)),
         |gpx AS (SELECT a.name AS gate_a, b.name AS gate_b, a.idx AS ia,
         |   b.idx AS ib FROM ggn a JOIN ggn b ON a.idx < b.idx)
         |SELECT gate_a, gate_b,
         |  sum(CASE WHEN ds[ia] THEN 1 ELSE 0 END)::BIGINT AS n_drop_a,
         |  sum(CASE WHEN ds[ib] THEN 1 ELSE 0 END)::BIGINT AS n_drop_b,
         |  sum(CASE WHEN ds[ia] AND ds[ib] THEN 1 ELSE 0 END)::BIGINT
         |    AS n_drop_both
         |FROM gpx CROSS JOIN fge GROUP BY 1, 2""".stripMargin,

    // the sweep re-anchors the funnel's quality cut: per-doc score_ppm is
    // clq's sigmoid WITHOUT the 500000 filter; survivors at t = stage-3
    // docs scoring >= t that sit in the ppl head
    "q_gate_sweep" -> {
      val sums = GateSweepThrs.map(t =>
        s"""COALESCE(sum(CASE WHEN score_ppm >= $t THEN 1 ELSE 0 END), 0)::BIGINT AS d$t,
           |  COALESCE(sum(CASE WHEN score_ppm >= $t THEN nt ELSE 0 END), 0)::BIGINT AS t$t""".stripMargin)
        .mkString(",\n  ")
      val rows = GateSweepThrs.map(t =>
        s"SELECT CAST($t AS BIGINT) AS thr_ppm, d$t AS n_docs, t$t AS n_tokens FROM gsc")
        .mkString("\nUNION ALL\n")
      s"""WITH $sqlCurationFunnelCtes,
         |gsq AS (SELECT f.doc_id,
         |    floor(1000000.0 / (1.0 + exp(-((w.w0 + w.w1 * f.x_len + w.w2 * f.x_div)::DOUBLE) / 1000000.0)))::BIGINT AS score_ppm
         |  FROM lf f CROSS JOIN lw$LrRounds w),
         |gsb AS (SELECT s.nt, q.score_ppm FROM cs3 s JOIN gsq q USING (doc_id)
         |  WHERE EXISTS (SELECT 1 FROM cph p WHERE p.doc_id = s.doc_id)),
         |gsc AS (SELECT $sums
         |FROM gsb)
         |$rows""".stripMargin
    },

    // the dedup-aggressiveness sweep: per-doc max lower-id-neighbor
    // jaccard over the verified pair set; all other gates as flags
    "q_neardup_sweep" -> {
      val j = "len(list_intersect(a.sh, b.sh))::DOUBLE / " +
        "len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE"
      val sums = NearDupSweepThrs.map(t =>
        s"""COALESCE(sum(CASE WHEN mj IS NULL OR mj < ${t / 100d} THEN 1 ELSE 0 END), 0)::BIGINT AS d$t,
           |  COALESCE(sum(CASE WHEN mj IS NULL OR mj < ${t / 100d} THEN nt ELSE 0 END), 0)::BIGINT AS t$t""".stripMargin)
        .mkString(",\n  ")
      val rows = NearDupSweepThrs.map(t =>
        s"SELECT CAST($t AS BIGINT) AS threshold_pct, d$t AS n_docs, t$t AS n_tokens FROM nsc")
        .mkString("\nUNION ALL\n")
      s"""WITH $sqlCurationFunnelCtes,
         |nsj AS (SELECT c.doc_b AS doc_id, max($j) AS mj
         |  FROM mcand c JOIN mshs a ON c.doc_a = a.doc_id
         |               JOIN mshs b ON c.doc_b = b.doc_id
         |  WHERE $j >= 0.5 GROUP BY 1),
         |nsb AS (SELECT f.nt, j.mj FROM cf0 f LEFT JOIN nsj j USING (doc_id)
         |  WHERE EXISTS (SELECT 1 FROM cdd d WHERE d.doc_id = f.doc_id)
         |    AND NOT EXISTS (SELECT 1 FROM ccont c WHERE c.doc_id = f.doc_id)
         |    AND EXISTS (SELECT 1 FROM clq q WHERE q.doc_id = f.doc_id)
         |    AND EXISTS (SELECT 1 FROM cph p WHERE p.doc_id = f.doc_id)),
         |nsc AS (SELECT $sums
         |FROM nsb)
         |$rows""".stripMargin
    },

    // the same md5 assignment rolled up per shard
    "q_shard_summary" -> sqlShardSummaryOracle,

    // the release card: every section recomputed from the SAME oracle
    // texts the individual queries check against, composed as
    // independently-scoped CTE subqueries (each keeps its own WITH chain);
    // counts cast to DOUBLE (< 2^53, exact), the contamination roll-up
    // aggregated on exact int64 sums before its one trunc6'd division
    "q_release_card" ->
      s"""WITH rfu AS ($sqlCurationFunnelOracle),
         |rdc AS ($sqlDataCardOracle),
         |rtc AS ($sqlTokenizerCompareOracle),
         |rsh AS ($sqlShardSummaryOracle),
         |rcr AS ($sqlContaminationRateOracle)
         |SELECT 'funnel' AS section, stage AS item, 'n_docs' AS metric,
         |  n_docs::DOUBLE AS value FROM rfu
         |UNION ALL SELECT 'funnel', stage, 'n_tokens', n_tokens::DOUBLE
         |  FROM rfu
         |UNION ALL SELECT 'source', source, 'n_docs', n_docs::DOUBLE
         |  FROM rdc
         |UNION ALL SELECT 'source', source, 'dup_rate', dup_rate FROM rdc
         |UNION ALL SELECT 'source', source, 'stop_ratio', stop_ratio
         |  FROM rdc
         |UNION ALL SELECT 'tokenizer', lang, 'bpe_gap', bpe_gap FROM rtc
         |UNION ALL SELECT 'tokenizer', lang, 'uni_gap', uni_gap FROM rtc
         |UNION ALL SELECT 'tokenizer', lang, 'uni_wins',
         |  CASE WHEN uni_fertility_heldout < bpe_fertility_heldout
         |       THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END FROM rtc
         |UNION ALL SELECT 'shards', shard::VARCHAR, 'n_seqs',
         |  n_seqs::DOUBLE FROM rsh
         |UNION ALL SELECT 'contamination', 'corpus', 'gram_rate',
         |  floor(sum(n_contaminated)::DOUBLE / sum(n_grams)::DOUBLE
         |        * 1000000) / 1000000 FROM rcr
         |UNION ALL SELECT 'contamination', 'corpus', 'n_flagged_docs',
         |  sum(CASE WHEN n_contaminated > 0 THEN 1 ELSE 0 END)::DOUBLE
         |  FROM rcr""".stripMargin,

    // the same shingle-hash chain; per-doc distinct grams left-join the
    // benchmark's distinct gram set, rate = one floored division
    "q_contamination_rate" -> sqlContaminationRateOracle,

    // md5(path)-ordered window prefix sum (the oracle may use the plain
    // window; the Spark side must not), exclusive-prefix div target
    "q_compaction_plan" ->
      s"""WITH f AS (SELECT source || '/' || doc_id::VARCHAR || '.parquet' AS path,
         |        n_chars::BIGINT AS bytes FROM documents),
         |o AS (SELECT path, bytes, ${sqlMd5Long("path")} AS ok FROM f),
         |c AS (SELECT path, bytes,
         |        sum(bytes) OVER (ORDER BY ok, path
         |          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_bytes
         |      FROM o)
         |SELECT path, bytes, cum_bytes,
         |  ((cum_bytes - bytes) // 4000)::BIGINT AS group_id
         |FROM c""".stripMargin,

    // half-open overlap on integer intervals per (layout, axis):
    // a.lo <= b.hi AND b.lo <= a.hi; depth = 1 + overlapping others,
    // zero-overlap kept; the z layout's fid is the 20-bit interleave's
    // top 8 bits (the q_zorder bit algebra, then // 2^32)
    "q_layout_depth" -> {
      def stats(tag: String, fidExpr: String): String =
        s"""$tag AS (SELECT $fidExpr AS fid,
           |  min(day)::BIGINT AS lo_d, max(day)::BIGINT AS hi_d,
           |  min(l_orderkey)::BIGINT AS lo_k, max(l_orderkey)::BIGINT AS hi_k
           | FROM liz GROUP BY 1)""".stripMargin
      def depth(tag: String, layout: String, axis: String,
                lo: String, hi: String): String =
        s"""SELECT f.fid AS file_id, f.$lo AS key_lo, f.$hi AS key_hi,
           |  (coalesce(o.n, 0) + 1)::BIGINT AS depth,
           |  '$layout' AS layout, '$axis' AS axis
           |FROM $tag f LEFT JOIN (
           |  SELECT a.fid, count(*)::BIGINT AS n FROM $tag a JOIN $tag b
           |    ON b.fid <> a.fid AND a.$lo <= b.$hi AND b.$lo <= a.$hi
           |  GROUP BY 1) o USING (fid)""".stripMargin
      val zTerms = (for { j <- 0 until 8; (d, i) <- Seq("zk", "zd").zipWithIndex }
        yield s"((($d >> $j) & 1) << ${j * 2 + i})").mkString(" + ")
      s"""WITH li AS (SELECT l_orderkey, l_linenumber,
         |        epoch_ms(l_shipdate) // 86400000 AS day
         |      FROM lineitem
         |      WHERE l_orderkey IS NOT NULL AND l_shipdate IS NOT NULL
         |        AND l_linenumber IS NOT NULL),
         |lzr AS (SELECT l_orderkey, day,
         |        row_number() OVER (ORDER BY l_orderkey,
         |          l_orderkey * 100 + l_linenumber)::BIGINT AS rk
         |      FROM li),
         |liz AS (SELECT l_orderkey, day,
         |        ((($zTerms) >> 10))::BIGINT AS zfid
         |      FROM (SELECT l_orderkey, day,
         |              ((rk - 1) * 256) // n AS zk,
         |              (day - 8000) // 16 AS zd
         |            FROM lzr CROSS JOIN
         |              (SELECT count(*)::BIGINT AS n FROM li) c)),
         |${stats("fk", "(l_orderkey // 100)::BIGINT")},
         |${stats("ft", "(day // 32)::BIGINT")},
         |${stats("fz", "zfid")}
         |${Seq(("fk", "by_orderkey"), ("ft", "by_shipdate"),
               ("fz", "by_zorder")).flatMap { case (tag, name) => Seq(
             depth(tag, name, "shipdate", "lo_d", "hi_d"),
             depth(tag, name, "orderkey", "lo_k", "hi_k")) }
           .mkString("\nUNION ALL\n")}""".stripMargin
    },

    // full-outer hash join of (id, content md5, token count) sides (the
    // v2 relation synthesized with this query's own drop/edit/add rules),
    // rolled up per status
    "q_snapshot_token_delta" ->
      s"""WITH $sqlSnapshotCtes,
         |pd AS ($sqlSnapshotDiffSelect)
         |SELECT status, count(*)::BIGINT AS n_docs,
         |  sum(n_tokens_old)::BIGINT AS n_tokens_old,
         |  sum(n_tokens_new)::BIGINT AS n_tokens_new,
         |  sum(token_delta)::BIGINT AS token_delta
         |FROM pd GROUP BY 1""".stripMargin,

    // grams with positions (zipped unnests), global multiset counts,
    // marked positions, lag/running-sum islands, per-doc span agg
    "q_dup_spans" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt, list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id, len(toks)::BIGINT AS ntok,
         |        CASE WHEN len(toks) >= $SpanK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$SpanK), ' ')
         |                   for i in range(0, len(toks)-$SpanK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, ntok,
         |        CASE WHEN ntok >= $SpanK THEN $SpanK ELSE ntok END::BIGINT AS L,
         |        list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, L, unnest(hs) AS h,
         |        unnest(range(0, len(hs))) AS j FROM hsh),
         |cnt AS (SELECT h, count(*)::BIGINT AS c FROM cg GROUP BY 1),
         |mk AS (SELECT g.doc_id, g.L, g.j FROM cg g JOIN cnt USING (h)
         |       WHERE cnt.c >= 2),
         |isl AS (SELECT *, CASE WHEN lag(j) OVER w IS NULL
         |                         OR j - lag(j) OVER w > L
         |                  THEN 1 ELSE 0 END AS ni
         |        FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
         |isl2 AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY j
         |          ROWS UNBOUNDED PRECEDING) AS isle FROM isl),
         |sp AS (SELECT doc_id, isle, min(j) AS fj, max(j) AS lj,
         |        any_value(L) AS L, count(*)::BIGINT AS ng
         |       FROM isl2 GROUP BY 1, 2),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
         |        sum(lj - fj + L)::BIGINT AS n_dup_tokens,
         |        max(lj - fj + L)::BIGINT AS max_span_tokens,
         |        sum(ng)::BIGINT AS n_dup_grams FROM sp GROUP BY 1),
         |tot AS (SELECT doc_id, ntok AS n_tokens, len(hs)::BIGINT AS n_grams FROM hsh)
         |SELECT t.doc_id, t.n_tokens, t.n_grams,
         |  COALESCE(a.n_dup_grams, 0)::BIGINT AS n_dup_grams,
         |  COALESCE(a.n_spans, 0)::BIGINT AS n_spans,
         |  COALESCE(a.n_dup_tokens, 0)::BIGINT AS n_dup_tokens,
         |  COALESCE(a.max_span_tokens, 0)::BIGINT AS max_span_tokens,
         |  CASE WHEN t.n_tokens > 0 THEN
         |    floor(COALESCE(a.n_dup_tokens, 0)::DOUBLE / t.n_tokens::DOUBLE
         |          * 1000000) / 1000000
         |  END AS dup_share
         |FROM tot t LEFT JOIN agg a USING (doc_id)""".stripMargin,

    // the same chain emitted at the per-span grain (the sp CTE verbatim)
    "q_dup_span_list" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt, list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id, len(toks)::BIGINT AS ntok,
         |        CASE WHEN len(toks) >= $SpanK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$SpanK), ' ')
         |                   for i in range(0, len(toks)-$SpanK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, ntok,
         |        CASE WHEN ntok >= $SpanK THEN $SpanK ELSE ntok END::BIGINT AS L,
         |        list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, L, unnest(hs) AS h,
         |        unnest(range(0, len(hs))) AS j FROM hsh),
         |cnt AS (SELECT h, count(*)::BIGINT AS c FROM cg GROUP BY 1),
         |mk AS (SELECT g.doc_id, g.L, g.j FROM cg g JOIN cnt USING (h)
         |       WHERE cnt.c >= 2),
         |isl AS (SELECT *, CASE WHEN lag(j) OVER w IS NULL
         |                         OR j - lag(j) OVER w > L
         |                  THEN 1 ELSE 0 END AS ni
         |        FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
         |isl2 AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY j
         |          ROWS UNBOUNDED PRECEDING) AS isle FROM isl)
         |SELECT doc_id, isle::BIGINT AS span_idx, min(j)::BIGINT AS first_token,
         |  (max(j) + any_value(L) - 1)::BIGINT AS last_token,
         |  (max(j) - min(j) + any_value(L))::BIGINT AS n_tokens_covered,
         |  count(*)::BIGINT AS n_grams
         |FROM isl2 GROUP BY 1, 2""".stripMargin,

    // the marked START positions per doc + a nested-lambda token filter:
    // token i is cut iff some marked start j covers it (j <= i <= j+L-1)
    "q_trim_spans" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt, list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id, len(toks)::BIGINT AS ntok,
         |        CASE WHEN len(toks) >= $SpanK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$SpanK), ' ')
         |                   for i in range(0, len(toks)-$SpanK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, ntok,
         |        CASE WHEN ntok >= $SpanK THEN $SpanK ELSE ntok END::BIGINT AS L,
         |        list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, L, unnest(hs) AS h,
         |        unnest(range(0, len(hs))) AS j FROM hsh),
         |cnt AS (SELECT h, count(*)::BIGINT AS c FROM cg GROUP BY 1),
         |mk AS (SELECT g.doc_id, g.j FROM cg g JOIN cnt USING (h)
         |       WHERE cnt.c >= 2),
         |ms AS (SELECT doc_id, list_sort(list(j)) AS js FROM mk GROUP BY 1),
         |kt AS (SELECT h.doc_id, h.ntok, h.L, t.toks, m.js
         |       FROM hsh h JOIN ntk t USING (doc_id)
         |       LEFT JOIN ms m USING (doc_id)),
         |kp AS (SELECT doc_id, ntok,
         |        CASE WHEN js IS NULL THEN toks ELSE
         |          [toks[i+1] for i in range(0, len(toks))
         |           if len(list_filter(js, j -> j <= i and i <= j + L - 1)) = 0]
         |        END AS kept
         |       FROM kt)
         |SELECT doc_id, ntok AS n_tokens, len(kept)::BIGINT AS n_kept_tokens,
         |  COALESCE(array_to_string(kept, ' '), '') AS kept_text
         |FROM kp""".stripMargin,

    // the trim chain with the bench marking: cut every token covered by
    // a gram found in the benchmark's distinct gram set
    "q_trim_contamination" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt, list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id, len(toks)::BIGINT AS ntok,
         |        CASE WHEN len(toks) >= $SpanK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$SpanK), ' ')
         |                   for i in range(0, len(toks)-$SpanK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, ntok,
         |        CASE WHEN ntok >= $SpanK THEN $SpanK ELSE ntok END::BIGINT AS L,
         |        list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, L, unnest(hs) AS h,
         |        unnest(range(0, len(hs))) AS j FROM hsh),
         |bg AS (SELECT DISTINCT unnest(list_distinct(hs)) AS h FROM hsh
         |       WHERE doc_id < 20),
         |mk AS (SELECT g.doc_id, g.j FROM cg g
         |       WHERE EXISTS (SELECT 1 FROM bg WHERE bg.h = g.h)),
         |ms AS (SELECT doc_id, list_sort(list(j)) AS js FROM mk GROUP BY 1),
         |kt AS (SELECT h.doc_id, h.ntok, h.L, t.toks, m.js
         |       FROM hsh h JOIN ntk t USING (doc_id)
         |       LEFT JOIN ms m USING (doc_id)),
         |kp AS (SELECT doc_id, ntok,
         |        CASE WHEN js IS NULL THEN toks ELSE
         |          [toks[i+1] for i in range(0, len(toks))
         |           if len(list_filter(js, j -> j <= i and i <= j + L - 1)) = 0]
         |        END AS kept
         |       FROM kt)
         |SELECT doc_id, ntok AS n_tokens, len(kept)::BIGINT AS n_kept_tokens,
         |  COALESCE(array_to_string(kept, ' '), '') AS kept_text
         |FROM kp""".stripMargin,

    // the span-list chain with the marking swapped: a gram is marked iff
    // it appears in the benchmark's distinct gram set (doc_id < 20)
    "q_contamination_spans" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt, list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id, len(toks)::BIGINT AS ntok,
         |        CASE WHEN len(toks) >= $SpanK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$SpanK), ' ')
         |                   for i in range(0, len(toks)-$SpanK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, ntok,
         |        CASE WHEN ntok >= $SpanK THEN $SpanK ELSE ntok END::BIGINT AS L,
         |        list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, L, unnest(hs) AS h,
         |        unnest(range(0, len(hs))) AS j FROM hsh),
         |bg AS (SELECT DISTINCT unnest(list_distinct(hs)) AS h FROM hsh
         |       WHERE doc_id < 20),
         |mk AS (SELECT g.doc_id, g.L, g.j FROM cg g
         |       WHERE EXISTS (SELECT 1 FROM bg WHERE bg.h = g.h)),
         |isl AS (SELECT *, CASE WHEN lag(j) OVER w IS NULL
         |                         OR j - lag(j) OVER w > L
         |                  THEN 1 ELSE 0 END AS ni
         |        FROM mk WINDOW w AS (PARTITION BY doc_id ORDER BY j)),
         |isl2 AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY j
         |          ROWS UNBOUNDED PRECEDING) AS isle FROM isl)
         |SELECT doc_id, isle::BIGINT AS span_idx, min(j)::BIGINT AS first_token,
         |  (max(j) + any_value(L) - 1)::BIGINT AS last_token,
         |  (max(j) - min(j) + any_value(L))::BIGINT AS n_tokens_covered,
         |  count(*)::BIGINT AS n_grams
         |FROM isl2 GROUP BY 1, 2""".stripMargin,

    // the exact contamination oracle with the corpus side (cg) restricted
    // to the md5 slice; the bench gram set (bg) stays over full documents
    "q_contamination_rate_sampled" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |ntk AS (SELECT doc_id, nt,
         |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |nshg AS (SELECT doc_id,
         |        CASE WHEN len(toks) >= $MhK
         |             THEN [array_to_string(list_slice(toks, i+1, i+$MhK), ' ')
         |                   for i in range(0, len(toks)-$MhK+1)]
         |             ELSE [nt] END AS shingles FROM ntk),
         |hsh AS (SELECT doc_id, list_transform(shingles, s -> ${sqlMd5Int("s")}) AS hs FROM nshg),
         |cg AS (SELECT doc_id, unnest(list_distinct(hs)) AS g FROM hsh
         |       WHERE ${sqlMd5Int("doc_id::VARCHAR")} % $BqSampleMod = 0),
         |bg AS (SELECT DISTINCT g FROM (
         |         SELECT unnest(list_distinct(hs)) AS g FROM hsh
         |         WHERE doc_id < 20))
         |SELECT c.doc_id, count(*)::BIGINT AS n_grams,
         |  count(b.g)::BIGINT AS n_contaminated,
         |  floor(count(b.g)::DOUBLE / count(*)::DOUBLE * 1000000) / 1000000
         |    AS contamination_rate,
         |  CAST($BqSampleMod AS BIGINT) AS sample_den
         |FROM cg c LEFT JOIN bg b ON c.g = b.g
         |GROUP BY 1""".stripMargin,

    // the plain per-bucket row_number IS the spec; the salted Spark plan
    // must land on exactly the same numbering
    "q_batch_length" ->
      s"""WITH t AS (SELECT doc_id, len($toksSql) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        (CASE WHEN n_tokens < 40 THEN 0
         |              WHEN n_tokens < 70 THEN 1 ELSE 2 END)::INTEGER AS bucket FROM t),
         |r AS (SELECT doc_id, n_tokens, bucket,
         |        row_number() OVER (PARTITION BY bucket
         |                           ORDER BY n_tokens, doc_id) - 1 AS rn FROM c)
         |SELECT doc_id, n_tokens, bucket,
         |  (rn // 16)::BIGINT AS batch, (rn % 16)::BIGINT AS batch_pos
         |FROM r""".stripMargin,

    // the q_batch_length assignment re-aggregated: padded = Σ cnt·bmax
    // per batch, waste one floored division per bucket
    "q_padding_waste" ->
      s"""WITH t AS (SELECT doc_id, len($toksSql) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        (CASE WHEN n_tokens < 40 THEN 0
         |              WHEN n_tokens < 70 THEN 1 ELSE 2 END)::INTEGER AS bucket FROM t),
         |r AS (SELECT doc_id, n_tokens, bucket,
         |        row_number() OVER (PARTITION BY bucket
         |                           ORDER BY n_tokens, doc_id) - 1 AS rn FROM c),
         |b AS (SELECT bucket, (rn // 16)::BIGINT AS batch,
         |        count(*)::BIGINT AS cnt, max(n_tokens)::BIGINT AS bmax,
         |        sum(n_tokens)::BIGINT AS tok
         |      FROM r GROUP BY 1, 2)
         |SELECT bucket::BIGINT AS bucket, sum(cnt)::BIGINT AS n_docs,
         |  count(*)::BIGINT AS n_batches,
         |  sum(tok)::BIGINT AS total_tokens,
         |  sum(cnt * bmax)::BIGINT AS padded_tokens,
         |  CASE WHEN sum(cnt * bmax) > 0 THEN
         |    floor((sum(cnt * bmax) - sum(tok))::DOUBLE
         |      / sum(cnt * bmax) * 1000000) / 1000000
         |  END AS waste_ratio
         |FROM b GROUP BY 1""".stripMargin,

    // pure integer arithmetic end to end: the window sum, the floor
    // divisions and the modulo are exact on both engines by construction
    "q_pack" ->
      s"""WITH t AS (SELECT doc_id, len($toksSql) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |        (SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |         - n_tokens)::BIGINT AS excl FROM t)
         |SELECT doc_id, n_tokens,
         |  (excl // $PackTokens)::BIGINT AS pack_first,
         |  (CASE WHEN n_tokens > 0 THEN (excl + n_tokens - 1) // $PackTokens
         |        ELSE excl // $PackTokens END)::BIGINT AS pack_last,
         |  (excl % $PackTokens)::BIGINT AS offset_in_pack
         |FROM c""".stripMargin,

    // both engines window-sum DECIMAL(18,2) (exact), casting the identical
    // rational to DOUBLE only at the edge
    "q_cum_spend" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2)))
        |         OVER (ORDER BY epoch_ms(ts), event_id
        |               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_spend
        |FROM events""".stripMargin,

    "q_token_budget" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toksv FROM documents),
         |c AS (SELECT doc_id, len(toksv) AS n_tokens,
         |        CASE WHEN len(toksv) > 0
         |             THEN floor(len(list_filter(toksv, x -> x IN ${inList(stopEn)}))::DOUBLE
         |                        / len(toksv) * 1000000) / 1000000
         |             ELSE 0.0 END AS sr FROM t),
         |o AS (SELECT doc_id, n_tokens,
         |        SUM(n_tokens) OVER (ORDER BY -floor(sr * 1000000), doc_id
         |          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM c)
         |SELECT doc_id, n_tokens, cum_tokens FROM o WHERE cum_tokens <= 10000""".stripMargin,

    "q_top_docs" ->
      s"""WITH t AS (SELECT doc_id, source, lang, $toksSql AS toksv FROM documents),
         |c AS (SELECT doc_id, source, lang,
         |        CASE WHEN len(toksv) > 0
         |             THEN floor(len(list_filter(toksv, x -> x IN ${inList(stopEn)}))::DOUBLE
         |                        / len(toksv) * 1000000) / 1000000
         |             ELSE 0.0 END AS sr FROM t),
         |r AS (SELECT source, lang, doc_id,
         |        row_number() OVER (PARTITION BY source, lang
         |          ORDER BY sr DESC, doc_id) AS rank FROM c)
         |SELECT source, lang, rank, doc_id FROM r WHERE rank <= 3""".stripMargin,

    "q_doc_sample" ->
      s"""SELECT doc_id, source, lang FROM documents
         |WHERE ${sqlMd5Int("(doc_id::VARCHAR || 's1')")} < ${Sampling.threshold(0.25)}""".stripMargin,

    // the same stopword-ratio arithmetic as q_quality_score (floor-truncated
    // ratio, then IEEE-exact *4 and clamp), so the keep threshold is the
    // identical double on both engines
    "q_doc_sample_weighted" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toksv, text FROM documents),
         |c AS (SELECT doc_id,
         |        CASE WHEN len(toksv) > 0
         |             THEN floor(len(list_filter(toksv, x -> x IN ${inList(stopEn)}))::DOUBLE
         |                        / len(toksv) * 1000000) / 1000000
         |             ELSE 0.0 END AS stopword_ratio FROM t)
         |SELECT doc_id, stopword_ratio FROM c
         |WHERE ${sqlMd5Int("(doc_id::VARCHAR || 'w1')")}::DOUBLE <
         |      least(1.0, stopword_ratio * 4) * 4294967296.0""".stripMargin,

    "q_doc_sample_stratified" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${sqlMd5Int("(doc_id::VARCHAR || 'mix')")} <
         |  CASE WHEN lang = 'en' THEN ${Sampling.threshold(0.1)}
         |       ELSE ${Sampling.threshold(0.6)} END""".stripMargin,

    "q_repetition" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |tk AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |st AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |        len(list_distinct(toks))::BIGINT AS n_distinct, toks FROM tk),
         |g AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                             for i in range(0, len(toks)-1)]) AS gram
         |      FROM st WHERE len(toks) >= 2),
         |gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
         |top AS (SELECT doc_id, gram, c FROM
         |        (SELECT *, row_number() OVER (PARTITION BY doc_id
         |                     ORDER BY c DESC, gram) AS rn FROM gc) WHERE rn = 1)
         |SELECT st.doc_id, st.n_tokens, GREATEST(st.n_tokens - 1, 0) AS n_grams,
         |  t.gram AS top_gram, COALESCE(t.c, 0)::BIGINT AS top_gram_count,
         |  CASE WHEN st.n_tokens > 1
         |       THEN floor(COALESCE(t.c, 0)::DOUBLE / (st.n_tokens - 1) * 1000000) / 1000000
         |       ELSE 0.0 END AS top_gram_share,
         |  CASE WHEN st.n_tokens > 0
         |       THEN floor(st.n_distinct::DOUBLE / st.n_tokens * 1000000) / 1000000
         |       ELSE 0.0 END AS distinct_ratio
         |FROM st LEFT JOIN top t ON st.doc_id = t.doc_id""".stripMargin,

    "q_chunks" ->
      s"""WITH tk AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |c AS (SELECT doc_id, toks,
         |        unnest(range(0, len(toks), $ChunkStride)) AS start
         |      FROM tk WHERE len(toks) > 0)
         |SELECT doc_id, (start // $ChunkStride)::BIGINT AS chunk_id,
         |  LEAST($ChunkWindow, len(toks) - start)::BIGINT AS n_chunk_tokens,
         |  array_to_string(list_slice(toks, start + 1, start + $ChunkWindow), ' ') AS chunk_text
         |FROM c""".stripMargin,

    "q_mixture" ->
      s"""WITH w AS (SELECT doc_id, lang,
         |        CASE WHEN lang = 'en' THEN 0 WHEN lang = 'zh' THEN 2 ELSE 1 END
         |        + CASE WHEN ${sqlMd5Int("(doc_id::VARCHAR || 'ep')")} <
         |            CASE WHEN lang = 'en' THEN ${Sampling.threshold(0.3)}
         |                 WHEN lang = 'zh' THEN ${Sampling.threshold(0.5)}
         |                 ELSE 0 END
         |          THEN 1 ELSE 0 END AS n
         |      FROM documents)
         |SELECT doc_id, lang, unnest(range(0, n)) AS copy FROM w WHERE n > 0""".stripMargin,

    "q_redact" -> {
      val aug = "text || ' contact user' || doc_id::VARCHAR || " +
        "'@mail.example.com or +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?\\d[\\d-]{6,}\\d"
      s"""WITH a AS (SELECT doc_id, $aug AS t FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(t, '$email'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(t, '$phone'))::BIGINT AS n_phones,
         |  regexp_replace(regexp_replace(t, '$email', '<EMAIL>', 'g'),
         |                 '$phone', '<PHONE>', 'g') AS redacted
         |FROM a""".stripMargin
    },

    "q_priority_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
        |GROUP BY o_orderpriority""".stripMargin,

    // the salted join must emit exactly the plain join's rows — the oracle
    // is the UNSALTED join, so the whole salt/replicate/drop cycle is what
    // gets hash-checked
    "q_salted_join" ->
      """SELECT c_mktsegment, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "q_range_join" ->
      s"""WITH iv AS (SELECT event_id AS incident_id, $evMs AS w_start,
         |              $evMs + $RangeWindowMs AS w_end
         |            FROM events WHERE event_type = 'error')
         |SELECT incident_id, count(*) AS n_events,
         |  CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         |FROM events e JOIN iv
         |  ON epoch_ms(e.ts) >= iv.w_start AND epoch_ms(e.ts) < iv.w_end
         |GROUP BY incident_id""".stripMargin,

    "q_range_join_keyed" ->
      s"""WITH iv AS (SELECT user_id, event_id AS incident_id,
         |              $evMs AS w_start, $evMs + $RangeDayMs AS w_end
         |            FROM events WHERE event_type = 'error')
         |SELECT incident_id, count(*) AS n_events
         |FROM events e JOIN iv
         |  ON e.user_id = iv.user_id
         | AND epoch_ms(e.ts) >= iv.w_start AND epoch_ms(e.ts) < iv.w_end
         |GROUP BY incident_id""".stripMargin,

    "q_bloom_semi" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE user_id IN
        |  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY event_type""".stripMargin,

    "q_bloom_anti" ->
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem l WHERE NOT EXISTS
        |  (SELECT 1 FROM orders o
        |   WHERE o.o_orderkey = l.l_orderkey
        |     AND o.o_orderpriority = '1-URGENT')
        |GROUP BY l_returnflag""".stripMargin,

    "q_bm25" -> bm25OracleSql,

    // bm25Explode folds per-doc contributions in term-ASC order and BmTerms
    // is ascending, so its scores are bit-identical to the fixed-column
    // form (TextAndDedupSpec pins this) — the SAME oracle checks both plans
    "q_bm25_explode" -> bm25OracleSql,

    // the LM CTE is q_bigram_lm's skeleton at top-500; scoring recovers
    // each 6-dp probability as DECIMAL(18,6) so the per-doc sum is exact
    "q_lm_score" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |tk AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |g AS (SELECT unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                     for i in range(0, len(toks)-2+1)]) AS gram
         |      FROM tk WHERE len(toks) >= 2),
         |c AS (SELECT gram, COUNT(*)::BIGINT AS n_gram FROM g GROUP BY 1),
         |pp AS (SELECT gram, n_gram,
         |        (sum(n_gram) OVER (PARTITION BY split_part(gram, ' ', 1)))::BIGINT AS n_prefix
         |      FROM c),
         |lm AS (SELECT gram,
         |         floor((n_gram::DOUBLE / n_prefix::DOUBLE) * 1000000) / 1000000 AS p
         |       FROM pp ORDER BY n_gram DESC, gram LIMIT 500),
         |dg AS (SELECT doc_id,
         |         unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                 for i in range(0, len(toks)-2+1)]) AS gram
         |       FROM tk WHERE len(toks) >= 2),
         |agg AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |          count(p)::BIGINT AS n_known,
         |          sum(CAST(p AS DECIMAL(18,6))) AS sp
         |        FROM dg LEFT JOIN lm USING (gram) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(n_bigrams, 0)::BIGINT AS n_bigrams,
         |  COALESCE(n_known, 0)::BIGINT AS n_known,
         |  CASE WHEN n_known > 0
         |       THEN floor(sp::DOUBLE / n_known::DOUBLE * 1000000) / 1000000
         |  END AS avg_p
         |FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)""".stripMargin,

    // rational idf again (no ln); rank and tiebreak come from the EXACT
    // score (bit-identical double arithmetic), trunc6 only at emission
    "q_tfidf_top" ->
      """WITH tk AS (SELECT doc_id,
        |        list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                    x -> x <> '') AS toks
        |      FROM documents),
        |ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
        |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tfv FROM ex GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*)::BIGINT AS dfv FROM tf GROUP BY 1),
        |s AS (SELECT count(*)::BIGINT AS n FROM tk),
        |sc AS (SELECT tf.doc_id, tf.term,
        |         tfv::DOUBLE * (((n - dfv)::DOUBLE + 0.5) / (dfv::DOUBLE + 0.5)) AS score
        |       FROM tf JOIN dfq USING (term), s),
        |r AS (SELECT doc_id, term, score,
        |        row_number() OVER (PARTITION BY doc_id
        |                           ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, term, rank::BIGINT AS rank,
        |       floor(score * 1000000) / 1000000 AS score
        |FROM r WHERE rank <= 3""".stripMargin,

    // per-column metrics as independent aggregates, stacked — int64 counts
    // and integral-valued doubles, exact everywhere
    "q_numeric_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", count(*)::BIGINT AS n_rows,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::DOUBLE AS min_v, max($c)::DOUBLE AS max_v FROM events""".stripMargin
      Seq("event_id", "user_id", "value").map(one).mkString("\nUNION ALL\n")
    },

    // row checks as conditional sums; uniqueness = rows of keys seen twice
    "q_constraints" ->
      """SELECT 'ts_not_null' AS "check",
        |  sum(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END)::BIGINT AS violations
        |FROM events
        |UNION ALL
        |SELECT 'value_non_negative',
        |  sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END)::BIGINT FROM events
        |UNION ALL
        |SELECT 'known_event_type',
        |  sum(CASE WHEN event_type IN ('view','click','purchase','signup','error')
        |      THEN 0 ELSE 1 END)::BIGINT FROM events
        |UNION ALL
        |SELECT 'unique(event_id)',
        |  COALESCE(sum(CASE WHEN n > 1 THEN n END), 0)::BIGINT
        |FROM (SELECT event_id, count(*) AS n FROM events
        |      WHERE event_id IS NOT NULL GROUP BY 1)""".stripMargin,

    // exact floor-cents revenue; the set of top-10 rows is deterministic
    // (revenue DESC, orderkey) so the sorted-rows hash compare holds
    "q_ship_priority" ->
      """SELECT l_orderkey, epoch_ms(o_orderdate) AS odate_ms, o_orderpriority,
        |  CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
        |    AS DECIMAL(28,0))) AS DOUBLE) / 100 AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer
        |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1995-06-01'
        |  AND l_shipdate > TIMESTAMP '1995-06-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    // same exact floor-cents revenue; top-20 set deterministic under
    // (lost_revenue DESC, c_custkey) — custkey is unique per group
    "q_returned_top" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100)
        |    AS DECIMAL(28,0))) AS DOUBLE) / 100 AS DOUBLE) AS lost_revenue
        |FROM lineitem, orders, customer, nation
        |WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey
        |  AND o_custkey = c_custkey AND c_nationkey = n_nationkey
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY lost_revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // same exact decimal quantity sum; top-20 set deterministic under
    // (total_qty DESC, o_orderkey) — orderkey is unique
    "q_large_orders" ->
      """WITH q AS (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |          AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING total_qty > 250)
        |SELECT c_custkey, c_name, o_orderkey, epoch_ms(o_orderdate)
        |    AS odate_ms, o_totalprice, total_qty
        |FROM q JOIN orders ON l_orderkey = o_orderkey
        |       JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 20""".stripMargin,

    // bit-for-bit Morton rebuild: same shifts, same disjoint-bit sum
    "q_zorder" -> {
      val dims = Seq("user_id", "e20")
      val terms = (for { j <- 0 until 20; (x, i) <- dims.zipWithIndex }
        yield s"((($x >> $j) & 1) << ${j * dims.size + i})").mkString(" + ")
      s"""WITH b AS (SELECT event_id, user_id,
         |            event_id % 1048576 AS e20 FROM events)
         |SELECT event_id, ($terms)::BIGINT AS z FROM b""".stripMargin
    },

    // the compaction spec: last row per user by (ms, event_id)
    "q_latest_state" ->
      """SELECT user_id, event_id, ms, event_type, value FROM (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag)::BIGINT AS g_flag,
        |  GROUPING(l_linestatus)::BIGINT AS g_status,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_char_hist" ->
      """SELECT c AS ch, count(*) AS n_occurrences
        |FROM (SELECT unnest(string_split(text, '')) AS c FROM documents)
        |WHERE c <> ''
        |GROUP BY 1 ORDER BY n_occurrences DESC, ch LIMIT 50""".stripMargin,

    "q_oov" ->
      s"""WITH nrm AS (SELECT doc_id, $normSql AS nt FROM documents),
         |tk AS (SELECT doc_id, list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |dg AS (SELECT doc_id, unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                              for i in range(0, len(toks)-2+1)]) AS gram
         |       FROM tk WHERE len(toks) >= 2),
         |vocab AS (SELECT gram FROM dg GROUP BY 1
         |          ORDER BY COUNT(*) DESC, gram LIMIT 100),
         |cnt AS (SELECT dg.doc_id, count(*)::BIGINT AS n_grams,
         |          count(vocab.gram)::BIGINT AS n_in_vocab
         |        FROM dg LEFT JOIN vocab USING (gram) GROUP BY 1)
         |SELECT d.doc_id, COALESCE(cnt.n_grams, 0) AS n_grams,
         |  COALESCE(cnt.n_in_vocab, 0) AS n_in_vocab,
         |  CASE WHEN cnt.n_grams > 0
         |       THEN floor(((cnt.n_grams - cnt.n_in_vocab)::DOUBLE
         |                   / cnt.n_grams::DOUBLE) * 1000000) / 1000000
         |  END AS oov_rate
         |FROM documents d LEFT JOIN cnt USING (doc_id)""".stripMargin,

    "q_split_assign" -> {
      // identical cumulative-threshold arithmetic as Sampling.splitAssign
      val cuts = operators.Sampling.cumulativeThresholds(SplitFracs.map(_._2))
      val h = sqlMd5Int(s"(doc_id::VARCHAR || '$SplitSalt')")
      val cases = SplitFracs.map(_._1).zip(cuts).init
        .map { case (name, cut) => s"WHEN $h < $cut THEN '$name'" }
        .mkString(" ")
      s"""SELECT doc_id,
         |  CASE $cases ELSE '${SplitFracs.last._1}' END AS split
         |FROM documents""".stripMargin
    },

    "q_sessionize" ->
      s"""WITH x AS (SELECT event_id, user_id, $evMs AS ms,
         |        lag($evMs) OVER (PARTITION BY user_id
         |                         ORDER BY $evMs, event_id) AS prev
         |      FROM events)
         |SELECT event_id, user_id,
         |  (sum(CASE WHEN prev IS NULL OR ms - prev > $D THEN 1 ELSE 0 END)
         |     OVER (PARTITION BY user_id ORDER BY ms, event_id
         |           ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
         |FROM x""".stripMargin,

    "q_rank_norm" ->
      """SELECT doc_id, lang, n_chars,
        |  floor(percent_rank() OVER (PARTITION BY lang ORDER BY n_chars)
        |        * 1000000) / 1000000 AS pr
        |FROM documents""".stripMargin,

    "q_outliers" ->
      """WITH ec AS (SELECT event_id, event_type,
        |        round(value * 100)::BIGINT AS value_c FROM events),
        |med AS (SELECT event_type, quantile_cont(value_c, 0.5) AS m
        |        FROM ec GROUP BY 1),
        |mad AS (SELECT e.event_type, quantile_cont(abs(e.value_c - med.m), 0.5) AS d
        |        FROM ec e JOIN med USING (event_type) GROUP BY 1),
        |z AS (SELECT e.event_id, e.event_type, e.value_c,
        |        CASE WHEN mad.d > 0
        |             THEN floor((0.6745 * (e.value_c - med.m) / mad.d) * 1000000) / 1000000
        |        END AS robust_z
        |      FROM ec e JOIN med USING (event_type) JOIN mad USING (event_type))
        |SELECT event_id, event_type, value_c, robust_z,
        |  COALESCE(abs(robust_z) > 3.5, false) AS is_outlier
        |FROM z""".stripMargin,

    // checked-twin convention (see q_window_users): the oracle recomputes
    // the exact side and asserts the engine-side sketch verdict is TRUE
    "q_outliers_approx" ->
      """WITH ec AS (SELECT event_type,
        |        round(value * 100)::BIGINT AS value_c FROM events),
        |med AS (SELECT event_type, count(*)::BIGINT AS n,
        |        quantile_cont(value_c, 0.5) AS m
        |        FROM ec GROUP BY 1),
        |mad AS (SELECT e.event_type, quantile_cont(abs(e.value_c - med.m), 0.5) AS d
        |        FROM ec e JOIN med USING (event_type) GROUP BY 1)
        |SELECT med.event_type, med.n,
        |  floor(med.m * 1000000) / 1000000 AS med,
        |  floor(mad.d * 1000000) / 1000000 AS mad,
        |  TRUE AS within_bound
        |FROM med JOIN mad USING (event_type)""".stripMargin,

    "q_window_users" ->
      s"""SELECT $evMs - $evMs % $D AS window_start_ms,
         |  count(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
         |  TRUE AS within_bound
         |FROM events GROUP BY 1""".stripMargin,

    "q_corr" ->
      s"""WITH t AS (SELECT lang, n_chars, len($toksSql)::BIGINT AS n_tokens
         |           FROM documents),
         |s AS (SELECT lang, count(*)::DOUBLE AS n,
         |        sum(n_chars)::DOUBLE AS sx, sum(n_tokens)::DOUBLE AS sy,
         |        sum(n_chars * n_tokens)::DOUBLE AS sxy,
         |        sum(n_chars * n_chars)::DOUBLE AS sxx,
         |        sum(n_tokens * n_tokens)::DOUBLE AS syy
         |      FROM t
         |      WHERE n_chars IS NOT NULL AND n_tokens IS NOT NULL
         |      GROUP BY 1)
         |SELECT lang, n::BIGINT AS n,
         |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |       THEN floor((n * sxy - sx * sy)
         |                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |                  * 1000000) / 1000000
         |  END AS corr
         |FROM s""".stripMargin,

    // doubled average ranks (2·cum − cnt + 1, exact BIGINT) through the
    // identical moment skeleton — Pearson is ×2-scale-invariant
    "q_spearman" ->
      s"""WITH t AS (SELECT lang, n_chars, len($toksSql)::BIGINT AS n_tokens
         |           FROM documents
         |           WHERE n_chars IS NOT NULL AND text IS NOT NULL),
         |cx AS (SELECT lang, n_chars, count(*)::BIGINT AS c
         |       FROM t GROUP BY 1, 2),
         |rx AS (SELECT lang, n_chars,
         |        2 * sum(c) OVER (PARTITION BY lang ORDER BY n_chars)
         |          - c + 1 AS r2x FROM cx),
         |cy AS (SELECT lang, n_tokens, count(*)::BIGINT AS c
         |       FROM t GROUP BY 1, 2),
         |ry AS (SELECT lang, n_tokens,
         |        2 * sum(c) OVER (PARTITION BY lang ORDER BY n_tokens)
         |          - c + 1 AS r2y FROM cy),
         |j AS (SELECT t.lang, rx.r2x, ry.r2y
         |      FROM t JOIN rx USING (lang, n_chars)
         |      JOIN ry USING (lang, n_tokens)),
         |s AS (SELECT lang, count(*)::DOUBLE AS n,
         |        sum(r2x)::DOUBLE AS sx, sum(r2y)::DOUBLE AS sy,
         |        sum(r2x * r2y)::DOUBLE AS sxy,
         |        sum(r2x * r2x)::DOUBLE AS sxx,
         |        sum(r2y * r2y)::DOUBLE AS syy
         |      FROM j GROUP BY 1)
         |SELECT lang, n::BIGINT AS n,
         |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
         |       THEN floor((n * sxy - sx * sy)
         |                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
         |                  * 1000000) / 1000000
         |  END AS spearman
         |FROM s""".stripMargin,

    // per pair, the identical moment-sum skeleton as q_corr, stacked
    "q_corr_matrix" -> {
      def pair(a: String, b: String) =
        s"""SELECT '$a' AS col_a, '$b' AS col_b, n::BIGINT AS n,
           |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
           |       THEN floor((n * sxy - sx * sy)
           |                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           |                  * 1000000) / 1000000 END AS corr
           |FROM (SELECT count(*)::DOUBLE AS n, sum($a)::DOUBLE AS sx,
           |        sum($b)::DOUBLE AS sy, sum($a * $b)::DOUBLE AS sxy,
           |        sum($a * $a)::DOUBLE AS sxx, sum($b * $b)::DOUBLE AS syy
           |      FROM t WHERE $a IS NOT NULL AND $b IS NOT NULL)""".stripMargin
      s"""WITH t AS (SELECT n_chars, len($toksSql)::BIGINT AS n_tokens,
         |            len(list_distinct($toksSql))::BIGINT AS n_uniq
         |           FROM documents)
         |${Seq(("n_chars", "n_tokens"), ("n_chars", "n_uniq"),
               ("n_tokens", "n_uniq"))
          .map { case (a, b) => pair(a, b) }.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // ── information-theory tier: every ln mirrors Spark's qlog —
    // floor(ln(x)·10⁶)::BIGINT on an integer argument, summed exactly,
    // one double division per output row ─────────────────────────────────
    "q_token_entropy" ->
      s"""WITH t AS (SELECT lang, unnest($toksSql) AS tok FROM documents
         |           WHERE lang IS NOT NULL),
         |c AS (SELECT lang, tok, count(*)::BIGINT AS c FROM t GROUP BY 1, 2),
         |g AS (SELECT lang, sum(c)::BIGINT AS tot,
         |        count(*)::BIGINT AS n_categories,
         |        sum(c * floor(ln(c::DOUBLE) * 1000000)::BIGINT)::BIGINT AS sclc
         |      FROM c GROUP BY 1)
         |SELECT lang, tot AS n_total, n_categories,
         |  (tot * floor(ln(tot::DOUBLE) * 1000000)::BIGINT - sclc)::BIGINT
         |    AS entropy_scaled,
         |  (tot * floor(ln(tot::DOUBLE) * 1000000)::BIGINT - sclc)::DOUBLE
         |    / (tot::DOUBLE * 1000000) AS entropy
         |FROM g""".stripMargin,

    "q_entropy_by_window" -> entropyByWindowOracle,
    // the one-shuffle streaming form (CategoryCountAgg distribution +
    // stateless entropy projection) must emit the SAME rows
    "q_entropy_stream" -> entropyByWindowOracle,

    "q_mixture_temp" ->
      s"""WITH s AS (SELECT source, sum(len($toksSql))::BIGINT AS n_tokens
         |           FROM documents WHERE source IS NOT NULL GROUP BY 1),
         |w AS (SELECT source, n_tokens,
         |        floor(sqrt((n_tokens * 1000000)::DOUBLE))::BIGINT AS w_scaled
         |      FROM s WHERE n_tokens IS NOT NULL),
         |t AS (SELECT sum(w_scaled)::BIGINT AS tw FROM w)
         |SELECT source, n_tokens, w_scaled,
         |  CASE WHEN tw > 0
         |       THEN floor(w_scaled::DOUBLE / tw::DOUBLE * 1000000) / 1000000
         |  END AS share
         |FROM w CROSS JOIN t""".stripMargin,

    // the verified-pair frame's jaccard column swept over the thresholds
    "q_dup_curve" -> {
      val pairCte =
        s"""WITH $sqlMinhashCtes,
           |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh),
           |p AS (SELECT len(list_intersect(a.sh, b.sh))::DOUBLE /
           |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS j
           |      FROM cand c JOIN shs a ON c.doc_a = a.doc_id
           |      JOIN shs b ON c.doc_b = b.doc_id
           |      WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
           |        len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5),
           |c AS (SELECT""".stripMargin
      val sums = Seq(50, 60, 70, 80, 90).map(t =>
        s"COALESCE(sum(CASE WHEN j >= ${t / 100d} THEN 1 ELSE 0 END), 0)::BIGINT AS n$t")
        .mkString(",\n")
      val rows = Seq(50, 60, 70, 80, 90).map(t =>
        s"SELECT CAST($t AS BIGINT) AS threshold_pct, n$t AS n_pairs FROM c")
        .mkString("\nUNION ALL\n")
      s"$pairCte\n$sums\nFROM p)\n$rows"
    },

    "q_lang_mix" ->
      s"""WITH t AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         |      FROM documents WHERE text IS NOT NULL),
         |h AS (SELECT doc_id,
         |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
         |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
         |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
         |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
         |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
         |      FROM t),
         |u AS (SELECT doc_id, unnest([
         |        {'hh': h_de, 'l': 'de'}, {'hh': h_en, 'l': 'en'},
         |        {'hh': h_es, 'l': 'es'}, {'hh': h_fr, 'l': 'fr'},
         |        {'hh': h_zh, 'l': 'zh'}]) AS s FROM h),
         |r AS (SELECT doc_id, s.hh AS hits, s.l AS lang,
         |        row_number() OVER (PARTITION BY doc_id
         |                           ORDER BY s.hh DESC, s.l) AS rk FROM u)
         |SELECT a.doc_id, a.lang AS best_lang, a.hits::BIGINT AS n_best,
         |  b.lang AS second_lang, b.hits::BIGINT AS n_second,
         |  a.hits > 0 AND b.hits * 10 >= a.hits * 3 AS mixed
         |FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.rk = 1 AND b.rk = 2""".stripMargin,

    // the same UCB1 chain: quantized ln N, fixed double ops, trunc6
    "q_ucb" ->
      """WITH a AS (SELECT event_type, count(*)::BIGINT AS n,
        |             sum(floor(value * 100)::BIGINT)::BIGINT AS sum_cents
        |           FROM events
        |           WHERE event_type IS NOT NULL AND value IS NOT NULL
        |           GROUP BY 1),
        |t AS (SELECT sum(n)::BIGINT AS nn FROM a)
        |SELECT event_type, n, sum_cents,
        |  floor((sum_cents::DOUBLE / (n::DOUBLE * 50000)) * 1000000) / 1000000
        |    AS mean_norm,
        |  floor((sum_cents::DOUBLE / (n::DOUBLE * 50000)
        |         + 2 * sqrt((floor(ln(nn::DOUBLE) * 1000000)::BIGINT::DOUBLE
        |                     / 1000000) / n::DOUBLE)) * 1000000) / 1000000
        |    AS ucb
        |FROM a CROSS JOIN t""".stripMargin,

    "q_k_anonymity" ->
      s"""SELECT event_type, $evMs // 86400000 AS day,
         |  floor(value / 50)::BIGINT AS spend_bucket,
         |  count(*)::BIGINT AS n, count(*) < $KAnonK AS risky
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    "q_k_anonymity_gate" ->
      s"""WITH c AS (SELECT count(*)::BIGINT AS n FROM events
         |           GROUP BY event_type, $evMs // 86400000,
         |             floor(value / 50)::BIGINT)
         |SELECT count(*)::BIGINT AS n_classes,
         |  COALESCE(sum(CASE WHEN n < $KAnonK THEN 1 ELSE 0 END), 0)::BIGINT
         |    AS n_risky_classes,
         |  COALESCE(sum(CASE WHEN n < $KAnonK THEN n ELSE 0 END), 0)::BIGINT
         |    AS n_risky_rows,
         |  min(n)::BIGINT AS min_class_size
         |FROM c""".stripMargin,

    "q_l_diversity" ->
      s"""SELECT event_type, $evMs // 86400000 AS day,
         |  floor(value / 50)::BIGINT AS spend_bucket,
         |  count(*)::BIGINT AS n,
         |  count(DISTINCT user_id)::BIGINT AS n_sensitive,
         |  count(DISTINCT user_id) < $LDivL AS risky
         |FROM events GROUP BY 1, 2, 3""".stripMargin,

    // per-class TVD vs the global event-type mix; absent-category tail
    // folded in closed form n·(N − Σ_present g)
    "q_t_closeness" ->
      s"""WITH cells AS (SELECT $evMs // 86400000 AS day,
         |        floor(value / 50)::BIGINT AS spend_bucket,
         |        event_type, count(*)::BIGINT AS c
         |      FROM events WHERE event_type IS NOT NULL
         |      GROUP BY 1, 2, 3),
         |m AS (SELECT day, spend_bucket, event_type, c,
         |        sum(c) OVER (PARTITION BY day, spend_bucket)::BIGINT AS n,
         |        sum(c) OVER (PARTITION BY event_type)::BIGINT AS g
         |      FROM cells),
         |tot AS (SELECT sum(c)::BIGINT AS nn FROM cells),
         |agg AS (SELECT day, spend_bucket, n, nn,
         |          count(*)::BIGINT AS n_sensitive,
         |          sum(abs(c::HUGEINT * nn - g::HUGEINT * n))::HUGEINT AS tn,
         |          sum(g)::BIGINT AS gp
         |        FROM m CROSS JOIN tot
         |        GROUP BY 1, 2, 3, 4)
         |SELECT day, spend_bucket, n, n_sensitive,
         |  floor((tn + n::HUGEINT * (nn::HUGEINT - gp))::DOUBLE
         |    / (2 * n::DOUBLE * nn::DOUBLE) * 1000000) / 1000000 AS tvd,
         |  floor((tn + n::HUGEINT * (nn::HUGEINT - gp))::DOUBLE
         |    / (2 * n::DOUBLE * nn::DOUBLE) * 1000000) / 1000000 > 0.2
         |    AS risky
         |FROM agg""".stripMargin,

    // clamp → count → suppress → seeded-Laplace: the ln-quantized noise
    // is the weightedSampleK inverse-CDF idiom on md5(category‖salt)
    "q_dp_release" ->
      s"""WITH b AS (SELECT event_type, user_id, event_id,
         |        row_number() OVER (PARTITION BY user_id, event_type
         |          ORDER BY event_id) AS rn
         |      FROM events
         |      WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT event_type, count(*)::BIGINT AS n_clamped
         |      FROM b WHERE rn <= $DpClamp GROUP BY 1
         |      HAVING count(*) >= $DpKMin),
         |n AS (SELECT event_type, n_clamped,
         |        ${sqlMd5Int("(event_type || 'dp')")} - 2147483648 AS v
         |      FROM c),
         |l AS (SELECT event_type, n_clamped,
         |        CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn,
         |        (floor(ln(2147483648.0) * 1000000)::BIGINT
         |         - floor(ln((abs(v) + 1)::DOUBLE) * 1000000)::BIGINT) AS lap
         |      FROM n)
         |SELECT event_type, n_clamped, sgn * lap AS noise_ppm,
         |  n_clamped * 1000000 + $DpClamp * sgn * lap AS released_ppm
         |FROM l""".stripMargin,

    // per-user totals clamped into [0, clampSum], gate, the same seeded
    // noise at scale clampSum (salt 'dps')
    "q_dp_sum" ->
      s"""WITH pu AS (SELECT user_id, event_type,
         |        sum(floor(value * 100)::BIGINT)::BIGINT AS t
         |      FROM events
         |      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         |        AND value IS NOT NULL
         |      GROUP BY 1, 2),
         |c AS (SELECT event_type, count(*)::BIGINT AS n_users,
         |        sum(least(greatest(t, 0), $DpSumClamp))::BIGINT
         |          AS sum_clamped
         |      FROM pu GROUP BY 1 HAVING count(*) >= $DpKMin),
         |n AS (SELECT event_type, n_users, sum_clamped,
         |        ${sqlMd5Int("(event_type || 'dps')")} - 2147483648 AS v
         |      FROM c),
         |l AS (SELECT event_type, n_users, sum_clamped,
         |        CASE WHEN v < 0 THEN -1 ELSE 1 END AS sgn,
         |        (floor(ln(2147483648.0) * 1000000)::BIGINT
         |         - floor(ln((abs(v) + 1)::DOUBLE) * 1000000)::BIGINT) AS lap
         |      FROM n)
         |SELECT event_type, n_users, sum_clamped, sgn * lap AS noise_ppm,
         |  sum_clamped * 1000000 + $DpSumClamp * sgn * lap AS released_ppm
         |FROM l""".stripMargin,

    // per-type W1: the same integrand with every window keyed by the
    // group — cumulatives, lead, and totals all partitioned
    "q_wasserstein_by_type" ->
      """WITH av AS (SELECT event_type, floor(value * 100)::BIGINT AS v
        |      FROM events
        |      WHERE user_id % 2 = 0 AND value IS NOT NULL
        |        AND event_type IS NOT NULL),
        |bv AS (SELECT event_type, floor(value * 100)::BIGINT AS v
        |      FROM events
        |      WHERE user_id % 2 = 1 AND value IS NOT NULL
        |        AND event_type IS NOT NULL),
        |ca AS (SELECT event_type, v, count(*)::BIGINT AS ca
        |       FROM av GROUP BY 1, 2),
        |cb AS (SELECT event_type, v, count(*)::BIGINT AS cb
        |       FROM bv GROUP BY 1, 2),
        |m AS (SELECT event_type, v, coalesce(ca, 0)::BIGINT AS ca,
        |        coalesce(cb, 0)::BIGINT AS cb
        |      FROM ca FULL OUTER JOIN cb USING (event_type, v)),
        |p AS (SELECT event_type,
        |        sum(ca) OVER wc::BIGINT AS cca,
        |        sum(cb) OVER wc::BIGINT AS ccb,
        |        lead(v) OVER (PARTITION BY event_type ORDER BY v) AS vn,
        |        v,
        |        sum(ca) OVER wa::BIGINT AS n_a,
        |        sum(cb) OVER wa::BIGINT AS n_b
        |      FROM m
        |      WINDOW wc AS (PARTITION BY event_type ORDER BY v
        |                    ROWS UNBOUNDED PRECEDING),
        |             wa AS (PARTITION BY event_type))
        |SELECT event_type, n_a, n_b,
        |  sum(abs(cca::HUGEINT * n_b - ccb::HUGEINT * n_a)
        |      * coalesce(vn - v, 0)::HUGEINT)::DOUBLE AS w1_num,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    floor(sum(abs(cca::HUGEINT * n_b - ccb::HUGEINT * n_a)
        |        * coalesce(vn - v, 0)::HUGEINT)::DOUBLE
        |      / (n_a::HUGEINT * n_b::HUGEINT)::DOUBLE * 1000000) / 1000000
        |  END AS w1
        |FROM p GROUP BY 1, 2, 3""".stripMargin,

    // the q_ks_shift prefix-scan chain + a rank self-join for grid gaps;
    // the integrand |cca·n_b − ccb·n_a|·gap summed exactly
    "q_wasserstein" ->
      """WITH av AS (SELECT floor(value * 100)::BIGINT AS v FROM events
        |      WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (SELECT floor(value * 100)::BIGINT AS v FROM events
        |      WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |ca AS (SELECT v, count(*)::BIGINT AS ca FROM av GROUP BY 1),
        |cb AS (SELECT v, count(*)::BIGINT AS cb FROM bv GROUP BY 1),
        |m AS (SELECT v, coalesce(ca, 0)::BIGINT AS ca,
        |        coalesce(cb, 0)::BIGINT AS cb
        |      FROM ca FULL OUTER JOIN cb USING (v)),
        |p AS (SELECT v, sum(ca) OVER w::BIGINT AS cca,
        |        sum(cb) OVER w::BIGINT AS ccb,
        |        lead(v) OVER (ORDER BY v) AS vn
        |      FROM m WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT coalesce(sum(ca), 0)::BIGINT AS n_a,
        |        coalesce(sum(cb), 0)::BIGINT AS n_b FROM m)
        |SELECT n_a, n_b,
        |  sum(abs(cca::HUGEINT * n_b - ccb::HUGEINT * n_a)
        |      * coalesce(vn - v, 0)::HUGEINT)::DOUBLE AS w1_num,
        |  CASE WHEN n_a > 0 AND n_b > 0 THEN
        |    floor(sum(abs(cca::HUGEINT * n_b - ccb::HUGEINT * n_a)
        |        * coalesce(vn - v, 0)::HUGEINT)::DOUBLE
        |      / (n_a::HUGEINT * n_b::HUGEINT)::DOUBLE * 1000000) / 1000000
        |  END AS w1
        |FROM p CROSS JOIN t
        |GROUP BY 1, 2""".stripMargin,

    // per-window smoothed KL vs the corpus mix: union category set per
    // window, the same quantized term chain as q_kl_drift
    "q_kl_by_window" ->
      s"""WITH t AS (SELECT $evMs - $evMs % $D AS w, event_type AS cat
         |           FROM events
         |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT w, cat, count(*)::BIGINT AS cp FROM t GROUP BY 1, 2),
         |ref AS (SELECT event_type AS cat, count(*)::BIGINT AS cq
         |        FROM events
         |        WHERE ts IS NOT NULL AND event_type IS NOT NULL
         |        GROUP BY 1),
         |tq AS (SELECT sum(cq)::BIGINT AS tq FROM ref),
         |wins AS (SELECT DISTINCT w FROM c),
         |cats AS (SELECT DISTINCT w, cat FROM (
         |    SELECT w, cat FROM c
         |    UNION ALL SELECT wins.w, ref.cat FROM wins, ref)),
         |g AS (SELECT w, count(*)::BIGINT AS k FROM cats GROUP BY 1),
         |tp AS (SELECT w, sum(cp)::BIGINT AS tp FROM c GROUP BY 1),
         |terms AS (SELECT cats.w,
         |    (COALESCE(c.cp, 0) + 1)
         |    * (floor(ln(((COALESCE(c.cp, 0) + 1)
         |         * ((SELECT tq FROM tq) + g.k))::DOUBLE) * 1000000)::BIGINT
         |     - floor(ln(((COALESCE(r.cq, 0) + 1)
         |         * (tp.tp + g.k))::DOUBLE) * 1000000)::BIGINT) AS trm
         |  FROM cats
         |  LEFT JOIN c ON c.w = cats.w AND c.cat = cats.cat
         |  LEFT JOIN ref r ON r.cat = cats.cat
         |  JOIN g ON g.w = cats.w
         |  JOIN tp ON tp.w = cats.w)
         |SELECT t.w AS window_start_ms, g.k AS n_categories, tp.tp AS n_p,
         |  (SELECT tq FROM tq) AS n_q, sum(t.trm)::BIGINT AS kl_scaled,
         |  sum(t.trm)::BIGINT::DOUBLE / ((tp.tp + g.k)::DOUBLE * 1000000)
         |    AS kl
         |FROM terms t JOIN g ON g.w = t.w JOIN tp ON tp.w = t.w
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // add-one smoothed over the union vocabulary; quantized term
    // cp'·(qlog(cp'·NQ') − qlog(cq'·NP')) summed exactly
    "q_kl_drift" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS cp,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS cq
         |      FROM t GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS k, sum(cp)::BIGINT AS tp,
         |          sum(cq)::BIGINT AS tq FROM c),
         |s AS (SELECT k, tp, tq,
         |        sum((cp + 1)
         |          * (floor(ln(((cp + 1) * (tq + k))::DOUBLE) * 1000000)::BIGINT
         |           - floor(ln(((cq + 1) * (tp + k))::DOUBLE) * 1000000)::BIGINT)
         |        )::BIGINT AS kl_scaled
         |      FROM c CROSS JOIN tot GROUP BY 1, 2, 3)
         |SELECT k AS n_categories, tp AS n_p, tq AS n_q, kl_scaled,
         |  kl_scaled::DOUBLE / ((tp + k)::DOUBLE * 1000000) AS kl
         |FROM s""".stripMargin,

    // margins as partitioned window sums over the O(cells) table; grand
    // total via CROSS JOIN of a 1-row aggregate
    "q_mutual_info" ->
      """WITH c AS (SELECT lang, source, count(*)::BIGINT AS c FROM documents
        |           WHERE lang IS NOT NULL AND source IS NOT NULL
        |           GROUP BY 1, 2),
        |m AS (SELECT c,
        |        sum(c) OVER (PARTITION BY lang)::BIGINT AS ca,
        |        sum(c) OVER (PARTITION BY source)::BIGINT AS cb FROM c),
        |tot AS (SELECT sum(c)::BIGINT AS nn FROM c),
        |s AS (SELECT nn, count(*)::BIGINT AS n_cells,
        |        sum(c * (floor(ln((c * nn)::DOUBLE) * 1000000)::BIGINT
        |               - floor(ln((ca * cb)::DOUBLE) * 1000000)::BIGINT)
        |        )::BIGINT AS mi_scaled
        |      FROM m CROSS JOIN tot GROUP BY 1)
        |SELECT nn AS n, n_cells, mi_scaled,
        |  mi_scaled::DOUBLE / (nn::DOUBLE * 1000000) AS mi FROM s""".stripMargin,

    // the q_bigram_lm gram extraction, positional margins by window,
    // pmi as a quantized-log difference over exact counts
    "q_pmi" ->
      s"""WITH nrm AS (SELECT $normSql AS nt FROM documents),
         |tk AS (SELECT list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |g AS (SELECT unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                     for i in range(0, len(toks)-2+1)]) AS gram
         |      FROM tk WHERE len(toks) >= 2),
         |c AS (SELECT gram, count(*)::BIGINT AS n_ab FROM g GROUP BY 1),
         |sp AS (SELECT n_ab, split_part(gram, ' ', 1) AS w1,
         |         split_part(gram, ' ', 2) AS w2 FROM c),
         |m AS (SELECT w1, w2, n_ab,
         |        sum(n_ab) OVER (PARTITION BY w1)::BIGINT AS n_w1,
         |        sum(n_ab) OVER (PARTITION BY w2)::BIGINT AS n_w2 FROM sp),
         |tot AS (SELECT sum(n_ab)::BIGINT AS n_total FROM c)
         |SELECT w1, w2, n_ab, n_w1, n_w2, n_total,
         |  (floor(ln((n_ab * n_total)::DOUBLE) * 1000000)::BIGINT
         |   - floor(ln((n_w1 * n_w2)::DOUBLE) * 1000000)::BIGINT)::DOUBLE
         |    / 1000000 AS pmi
         |FROM m CROSS JOIN tot WHERE n_ab >= 5""".stripMargin,

    // quantized log-log coordinates through the q_regression skeleton
    "q_zipf" ->
      s"""WITH t AS (SELECT lang, unnest($toksSql) AS tok FROM documents
         |           WHERE lang IS NOT NULL),
         |f AS (SELECT lang, tok, count(*)::BIGINT AS f FROM t GROUP BY 1, 2),
         |r AS (SELECT lang, f, tok, row_number() OVER
         |        (PARTITION BY lang ORDER BY f DESC, tok) AS rnk FROM f),
         |x AS (SELECT lang, floor(ln(rnk::DOUBLE) * 1000000)::BIGINT AS lx,
         |        floor(ln(f::DOUBLE) * 1000000)::BIGINT AS ly FROM r),
         |s AS (SELECT lang, count(*)::DOUBLE AS n, sum(lx)::DOUBLE AS sx,
         |        sum(ly)::DOUBLE AS sy, sum(lx * ly)::DOUBLE AS sxy,
         |        sum(lx * lx)::DOUBLE AS sxx FROM x GROUP BY 1)
         |SELECT lang, n::BIGINT AS n,
         |  CASE WHEN (n * sxx - sx * sx) > 0
         |       THEN floor(((n * sxy - sx * sy) / (n * sxx - sx * sx))
         |                  * 1000000) / 1000000
         |  END AS slope,
         |  CASE WHEN (n * sxx - sx * sx) > 0
         |       THEN floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
         |                  * 1000000) / 1000000
         |  END AS intercept
         |FROM s""".stripMargin,

    // q_outliers' skeleton over per-type daily counts
    // the centered full-window moving mean, detrended slot means
    // re-centered per key, residual by the ppm identity — all
    // truncating integer divs
    "q_seasonal_decomp" ->
      """WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |        count(*)::BIGINT AS n
        |      FROM events
        |      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |      GROUP BY 1, 2),
        |t AS (SELECT *, sum(n) OVER w::BIGINT AS wsum,
        |        count(*) OVER w::BIGINT AS wcnt
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT event_type, day, n,
        |        (wsum * 1000000) // 7 AS trend_ppm,
        |        n * 1000000 - (wsum * 1000000) // 7 AS det
        |      FROM t WHERE wcnt = 7),
        |sl AS (SELECT event_type, day % 7 AS slot, sum(det)::BIGINT AS ssum,
        |        count(*)::BIGINT AS scnt FROM f GROUP BY 1, 2),
        |sr AS (SELECT event_type, slot, ssum // scnt AS sraw FROM sl),
        |ka AS (SELECT event_type, sum(sraw)::BIGINT AS ssum,
        |        count(*)::BIGINT AS nc FROM sr GROUP BY 1),
        |se AS (SELECT sr.event_type, sr.slot,
        |        (sr.sraw - (ka.ssum // ka.nc))::BIGINT AS seasonal_ppm
        |      FROM sr JOIN ka USING (event_type))
        |SELECT f.event_type, f.day, f.day % 7 AS slot, f.n, f.trend_ppm,
        |  se.seasonal_ppm, (f.det - se.seasonal_ppm)::BIGINT AS residual_ppm
        |FROM f JOIN se ON se.event_type = f.event_type
        |  AND se.slot = f.day % 7""".stripMargin,

    // the q_volume_outliers chain with the baseline keyed per
    // (event_type, day-of-week)
    "q_seasonal_outliers" ->
      """WITH dc AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |              count(*)::BIGINT AS n FROM events
        |            WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |            GROUP BY 1, 2),
        |dw AS (SELECT event_type, day, day % 7 AS dow, n FROM dc),
        |med AS (SELECT event_type, dow, quantile_cont(n, 0.5) AS m
        |        FROM dw GROUP BY 1, 2),
        |mad AS (SELECT d.event_type, d.dow,
        |          quantile_cont(abs(d.n - med.m), 0.5) AS md
        |        FROM dw d JOIN med USING (event_type, dow) GROUP BY 1, 2),
        |z AS (SELECT d.event_type, d.day, d.dow, d.n,
        |        CASE WHEN mad.md > 0
        |             THEN floor((0.6745 * (d.n - med.m) / mad.md) * 1000000) / 1000000
        |        END AS robust_z
        |      FROM dw d JOIN med USING (event_type, dow)
        |      JOIN mad USING (event_type, dow))
        |SELECT event_type, day, dow, n, robust_z,
        |  COALESCE(abs(robust_z) > 2.0, false) AS is_outlier
        |FROM z""".stripMargin,

    // q_corr's moment skeleton over edge-endpoint degrees (each
    // undirected edge in both orientations)
    "q_assortativity" ->
      """WITH sp AS (SELECT DISTINCT l_suppkey * 2 AS a, l_partkey * 2 + 1 AS b
        |            FROM lineitem),
        |e AS (SELECT a, b FROM sp UNION ALL SELECT b AS a, a AS b FROM sp),
        |deg AS (SELECT a, count(*)::BIGINT AS d FROM e GROUP BY 1),
        |j AS (SELECT da.d AS x, db.d AS y FROM e
        |      JOIN deg da ON da.a = e.a JOIN deg db ON db.a = e.b),
        |s AS (SELECT count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx,
        |        sum(y)::DOUBLE AS sy, sum(x * y)::DOUBLE AS sxy,
        |        sum(x * x)::DOUBLE AS sxx, sum(y * y)::DOUBLE AS syy
        |      FROM j)
        |SELECT 'all' AS g, n::BIGINT AS n,
        |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |       THEN floor((n * sxy - sx * sy)
        |                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |                  * 1000000) / 1000000
        |  END AS corr
        |FROM s""".stripMargin,

    "q_volume_outliers" ->
      """WITH dc AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |              count(*)::BIGINT AS n FROM events GROUP BY 1, 2),
        |med AS (SELECT event_type, quantile_cont(n, 0.5) AS m FROM dc GROUP BY 1),
        |mad AS (SELECT d.event_type, quantile_cont(abs(d.n - med.m), 0.5) AS md
        |        FROM dc d JOIN med USING (event_type) GROUP BY 1),
        |z AS (SELECT d.event_type, d.day, d.n,
        |        CASE WHEN mad.md > 0
        |             THEN floor((0.6745 * (d.n - med.m) / mad.md) * 1000000) / 1000000
        |        END AS robust_z
        |      FROM dc d JOIN med USING (event_type) JOIN mad USING (event_type))
        |SELECT event_type, day, n, robust_z,
        |  COALESCE(abs(robust_z) > 3.5, false) AS is_outlier
        |FROM z""".stripMargin,

    // q_corr's moment skeleton over consecutive-day volume pairs
    "q_autocorr" ->
      """WITH dc AS (SELECT epoch_ms(ts) // 86400000 AS day,
        |              count(*)::BIGINT AS x FROM events GROUP BY 1),
        |pr AS (SELECT a.x AS x, b.x AS y FROM dc a JOIN dc b ON b.day = a.day + 1),
        |s AS (SELECT count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx,
        |        sum(y)::DOUBLE AS sy, sum(x * y)::DOUBLE AS sxy,
        |        sum(x * x)::DOUBLE AS sxx, sum(y * y)::DOUBLE AS syy FROM pr)
        |SELECT 'lag1' AS series, n::BIGINT AS n,
        |  CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |       THEN floor((n * sxy - sx * sy)
        |                  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
        |                  * 1000000) / 1000000
        |  END AS corr
        |FROM s""".stripMargin,

    // lag window with the same (epoch-ms, event_id) tie order; trunc6 ratio
    "q_transitions" -> transitionsOracle,
    // the same cell counts through H·N = Σ r·qlog(r) − Σ c·qlog(c)
    "q_transition_entropy" ->
      """WITH seq AS (SELECT user_id, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |          ORDER BY epoch_ms(ts), event_id) AS prev
        |      FROM events
        |      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |        AND user_id IS NOT NULL),
        |c AS (SELECT prev AS f, event_type AS t, count(*)::BIGINT AS n
        |      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT f, sum(n)::BIGINT AS rr, count(*)::BIGINT AS k,
        |        sum(n * floor(ln(n::DOUBLE) * 1000000)::BIGINT)::HUGEINT
        |          AS ct
        |      FROM c GROUP BY 1),
        |g AS (SELECT coalesce(sum(rr), 0)::BIGINT AS n_transitions,
        |        count(*)::BIGINT AS n_from_states,
        |        coalesce(sum(k), 0)::BIGINT AS n_cells,
        |        coalesce(sum(rr::HUGEINT
        |            * floor(ln(rr::DOUBLE) * 1000000)::BIGINT - ct),
        |          0)::BIGINT AS h_scaled
        |      FROM r)
        |SELECT n_transitions, n_from_states, n_cells, h_scaled,
        |  CASE WHEN n_transitions > 0 THEN
        |    h_scaled::DOUBLE / (n_transitions::DOUBLE * 1000000)
        |  END AS h
        |FROM g""".stripMargin,
    // the state machine must emit the SAME pair multiset → same oracle
    "q_transitions_stream" -> transitionsOracle,
    // the sessionize island scan feeding the funnel chain keyed by
    // (user, session) — concat matches Spark's concat_ws(":")
    "q_session_funnel" -> sessionFunnelOracle,
    // sessionize intervals → sweep deltas → window cumsum (the engine
    // side replaces the cumsum with the bucketed prefix scan)
    "q_session_concurrency" -> {
      val g = 3600000L
      s"""WITH x AS (SELECT event_id, user_id, $evMs AS ms,
         |        lag($evMs) OVER (PARTITION BY user_id
         |                         ORDER BY $evMs, event_id) AS prev
         |      FROM events WHERE user_id IS NOT NULL),
         |sx AS (SELECT user_id, ms,
         |        (sum(CASE WHEN prev IS NULL OR ms - prev > $D
         |                  THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ms, event_id
         |                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
         |      FROM x),
         |iv AS (SELECT user_id, session_seq, min(ms) AS s, max(ms) AS e
         |       FROM sx GROUP BY 1, 2),
         |d AS (SELECT (s + ${g - 1}) - (s + ${g - 1}) % $g AS t,
         |        1::BIGINT AS dd FROM iv
         |      UNION ALL
         |      SELECT (e + $g) - (e + $g) % $g, -1::BIGINT FROM iv),
         |b AS (SELECT t, sum(dd)::BIGINT AS delta FROM d GROUP BY 1)
         |SELECT t AS boundary_ms,
         |  (sum(delta) OVER (ORDER BY t))::BIGINT AS active
         |FROM b""".stripMargin
    },
    // the session-aware state machine must emit the SAME rows
    "q_session_funnel_stream" -> sessionFunnelOracle,

    // interval-overlap join replay: the q_sessionize session intervals
    // (half-open, e+1) on both sides of a plain overlap join; the top-N
    // cut is unambiguous (the full sort key is unique per pair)
    "q_interval_overlap" ->
      s"""WITH x AS (SELECT event_id, user_id, $evMs AS ms,
         |        lag($evMs) OVER (PARTITION BY user_id
         |          ORDER BY $evMs, event_id) AS prev
         |      FROM events WHERE user_id IS NOT NULL),
         |sx AS (SELECT user_id, ms,
         |        (sum(CASE WHEN prev IS NULL OR ms - prev > $D
         |                  THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ms, event_id
         |                 ROWS UNBOUNDED PRECEDING))::BIGINT AS seq
         |      FROM x),
         |iv AS (SELECT user_id, seq, min(ms)::BIGINT AS s_ms,
         |        (max(ms) + 1)::BIGINT AS e_ms
         |      FROM sx GROUP BY 1, 2),
         |p AS (SELECT a.user_id AS a_user, a.seq AS a_seq,
         |        a.s_ms AS a_s, a.e_ms AS a_e,
         |        b.user_id AS b_user, b.seq AS b_seq,
         |        b.s_ms AS b_s, b.e_ms AS b_e,
         |        (least(a.e_ms, b.e_ms)
         |         - greatest(a.s_ms, b.s_ms))::BIGINT AS overlap_ms
         |      FROM iv a JOIN iv b
         |        ON a.user_id % 2 = 1 AND b.user_id % 2 = 0
         |        AND a.s_ms < b.e_ms AND b.s_ms < a.e_ms)
         |SELECT * FROM p
         |ORDER BY overlap_ms DESC, a_user, a_seq, b_user, b_seq
         |LIMIT $OvTopN""".stripMargin,

    // the same lag chain one step deeper; mirrored grouping
    "q_transitions2" -> transitions2Oracle,
    // the last-two-kinds state machine must emit the SAME matrix
    "q_transitions2_stream" -> transitions2Oracle,

    // the transition matrix ranked inside each from_state
    "q_next_event" ->
      s"""WITH base AS ($transitionsOracle),
         |r AS (SELECT from_state, to_state, n, prob,
         |        row_number() OVER (PARTITION BY from_state
         |          ORDER BY n DESC, to_state) AS rk FROM base)
         |SELECT from_state, rk, to_state, n, prob FROM r WHERE rk <= 2"""
        .stripMargin,

    // two cohort slices through the q_numeric_profile skeleton, joined on
    // the column name
    "q_profile_diff" -> {
      def side(c: String, m: Int) =
        s"""SELECT '$c' AS col_, count(*)::BIGINT AS n_rows,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c)::BIGINT AS n_distinct,
           |  min($c)::DOUBLE AS min_v, max($c)::DOUBLE AS max_v
           |FROM events WHERE user_id % 2 = $m""".stripMargin
      def union(m: Int) = Seq("event_id", "user_id", "value")
        .map(side(_, m)).mkString("\nUNION ALL\n")
      s"""WITH pa AS (${union(0)}),
         |pb AS (${union(1)})
         |SELECT pa.col_ AS "column",
         |  pa.n_rows AS n_rows_a, pa.n_nulls AS n_nulls_a,
         |  pa.n_distinct AS n_distinct_a, pa.min_v AS min_a,
         |  pa.max_v AS max_a,
         |  pb.n_rows AS n_rows_b, pb.n_nulls AS n_nulls_b,
         |  pb.n_distinct AS n_distinct_b, pb.min_v AS min_b,
         |  pb.max_v AS max_b,
         |  pb.min_v - pa.min_v AS min_delta, pb.max_v - pa.max_v AS max_delta
         |FROM pa JOIN pb ON pb.col_ = pa.col_""".stripMargin
    },

    // the same lead window; the open interval is the NULL lead
    "q_scd2" ->
      """SELECT event_id, user_id, event_type,
        |  epoch_ms(ts) AS valid_from_ms,
        |  lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) AS valid_to_ms,
        |  lead(epoch_ms(ts)) OVER (PARTITION BY user_id
        |    ORDER BY epoch_ms(ts), event_id) IS NULL AS is_current
        |FROM events""".stripMargin,

    // identical IEEE bin arithmetic; edge bins clamp, never drop
    "q_value_hist" ->
      s"""WITH b AS (SELECT greatest(least(
         |        floor((l_extendedprice - CAST($HistLo AS DOUBLE))
         |              / CAST($HistWidth AS DOUBLE)),
         |        CAST(${HistBins - 1} AS DOUBLE)), CAST(0 AS DOUBLE))::BIGINT
         |        AS bin,
         |      l_extendedprice AS v
         |    FROM lineitem WHERE l_extendedprice IS NOT NULL)
         |SELECT bin,
         |  CAST($HistLo AS DOUBLE) + CAST(bin AS DOUBLE) * CAST($HistWidth AS DOUBLE)
         |    AS bin_lo,
         |  count(*)::BIGINT AS n, min(v) AS v_min, max(v) AS v_max
         |FROM b GROUP BY 1""".stripMargin,

    // rational impurity from integer counts; one trunc6'd division
    "q_gini" ->
      """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS n
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |g AS (SELECT user_id, sum(n)::BIGINT AS n,
        |        count(*)::BIGINT AS n_labels, sum(n * n)::BIGINT AS s2
        |      FROM c GROUP BY 1)
        |SELECT user_id, n, n_labels,
        |  floor((n * n - s2)::DOUBLE / (n * n)::DOUBLE * 1000000) / 1000000
        |    AS gini
        |FROM g""".stripMargin,

    // the same distinct/size-cap/self-join/support pipeline; lift is one
    // double division of two BIGINT products
    "q_basket_lift" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |    FROM lineitem
         |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         |kept AS (SELECT i.bk, i.it FROM items i JOIN (
         |    SELECT bk FROM items GROUP BY bk
         |    HAVING count(*) <= $LiftMaxBasket) s USING (bk)),
         |tot AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM kept),
         |freq AS (SELECT it, count(*)::BIGINT AS n FROM kept GROUP BY 1),
         |pairs AS (SELECT a.it AS item_a, b.it AS item_b,
         |        count(*)::BIGINT AS n_ab
         |      FROM kept a JOIN kept b USING (bk) WHERE a.it < b.it
         |      GROUP BY 1, 2 HAVING count(*) >= $LiftSupport)
         |SELECT item_a, item_b, n_ab, fa.n AS n_a, fb.n AS n_b, n_baskets,
         |  floor((n_ab * n_baskets)::DOUBLE / (fa.n * fb.n)::DOUBLE
         |        * 1000000) / 1000000 AS lift
         |FROM pairs
         |JOIN freq fa ON fa.it = item_a
         |JOIN freq fb ON fb.it = item_b
         |CROSS JOIN tot""".stripMargin,

    // the same basketLift SQL over the (doc, token) incidence
    "q_token_lift" ->
      s"""WITH items AS (SELECT DISTINCT doc_id AS bk, tok AS it
         |    FROM (SELECT doc_id, unnest($toksSql) AS tok FROM documents)
         |    WHERE doc_id IS NOT NULL AND tok IS NOT NULL),
         |kept AS (SELECT i.bk, i.it FROM items i JOIN (
         |    SELECT bk FROM items GROUP BY bk
         |    HAVING count(*) <= 40) s USING (bk)),
         |tot AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM kept),
         |freq AS (SELECT it, count(*)::BIGINT AS n FROM kept GROUP BY 1),
         |pairs AS (SELECT a.it AS item_a, b.it AS item_b,
         |        count(*)::BIGINT AS n_ab
         |      FROM kept a JOIN kept b USING (bk) WHERE a.it < b.it
         |      GROUP BY 1, 2 HAVING count(*) >= 20)
         |SELECT item_a, item_b, n_ab, fa.n AS n_a, fb.n AS n_b, n_baskets,
         |  floor((n_ab * n_baskets)::DOUBLE / (fa.n * fb.n)::DOUBLE
         |        * 1000000) / 1000000 AS lift
         |FROM pairs
         |JOIN freq fa ON fa.it = item_a
         |JOIN freq fb ON fb.it = item_b
         |CROSS JOIN tot""".stripMargin,

    "q_pagerank" -> pagerankOracleSql(PrIters, PrScale),
    "q_pagerank_residual" -> pagerankResidualOracleSql(PrIters, PrScale),
    "q_hits" -> hitsOracleSql(HitsIters, HitsScale),
    "q_hits_residual" -> hitsResidualOracleSql(HitsIters, HitsScale),
    "q_communities" -> lpaOracleSql(LpaIters),
    "q_communities_modularity" -> lpaModularityOracleSql(LpaIters),
    "q_communities_moved" -> lpaMovedOracleSql(LpaIters),
    "q_communities_weighted" -> lpaWeightedOracleSql(LpaIters),
    "q_community_card" -> lpaCardOracleSql(LpaIters),
    "q_community_card_weighted" -> lpaWeightedCardOracleSql(LpaIters),
    "q_communities_weighted_modularity" ->
      lpaWeightedModularityOracleSql(LpaIters),
    "q_bfs_dist" -> bfsOracleSql(BfsRounds, BfsSeedMod),
    "q_harmonic" -> harmonicOracleSql(CentRounds, CentSeedMod),
    "q_betweenness" -> betweennessOracleSql(CentRounds, CentSeedMod),
    "q_ppr" -> pprOracleSql(PrIters, PrScale, BfsSeedMod),
    "q_pagerank_weighted" -> pagerankWeightedOracleSql(WprIters, PrScale),
    "q_textrank" -> textRankOracleSql(WprIters, PrScale, TextRankTopK),
    "q_kcore" -> kcoreOracleSql(KcoreK, KcoreRounds),

    // brute-force canonical 3-way triangle join (the oracle may explode on
    // hubs; the Spark side's degree orientation is the scale path)
    "q_triangles" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
         |    FROM lineitem
         |    WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
         |ce AS (SELECT a.it AS a, b.it AS b
         |       FROM items a JOIN items b USING (bk) WHERE a.it < b.it
         |       GROUP BY 1, 2 HAVING count(*) >= $LiftSupport),
         |deg AS (SELECT node, count(*)::BIGINT AS d FROM (
         |          SELECT a AS node FROM ce UNION ALL SELECT b FROM ce) t
         |        GROUP BY 1),
         |tri AS (SELECT count(*)::BIGINT AS t FROM ce e1
         |        JOIN ce e2 ON e2.a = e1.a AND e2.b > e1.b
         |        JOIN ce e3 ON e3.a = e1.b AND e3.b = e2.b),
         |ns AS (SELECT count(*)::BIGINT AS n_nodes,
         |         (sum(d * (d - 1)) // 2)::BIGINT AS n_wedges FROM deg),
         |es AS (SELECT count(*)::BIGINT AS n_edges FROM ce)
         |SELECT n_nodes, n_edges, n_wedges, t AS n_triangles,
         |  CASE WHEN n_wedges > 0
         |       THEN floor((t * 3)::DOUBLE / n_wedges::DOUBLE * 1000000)
         |            / 1000000
         |  END AS clustering
         |FROM ns CROSS JOIN es CROSS JOIN tri""".stripMargin,

    // the q_value_hist bin pipeline over bipartite node degrees
    "q_degree_hist" ->
      s"""WITH e AS (SELECT DISTINCT 's:' || l_suppkey AS src,
         |        'p:' || l_partkey AS dst FROM lineitem),
         |d AS (SELECT node, count(*)::DOUBLE AS degree FROM (
         |        SELECT src AS node FROM e UNION ALL SELECT dst FROM e) t
         |      GROUP BY 1),
         |b AS (SELECT greatest(least(
         |        floor((degree - CAST($DegLo AS DOUBLE))
         |              / CAST($DegWidth AS DOUBLE)),
         |        CAST(${DegBins - 1} AS DOUBLE)), CAST(0 AS DOUBLE))::BIGINT
         |        AS bin,
         |      degree AS v FROM d)
         |SELECT bin,
         |  CAST($DegLo AS DOUBLE) + CAST(bin AS DOUBLE) * CAST($DegWidth AS DOUBLE)
         |    AS bin_lo,
         |  count(*)::BIGINT AS n, min(v) AS v_min, max(v) AS v_max
         |FROM b GROUP BY 1""".stripMargin,

    // same rational per-cell formula, same left-assoc double pipeline,
    // same integer micro-unit summation
    "q_chi2" -> s"$chi2OracleCte\nSELECT n, dof, chi2 FROM agg",

    // the per-cell drill-down: the same margins, ONE fixed double chain
    // per cell (num/n/sqrt(e*(1-r/n)*(1-c/n))), trunc6'd
    "q_chi2_residuals" ->
      s"""$chi2OracleCte
         |SELECT cells.a AS event_type, cells.b AS dow, o AS n_obs,
         |  floor((rr::HUGEINT * cc::HUGEINT)::DOUBLE / n::DOUBLE
         |        * 1000000) / 1000000 AS expected,
         |  CASE WHEN (1 - rr::DOUBLE / n::DOUBLE) > 0
         |        AND (1 - cc::DOUBLE / n::DOUBLE) > 0 THEN
         |    floor((o::HUGEINT * n::HUGEINT
         |           - rr::HUGEINT * cc::HUGEINT)::DOUBLE / n::DOUBLE
         |      / sqrt((rr::HUGEINT * cc::HUGEINT)::DOUBLE / n::DOUBLE
         |             * (1 - rr::DOUBLE / n::DOUBLE)
         |             * (1 - cc::DOUBLE / n::DOUBLE)) * 1000000) / 1000000
         |  END AS adj_residual
         |FROM cells JOIN r USING (a) JOIN c USING (b) CROSS JOIN t""".stripMargin,

    // the same pipeline plus one correctly-rounded divide and sqrt —
    // operand order mirrors CoreOps.cramersV exactly
    "q_cramers_v" ->
      s"""$chi2OracleCte
         |SELECT n, dof, chi2,
         |  CASE WHEN dof > 0 AND n > 0
         |       THEN sqrt(chi2 / (n * least(na - 1, nb - 1))::DOUBLE)
         |  END AS v
         |FROM agg""".stripMargin,

    // exact 128-bit cross-products and an exact integer sum; one final
    // correctly-rounded division — mirrors categoricalDrift's decimal path
    "q_tvd_drift" ->
      """WITH a AS (SELECT event_type AS c, count(*)::BIGINT AS na
        |      FROM events WHERE user_id % 2 = 0 AND event_type IS NOT NULL
        |      GROUP BY 1),
        |b AS (SELECT event_type AS c, count(*)::BIGINT AS nb
        |      FROM events WHERE user_id % 2 = 1 AND event_type IS NOT NULL
        |      GROUP BY 1),
        |j AS (SELECT coalesce(na, 0)::BIGINT AS na, coalesce(nb, 0)::BIGINT AS nb
        |      FROM a FULL OUTER JOIN b USING (c)),
        |t AS (SELECT sum(na)::BIGINT AS n_a, sum(nb)::BIGINT AS n_b,
        |        count(*)::BIGINT AS n_categories FROM j),
        |s AS (SELECT sum(abs(na::HUGEINT * t.n_b::HUGEINT
        |                     - nb::HUGEINT * t.n_a::HUGEINT)) AS sm
        |      FROM j CROSS JOIN t)
        |SELECT n_a, n_b, n_categories,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN sm::DOUBLE
        |            / (2::HUGEINT * n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
        |  END AS tvd
        |FROM t CROSS JOIN s""".stripMargin,

    // the same grid alignment (every day x every baseline category) and
    // the same 128-bit cross-product sum per day
    "q_drift_by_day" ->
      """WITH a AS (SELECT (epoch_ms(ts) // 86400000) AS day,
        |        event_type AS c
        |      FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
        |wc AS (SELECT day, c, count(*)::BIGINT AS na FROM a GROUP BY 1, 2),
        |rc AS (SELECT event_type AS c, count(*)::BIGINT AS nb FROM events
        |      WHERE event_type IS NOT NULL GROUP BY 1),
        |grid AS (SELECT day, c, nb
        |      FROM (SELECT DISTINCT day FROM wc) CROSS JOIN rc),
        |j AS (SELECT day, c, coalesce(na, 0)::BIGINT AS na,
        |        coalesce(nb, 0)::BIGINT AS nb
        |      FROM wc FULL OUTER JOIN grid USING (day, c)),
        |ta AS (SELECT day, sum(na)::BIGINT AS n_a,
        |        count(*)::BIGINT AS n_categories FROM j GROUP BY 1),
        |tb AS (SELECT coalesce(sum(nb), 0)::BIGINT AS n_b FROM rc)
        |SELECT day, n_a, n_b, n_categories,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN sum(abs(na::HUGEINT * n_b::HUGEINT
        |                    - nb::HUGEINT * n_a::HUGEINT))::DOUBLE
        |            / (2::HUGEINT * n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
        |  END AS tvd
        |FROM j JOIN ta USING (day) CROSS JOIN tb
        |GROUP BY day, n_a, n_b, n_categories""".stripMargin,

    // the same doubled rank-sum identity on the distinct-value grid:
    // 2U_a = Σ_v ca·(2·cbBelow + cb), all integer until the last division
    "q_auc_shift" ->
      """WITH av AS (SELECT floor(value * 100)::BIGINT AS v FROM events
        |      WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (SELECT floor(value * 100)::BIGINT AS v FROM events
        |      WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |ca AS (SELECT v, count(*)::BIGINT AS ca FROM av GROUP BY 1),
        |cb AS (SELECT v, count(*)::BIGINT AS cb FROM bv GROUP BY 1),
        |m AS (SELECT v, coalesce(ca, 0)::BIGINT AS ca,
        |        coalesce(cb, 0)::BIGINT AS cb
        |      FROM ca FULL OUTER JOIN cb USING (v)),
        |p AS (SELECT ca, cb,
        |        (sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
        |         - cb)::BIGINT AS pcb
        |      FROM m),
        |t AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
        |        sum(ca::HUGEINT * (2::HUGEINT * pcb::HUGEINT
        |                           + cb::HUGEINT)) AS u2
        |      FROM p)
        |SELECT n_a, n_b, u2::BIGINT AS u2_a,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN floor(u2::DOUBLE
        |                  / (2::HUGEINT * n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
        |                  * 1000000) / 1000000
        |  END AS auc_a
        |FROM t""".stripMargin,

    // same top-k order (n desc, category asc), same totals-derived other
    // row, same trunc6'd shares
    "q_top_categories" ->
      """WITH c AS (SELECT event_type, count(*)::BIGINT AS n
        |      FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |t AS (SELECT coalesce(sum(n), 0)::BIGINT AS total,
        |        count(*)::BIGINT AS ncat FROM c),
        |k AS (SELECT event_type, n FROM c ORDER BY n DESC, event_type LIMIT 3),
        |u AS (SELECT event_type, n FROM k
        |      UNION ALL
        |      SELECT '__other__' AS event_type,
        |        (total - (SELECT sum(n) FROM k))::BIGINT AS n
        |      FROM t WHERE ncat > 3)
        |SELECT event_type, n,
        |  CASE WHEN total > 0
        |       THEN floor(n::DOUBLE / total::DOUBLE * 1000000) / 1000000
        |  END AS share
        |FROM u CROSS JOIN t""".stripMargin,

    // the same two stacked running windows (cum, then peak over cum) and
    // the same integer gap
    "q_drawdown" ->
      s"""WITH x AS (SELECT user_id, $evMs AS msv, event_id,
         |        (floor(value * 100)::BIGINT
         |         * CASE WHEN event_id % 3 = 0 THEN -1 ELSE 1 END) AS c
         |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |s AS (SELECT user_id, msv, event_id, c,
         |        sum(c) OVER (PARTITION BY user_id ORDER BY msv, event_id
         |                     ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
         |      FROM x),
         |p AS (SELECT user_id, cum,
         |        max(cum) OVER (PARTITION BY user_id ORDER BY msv, event_id
         |                       ROWS UNBOUNDED PRECEDING)::BIGINT AS peak
         |      FROM s)
         |SELECT user_id, count(*)::BIGINT AS n_events,
         |  max(peak - cum)::BIGINT AS max_drawdown
         |FROM p GROUP BY 1""".stripMargin,

    // the same integer D_i = n·S_i − i·T grid in HUGEINT, the same
    // earliest-argmax tiebreak, the same left-assoc final division
    "q_changepoint" ->
      """WITH s AS (SELECT user_id, epoch_ms(ts) AS msv, event_id,
        |        floor(value * 100)::BIGINT AS c
        |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |p AS (SELECT user_id, msv,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY msv, event_id) AS i,
        |        sum(c) OVER (PARTITION BY user_id ORDER BY msv, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS sm,
        |        count(*) OVER (PARTITION BY user_id) AS n,
        |        sum(c) OVER (PARTITION BY user_id) AS t
        |      FROM s),
        |d AS (SELECT user_id, msv, i, n, t,
        |        abs(n::HUGEINT * sm::HUGEINT - i::HUGEINT * t::HUGEINT) AS dv
        |      FROM p),
        |m AS (SELECT *, max(dv) OVER (PARTITION BY user_id) AS mx FROM d)
        |SELECT user_id, max(n)::BIGINT AS n_events, max(t)::BIGINT AS total,
        |  min(i)::BIGINT AS change_idx, min_by(msv, i) AS change_ms,
        |  floor(max(mx)::DOUBLE / max(n)::DOUBLE / 100 * 1000000) / 1000000
        |    AS cusum
        |FROM m WHERE dv = mx GROUP BY 1""".stripMargin,

    // the same conditional-count pass and the same left-assoc z pipeline
    "q_ab_test" ->
      """WITH t AS (SELECT
        |    sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
        |    sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
        |             THEN 1 ELSE 0 END)::BIGINT AS conv_a,
        |    sum(CASE WHEN NOT (user_id % 2 = 0) THEN 1 ELSE 0 END)::BIGINT
        |      AS n_b,
        |    sum(CASE WHEN NOT (user_id % 2 = 0) AND event_type = 'purchase'
        |             THEN 1 ELSE 0 END)::BIGINT AS conv_b
        |  FROM events)
        |SELECT n_a, conv_a, n_b, conv_b,
        |  CASE WHEN n_a > 0
        |       THEN floor(conv_a::DOUBLE / n_a::DOUBLE * 1000000) / 1000000
        |  END AS p_a,
        |  CASE WHEN n_b > 0
        |       THEN floor(conv_b::DOUBLE / n_b::DOUBLE * 1000000) / 1000000
        |  END AS p_b,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND conv_a + conv_b > 0
        |        AND conv_a + conv_b < n_a + n_b
        |       THEN floor((conv_a::DOUBLE / n_a::DOUBLE
        |                   - conv_b::DOUBLE / n_b::DOUBLE)
        |             / sqrt((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE
        |                    * (1 - (conv_a + conv_b)::DOUBLE
        |                           / (n_a + n_b)::DOUBLE)
        |                    * (1 / n_a::DOUBLE + 1 / n_b::DOUBLE))
        |             * 1000000) / 1000000
        |  END AS z
        |FROM t""".stripMargin,

    // features strictly before the cutoff, the label from the next band;
    // users born after the cutoff drop (no features to learn from)
    "q_churn_labels" ->
      s"""WITH ev AS (SELECT user_id, $evMs // 86400000 AS day,
         |        floor(coalesce(value, 0) * 100)::BIGINT AS c
         |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |l AS (SELECT user_id,
         |        sum(CASE WHEN day < 19743 THEN 1 ELSE 0 END)::BIGINT
         |          AS n_events_pre,
         |        coalesce(sum(CASE WHEN day < 19743 THEN c END), 0)::BIGINT
         |          AS spend_pre_cents,
         |        count(DISTINCT CASE WHEN day < 19743 THEN day END)::BIGINT
         |          AS days_active_pre,
         |        sum(CASE WHEN day >= 19743 THEN 1 ELSE 0 END) = 0 AS churned
         |      FROM ev WHERE day < 19748 GROUP BY 1)
         |SELECT user_id, n_events_pre, spend_pre_cents, days_active_pre,
         |  churned
         |FROM l WHERE n_events_pre > 0""".stripMargin,

    // the q_auc_shift rank-sum chain over the label slices
    "q_churn_auc" ->
      s"""WITH ev AS (SELECT user_id, $evMs // 86400000 AS day,
         |        floor(coalesce(value, 0) * 100)::BIGINT AS c
         |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |l AS (SELECT user_id,
         |        sum(CASE WHEN day < 19743 THEN 1 ELSE 0 END)::BIGINT AS np,
         |        coalesce(sum(CASE WHEN day < 19743 THEN c END), 0)::BIGINT
         |          AS sp,
         |        sum(CASE WHEN day >= 19743 THEN 1 ELSE 0 END) = 0 AS churned
         |      FROM ev WHERE day < 19748 GROUP BY 1),
         |lv AS (SELECT sp, churned FROM l WHERE np > 0),
         |ca AS (SELECT sp AS v, count(*)::BIGINT AS ca FROM lv
         |       WHERE churned GROUP BY 1),
         |cb AS (SELECT sp AS v, count(*)::BIGINT AS cb FROM lv
         |       WHERE NOT churned GROUP BY 1),
         |m AS (SELECT v, coalesce(ca, 0)::BIGINT AS ca,
         |        coalesce(cb, 0)::BIGINT AS cb
         |      FROM ca FULL OUTER JOIN cb USING (v)),
         |p AS (SELECT ca, cb,
         |        (sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |         - cb)::BIGINT AS pcb
         |      FROM m),
         |t AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b,
         |        sum(ca::HUGEINT * (2::HUGEINT * pcb::HUGEINT
         |                           + cb::HUGEINT)) AS u2
         |      FROM p)
         |SELECT n_a, n_b, u2::BIGINT AS u2_a,
         |  CASE WHEN n_a > 0 AND n_b > 0
         |       THEN floor(u2::DOUBLE
         |                  / (2::HUGEINT * n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
         |                  * 1000000) / 1000000
         |  END AS auc_a
         |FROM t""".stripMargin,

    // the same trunc6'd interpolated percentiles per cohort, differenced
    // (identical doubles both sides, so the differences are identical)
    "q_qte" ->
      s"""WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
         |        user_id % 2 = 0 AS tr
         |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
         |pr AS (SELECT tr, count(*)::BIGINT AS n,
         |        floor(quantile_cont(c, 0.1) * 1000000) / 1000000 AS p10,
         |        floor(quantile_cont(c, 0.25) * 1000000) / 1000000 AS p25,
         |        floor(quantile_cont(c, 0.5) * 1000000) / 1000000 AS p50,
         |        floor(quantile_cont(c, 0.75) * 1000000) / 1000000 AS p75,
         |        floor(quantile_cont(c, 0.9) * 1000000) / 1000000 AS p90
         |      FROM s GROUP BY 1)
         |SELECT t.n AS n_t, c.n AS n_c,
         |  t.p10 - c.p10 AS qte_p10, t.p25 - c.p25 AS qte_p25,
         |  t.p50 - c.p50 AS qte_p50, t.p75 - c.p75 AS qte_p75,
         |  t.p90 - c.p90 AS qte_p90
         |FROM pr t, pr c WHERE t.tr AND NOT c.tr""".stripMargin,

    // the four-cell conditional-moment pass and the identical fixed
    // chains (means, per-cell s²/n, did, sqrt-se, z)
    "q_did" ->
      s"""WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
         |        user_id % 2 = 0 AS tr,
         |        ($evMs // 86400000) >= 19738 AS po
         |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
         |        AND ts IS NOT NULL),
         |t AS (SELECT
         |  count(CASE WHEN NOT tr AND NOT po THEN 1 END)::DOUBLE AS nc0,
         |  sum(CASE WHEN NOT tr AND NOT po THEN c END)::DOUBLE AS sc0,
         |  sum(CASE WHEN NOT tr AND NOT po THEN c::HUGEINT * c END)::DOUBLE AS qc0,
         |  count(CASE WHEN NOT tr AND po THEN 1 END)::DOUBLE AS nc1,
         |  sum(CASE WHEN NOT tr AND po THEN c END)::DOUBLE AS sc1,
         |  sum(CASE WHEN NOT tr AND po THEN c::HUGEINT * c END)::DOUBLE AS qc1,
         |  count(CASE WHEN tr AND NOT po THEN 1 END)::DOUBLE AS nt0,
         |  sum(CASE WHEN tr AND NOT po THEN c END)::DOUBLE AS st0,
         |  sum(CASE WHEN tr AND NOT po THEN c::HUGEINT * c END)::DOUBLE AS qt0,
         |  count(CASE WHEN tr AND po THEN 1 END)::DOUBLE AS nt1,
         |  sum(CASE WHEN tr AND po THEN c END)::DOUBLE AS st1,
         |  sum(CASE WHEN tr AND po THEN c::HUGEINT * c END)::DOUBLE AS qt1
         |  FROM s),
         |u AS (SELECT *,
         |  (nc0 * qc0 - sc0 * sc0) / (nc0 - 1) / nc0 / nc0 AS smc0,
         |  (nc1 * qc1 - sc1 * sc1) / (nc1 - 1) / nc1 / nc1 AS smc1,
         |  (nt0 * qt0 - st0 * st0) / (nt0 - 1) / nt0 / nt0 AS smt0,
         |  (nt1 * qt1 - st1 * st1) / (nt1 - 1) / nt1 / nt1 AS smt1,
         |  st1 / nt1 - st0 / nt0 - (sc1 / nc1 - sc0 / nc0) AS did
         |  FROM t),
         |v AS (SELECT *, smc0 + smc1 + smt0 + smt1 AS sesq FROM u)
         |SELECT nc0::BIGINT AS n_c0, nc1::BIGINT AS n_c1,
         |  nt0::BIGINT AS n_t0, nt1::BIGINT AS n_t1,
         |  CASE WHEN nc0 > 0 AND nc1 > 0 AND nt0 > 0 AND nt1 > 0
         |       THEN floor(did * 1000000) / 1000000 END AS did,
         |  CASE WHEN nc0 > 1 AND nc1 > 1 AND nt0 > 1 AND nt1 > 1
         |         AND sesq > 0
         |       THEN floor(sqrt(sesq) * 1000000) / 1000000 END AS se_did,
         |  CASE WHEN nc0 > 1 AND nc1 > 1 AND nt0 > 1 AND nt1 > 1
         |         AND sesq > 0
         |       THEN floor(did / sqrt(sesq) * 1000000) / 1000000 END AS z
         |FROM v""".stripMargin,

    // pooled-theta CUPED on the per-user frame; every chain mirrored
    // the gainsTable bucket machinery over per-arm cumulatives; qini_ppm
    // is one truncating HUGEINT div of exact integers
    "q_qini" ->
      s"""WITH ev AS (SELECT user_id, floor(value * 100)::BIGINT AS cents,
         |        $evMs // 86400000 AS day, event_type
         |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
         |        AND user_id IS NOT NULL),
         |pu AS (SELECT user_id,
         |        coalesce(sum(CASE WHEN day < 19738 THEN cents END),
         |          0)::BIGINT AS score,
         |        max(CASE WHEN day >= 19738 AND event_type = 'purchase'
         |                 THEN 1 ELSE 0 END)::BIGINT AS conv
         |      FROM ev GROUP BY 1),
         |bs AS (SELECT score AS threshold,
         |        sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
         |          AS nt,
         |        sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT
         |          AS nc,
         |        sum(CASE WHEN user_id % 2 = 0 AND conv = 1
         |            THEN 1 ELSE 0 END)::BIGINT AS yt,
         |        sum(CASE WHEN user_id % 2 <> 0 AND conv = 1
         |            THEN 1 ELSE 0 END)::BIGINT AS yc
         |      FROM pu GROUP BY 1),
         |t AS (SELECT sum(nt + nc)::BIGINT AS tot FROM bs),
         |c AS (SELECT *, sum(nt) OVER w::BIGINT AS cnt,
         |        sum(nc) OVER w::BIGINT AS cnc,
         |        sum(yt) OVER w::BIGINT AS cyt,
         |        sum(yc) OVER w::BIGINT AS cyc
         |      FROM bs WINDOW w AS (ORDER BY threshold DESC
         |        ROWS UNBOUNDED PRECEDING)),
         |b AS (SELECT unnest(range(1, 11)) AS bucket),
         |f AS (SELECT b.bucket, c.threshold, c.cnt + c.cnc AS ct,
         |        c.cnt, c.cnc, c.cyt, c.cyc
         |      FROM c CROSS JOIN b CROSS JOIN t
         |      WHERE c.cnt + c.cnc >= (b.bucket * t.tot + 9) // 10),
         |g AS (SELECT bucket, min(ct) AS ct FROM f GROUP BY 1)
         |SELECT f.bucket, f.threshold, f.ct AS n_rows, f.cnt AS n_t,
         |  f.cnc AS n_c, f.cyt AS y_t, f.cyc AS y_c,
         |  CASE WHEN f.cnc > 0 THEN
         |    (((f.cyt::HUGEINT * f.cnc::HUGEINT
         |       - f.cyc::HUGEINT * f.cnt::HUGEINT)
         |      * 1000000::HUGEINT) // f.cnc::HUGEINT)::BIGINT
         |  END AS qini_ppm
         |FROM f JOIN g ON g.bucket = f.bucket AND g.ct = f.ct""".stripMargin,

    "q_cuped" ->
      s"""WITH ev AS (SELECT user_id, floor(value * 100)::BIGINT AS c,
         |        $evMs // 86400000 AS day
         |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
         |        AND ts IS NOT NULL),
         |pu AS (SELECT user_id,
         |        coalesce(sum(CASE WHEN day < 19738 THEN c END), 0)::BIGINT AS x,
         |        coalesce(sum(CASE WHEN day >= 19738 THEN c END), 0)::BIGINT AS y,
         |        user_id % 2 = 0 AS tr
         |      FROM ev GROUP BY 1),
         |t AS (SELECT count(*)::DOUBLE AS n, sum(x)::DOUBLE AS sx,
         |        sum(y)::DOUBLE AS sy,
         |        sum(x::HUGEINT * x)::DOUBLE AS sxx,
         |        sum(x::HUGEINT * y)::DOUBLE AS sxy,
         |        count(CASE WHEN tr THEN 1 END)::DOUBLE AS nt,
         |        sum(CASE WHEN tr THEN x END)::DOUBLE AS sxt,
         |        sum(CASE WHEN tr THEN y END)::DOUBLE AS syt,
         |        count(CASE WHEN NOT tr THEN 1 END)::DOUBLE AS nc,
         |        sum(CASE WHEN NOT tr THEN x END)::DOUBLE AS sxc,
         |        sum(CASE WHEN NOT tr THEN y END)::DOUBLE AS syc
         |      FROM pu),
         |u AS (SELECT *, n * sxx - sx * sx AS vx,
         |        n * sxy - sx * sy AS cxy FROM t)
         |SELECT nt::BIGINT AS n_t, nc::BIGINT AS n_c,
         |  CASE WHEN n > 0 AND vx > 0
         |       THEN floor(cxy / vx * 1000000) / 1000000 END AS theta,
         |  CASE WHEN nt > 0 AND nc > 0
         |       THEN floor((syt / nt - syc / nc) * 1000000) / 1000000
         |  END AS diff_raw,
         |  CASE WHEN nt > 0 AND nc > 0 AND vx > 0
         |       THEN floor((syt / nt - syc / nc
         |              - cxy / vx * (sxt / nt - sxc / nc)) * 1000000)
         |            / 1000000
         |  END AS diff_adj
         |FROM u""".stripMargin,

    // per-stratum exact decimal arm sums, one fixed double chain per
    // stratum ppm-floored, exact BIGINT fold — single-arm strata excluded
    // and N totalled over USED strata only (the Spark contract)
    "q_strat_ate" ->
      s"""WITH e AS (SELECT event_type,
         |        floor(value * 100)::BIGINT AS cents, user_id
         |      FROM events WHERE user_id IS NOT NULL
         |        AND event_type IS NOT NULL AND value IS NOT NULL),
         |p AS (SELECT event_type,
         |        sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS nt,
         |        sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
         |        sum(CASE WHEN user_id % 2 = 0
         |            THEN CAST(cents AS DECIMAL(18,2)) END) AS st,
         |        sum(CASE WHEN user_id % 2 <> 0
         |            THEN CAST(cents AS DECIMAL(18,2)) END) AS sc
         |      FROM e GROUP BY 1),
         |t AS (SELECT count(*)::BIGINT AS n_strata,
         |        sum(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0
         |            END)::BIGINT AS n_used,
         |        COALESCE(sum(CASE WHEN nt > 0 AND nc > 0
         |            THEN nt + nc END), 0)::BIGINT AS n_total
         |      FROM p),
         |c AS (SELECT t.n_strata, t.n_used, t.n_total,
         |        CASE WHEN nt > 0 AND nc > 0 THEN
         |          floor((st::DOUBLE / nt::DOUBLE - sc::DOUBLE / nc::DOUBLE)
         |                * (nt + nc)::DOUBLE / t.n_total::DOUBLE
         |                * 1000000)::BIGINT END AS contrib
         |      FROM p CROSS JOIN t)
         |SELECT n_strata, n_used, n_total,
         |  COALESCE(sum(contrib), 0)::BIGINT AS ate_ppm
         |FROM c GROUP BY 1, 2, 3""".stripMargin,

    // the strat_ate chain plus the one-row raw diff; sign_flip by the
    // strict-opposite-signs product
    "q_simpson" ->
      s"""WITH e AS (SELECT event_type,
         |        floor(value * 100)::BIGINT AS cents, user_id
         |      FROM events WHERE user_id IS NOT NULL
         |        AND event_type IS NOT NULL AND value IS NOT NULL),
         |p AS (SELECT event_type,
         |        sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS nt,
         |        sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END)::BIGINT AS nc,
         |        sum(CASE WHEN user_id % 2 = 0
         |            THEN CAST(cents AS DECIMAL(18,2)) END) AS st,
         |        sum(CASE WHEN user_id % 2 <> 0
         |            THEN CAST(cents AS DECIMAL(18,2)) END) AS sc
         |      FROM e GROUP BY 1),
         |t AS (SELECT count(*)::BIGINT AS n_strata,
         |        sum(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0
         |            END)::BIGINT AS n_used,
         |        COALESCE(sum(CASE WHEN nt > 0 AND nc > 0
         |            THEN nt + nc END), 0)::BIGINT AS n_total
         |      FROM p),
         |c AS (SELECT t.n_strata, t.n_used, t.n_total,
         |        CASE WHEN nt > 0 AND nc > 0 THEN
         |          floor((st::DOUBLE / nt::DOUBLE - sc::DOUBLE / nc::DOUBLE)
         |                * (nt + nc)::DOUBLE / t.n_total::DOUBLE
         |                * 1000000)::BIGINT END AS contrib
         |      FROM p CROSS JOIN t),
         |a AS (SELECT n_strata, n_used, n_total,
         |        COALESCE(sum(contrib), 0)::BIGINT AS ate_ppm
         |      FROM c GROUP BY 1, 2, 3),
         |rw AS (SELECT CASE WHEN
         |          sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) > 0
         |          AND sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) > 0
         |        THEN floor(
         |          (sum(CASE WHEN user_id % 2 = 0
         |               THEN CAST(cents AS DECIMAL(18,2)) END)::DOUBLE
         |           / sum(CASE WHEN user_id % 2 = 0
         |                 THEN 1 ELSE 0 END)::DOUBLE
         |           - sum(CASE WHEN user_id % 2 <> 0
         |                 THEN CAST(cents AS DECIMAL(18,2)) END)::DOUBLE
         |             / sum(CASE WHEN user_id % 2 <> 0
         |                   THEN 1 ELSE 0 END)::DOUBLE)
         |          * 1000000)::BIGINT END AS raw_diff_ppm
         |      FROM e)
         |SELECT a.n_strata, a.n_used, a.n_total, rw.raw_diff_ppm,
         |  a.ate_ppm, rw.raw_diff_ppm * a.ate_ppm < 0 AS sign_flip
         |FROM a, rw""".stripMargin,

    // the q_seasonal_decomp chain folded to exact moments, then the one
    // mirrored strength chain clamped at zero
    "q_seasonal_strength" ->
      """WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day,
        |        count(*)::BIGINT AS n
        |      FROM events
        |      WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |      GROUP BY 1, 2),
        |t AS (SELECT *, sum(n) OVER w::BIGINT AS wsum,
        |        count(*) OVER w::BIGINT AS wcnt
        |      FROM d WINDOW w AS (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |f AS (SELECT event_type, day, n,
        |        n * 1000000 - (wsum * 1000000) // 7 AS det
        |      FROM t WHERE wcnt = 7),
        |sl AS (SELECT event_type, day % 7 AS slot, sum(det)::BIGINT AS ssum,
        |        count(*)::BIGINT AS scnt FROM f GROUP BY 1, 2),
        |sr AS (SELECT event_type, slot, ssum // scnt AS sraw FROM sl),
        |ka AS (SELECT event_type, sum(sraw)::BIGINT AS ssum,
        |        count(*)::BIGINT AS nc FROM sr GROUP BY 1),
        |se AS (SELECT sr.event_type, sr.slot,
        |        (sr.sraw - (ka.ssum // ka.nc))::BIGINT AS seasonal_ppm
        |      FROM sr JOIN ka USING (event_type)),
        |o AS (SELECT f.event_type, f.det,
        |        (f.det - se.seasonal_ppm)::BIGINT AS res
        |      FROM f JOIN se ON se.event_type = f.event_type
        |        AND se.slot = f.day % 7),
        |m AS (SELECT event_type, count(*)::BIGINT AS n_points,
        |        sum(det::HUGEINT)::HUGEINT AS sd,
        |        sum(det::HUGEINT * det::HUGEINT)::HUGEINT AS sdd,
        |        sum(res::HUGEINT)::HUGEINT AS sr2,
        |        sum(res::HUGEINT * res::HUGEINT)::HUGEINT AS srr
        |      FROM o GROUP BY 1),
        |v AS (SELECT event_type, n_points,
        |        sdd::DOUBLE / n_points::DOUBLE
        |          - sd::DOUBLE / n_points::DOUBLE
        |            * (sd::DOUBLE / n_points::DOUBLE) AS vd,
        |        srr::DOUBLE / n_points::DOUBLE
        |          - sr2::DOUBLE / n_points::DOUBLE
        |            * (sr2::DOUBLE / n_points::DOUBLE) AS vr
        |      FROM m)
        |SELECT event_type, n_points,
        |  CASE WHEN vd > 0 THEN
        |    greatest(floor((1 - vr / vd) * 1000000)::BIGINT, 0)
        |  END AS strength_ppm
        |FROM v""".stripMargin,

    // the same exact-moments-then-fixed-double-chain contract as q_corr:
    // per-cohort n/Σc/Σc² accumulate exactly, every double op mirrored
    // the doubled-rank algebra verbatim: by-value counts, exclusive
    // prefix (a plain window here — the Spark side is the bucketed
    // orderedPrefixSum), 2·midrank = 2·before + t + 1, exact BIGINT
    // 2·U; only z runs the mirrored double chain
    "q_mann_whitney" ->
      """WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
        |        user_id % 2 = 0 AS a
        |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |bv AS (SELECT c,
        |        sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS nav,
        |        sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS nbv
        |      FROM s GROUP BY 1),
        |cu AS (SELECT *, nav + nbv AS tv,
        |        sum(nav + nbv) OVER (ORDER BY c)
        |          - (nav + nbv) AS bef FROM bv),
        |ag AS (SELECT sum(nav)::BIGINT AS n_a, sum(nbv)::BIGINT AS n_b,
        |        sum(nav * (2 * bef + tv + 1))::BIGINT AS r2a,
        |        sum(tv * tv * tv - tv)::BIGINT AS tie_term FROM cu),
        |uu AS (SELECT n_a, n_b, tie_term,
        |        r2a - n_a * (n_a + 1) AS u2_a FROM ag),
        |zz AS (SELECT *,
        |        (u2_a::DOUBLE - n_a::DOUBLE * n_b::DOUBLE) / 2 AS u,
        |        n_a::DOUBLE * n_b::DOUBLE / 12
        |          * (n_a::DOUBLE + n_b::DOUBLE + 1
        |             - tie_term::DOUBLE / (n_a::DOUBLE + n_b::DOUBLE)
        |               / (n_a::DOUBLE + n_b::DOUBLE - 1)) AS var_u
        |      FROM uu)
        |SELECT n_a, n_b, u2_a, tie_term,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN ((u2_a - n_a * n_b) * 1000000) // (n_a * n_b)
        |  END AS cliffs_ppm,
        |  CASE WHEN n_a > 0 AND n_b > 0 AND var_u > 0
        |       THEN floor(u / sqrt(var_u) * 1000000) / 1000000
        |  END AS z
        |FROM zz""".stripMargin,

    // the ordinal 3-pattern encoding verbatim (position tie-break), qlog
    // pattern entropy, one double chain for the ppm normalization
    "q_perm_entropy" ->
      """WITH s AS (SELECT event_type, ts, event_id,
        |        floor(value * 100)::BIGINT AS v
        |      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
        |        AND ts IS NOT NULL AND event_id IS NOT NULL),
        |l AS (SELECT event_type, v AS v1,
        |        lead(v, 1) OVER (PARTITION BY event_type
        |          ORDER BY ts, event_id) AS v2,
        |        lead(v, 2) OVER (PARTITION BY event_type
        |          ORDER BY ts, event_id) AS v3
        |      FROM s),
        |p AS (SELECT event_type,
        |        (CASE WHEN v2 < v1 THEN 1 ELSE 0 END
        |         + CASE WHEN v3 < v1 THEN 1 ELSE 0 END) * 9
        |        + (CASE WHEN v1 <= v2 THEN 1 ELSE 0 END
        |           + CASE WHEN v3 < v2 THEN 1 ELSE 0 END) * 3
        |        + (CASE WHEN v1 <= v3 THEN 1 ELSE 0 END
        |           + CASE WHEN v2 <= v3 THEN 1 ELSE 0 END) AS pat
        |      FROM l WHERE v2 IS NOT NULL AND v3 IS NOT NULL),
        |c AS (SELECT event_type, pat, count(*)::BIGINT AS n
        |      FROM p GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(n)::BIGINT AS tot,
        |        count(*)::BIGINT AS n_distinct FROM c GROUP BY 1),
        |h AS (SELECT c.event_type, t.tot, t.n_distinct,
        |        sum((n * (floor(ln(tot::DOUBLE) * 1000000)::BIGINT
        |             - floor(ln(n::DOUBLE) * 1000000)::BIGINT))::HUGEINT
        |          )::HUGEINT AS hh
        |      FROM c JOIN t USING (event_type) GROUP BY 1, 2, 3)
        |SELECT event_type, tot AS n_patterns, n_distinct,
        |  floor(hh::DOUBLE / tot::DOUBLE / ln(6::DOUBLE))::BIGINT
        |    AS perm_entropy_ppm
        |FROM h""".stripMargin,

    "q_welch" ->
      """WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
        |        user_id % 2 = 0 AS a
        |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |t AS (SELECT
        |        count(CASE WHEN a THEN 1 END)::DOUBLE AS na,
        |        sum(CASE WHEN a THEN c END)::DOUBLE AS sa,
        |        sum(CASE WHEN a THEN c::HUGEINT * c END)::DOUBLE AS ssa,
        |        count(CASE WHEN NOT a THEN 1 END)::DOUBLE AS nb,
        |        sum(CASE WHEN NOT a THEN c END)::DOUBLE AS sb,
        |        sum(CASE WHEN NOT a THEN c::HUGEINT * c END)::DOUBLE AS ssb
        |      FROM s),
        |u AS (SELECT *, na * ssa - sa * sa AS va,
        |        nb * ssb - sb * sb AS vb FROM t),
        |v AS (SELECT *, va / (na - 1) / na / na AS sna,
        |        vb / (nb - 1) / nb / nb AS snb FROM u),
        |w AS (SELECT *, sna + snb AS den, sa / na - sb / nb AS d FROM v)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  CASE WHEN na > 0
        |       THEN floor(sa / na * 1000000) / 1000000 END AS mean_a,
        |  CASE WHEN nb > 0
        |       THEN floor(sb / nb * 1000000) / 1000000 END AS mean_b,
        |  CASE WHEN na > 1 AND nb > 1 AND den > 0
        |       THEN floor(d * d / den * 1000000) / 1000000 END AS t2,
        |  CASE WHEN na > 1 AND nb > 1 AND den > 0
        |       THEN floor(den * den
        |                  / (sna * sna / (na - 1) + snb * snb / (nb - 1))
        |                  * 1000000) / 1000000 END AS df_welch
        |FROM w""".stripMargin,

    // the same deterministic (cents, event_id) total order; the trim cut
    // is integer arithmetic on ranks, the kept-side sum exact
    "q_trimmed_mean" ->
      """WITH s AS (SELECT event_type, floor(value * 100)::BIGINT AS c,
        |        event_id
        |      FROM events WHERE value IS NOT NULL),
        |r AS (SELECT event_type, c,
        |        row_number() OVER (PARTITION BY event_type
        |                           ORDER BY c, event_id) AS r,
        |        count(*) OVER (PARTITION BY event_type) AS n
        |      FROM s),
        |t AS (SELECT *, n * 50 // 1000 AS t FROM r)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  count(CASE WHEN r > t AND r <= n - t THEN 1 END)::BIGINT
        |    AS n_kept,
        |  CASE WHEN count(CASE WHEN r > t AND r <= n - t THEN 1 END) > 0
        |       THEN floor(
        |         sum(CASE WHEN r > t AND r <= n - t THEN c END)::DOUBLE
        |         / count(CASE WHEN r > t AND r <= n - t THEN 1 END)::DOUBLE
        |         * 1000000) / 1000000 END AS trimmed_mean
        |FROM t GROUP BY 1""".stripMargin,

    // the shared prior-prefix integer-moment oracle checks both forms
    "q_anomaly" -> anomalyOracle,
    "q_anomaly_stream" -> anomalyOracle,
    // the same hysteresis walk per user; a closed burst surfaces on the
    // row that closed it
    "q_burst_stream" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, $evMs AS ms,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY $evMs, event_id) AS rn
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |rec AS (
         |  SELECT user_id, rn, ms, CAST(-1 AS BIGINT) AS bstart,
         |    CAST(0 AS BIGINT) AS n, CAST(NULL AS BIGINT) AS c_start,
         |    CAST(NULL AS BIGINT) AS c_end, CAST(NULL AS BIGINT) AS c_n
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.ms,
         |    CASE WHEN r.bstart >= 0 AND e.ms - r.ms <= $BurstHi THEN r.bstart
         |         WHEN r.bstart < 0 AND e.ms - r.ms <= $BurstLo THEN r.ms
         |         ELSE -1 END,
         |    CASE WHEN r.bstart >= 0 AND e.ms - r.ms <= $BurstHi THEN r.n + 1
         |         WHEN r.bstart < 0 AND e.ms - r.ms <= $BurstLo THEN 2
         |         ELSE 0 END,
         |    CASE WHEN r.bstart >= 0 AND e.ms - r.ms > $BurstHi
         |         THEN r.bstart END,
         |    CASE WHEN r.bstart >= 0 AND e.ms - r.ms > $BurstHi
         |         THEN r.ms END,
         |    CASE WHEN r.bstart >= 0 AND e.ms - r.ms > $BurstHi
         |         THEN r.n END
         |  FROM ev e JOIN rec r ON r.user_id = e.user_id AND e.rn = r.rn + 1)
         |SELECT user_id, c_start AS start_ms, c_end AS end_ms,
         |  c_n AS n_events
         |FROM rec WHERE c_start IS NOT NULL""".stripMargin,

    // the same micro-token bucket walk per user in (ts, event_id) order;
    // least/greatest/`//` all integral, so every decision matches
    "q_throttle_stream" -> {
      val capMicro = ThrottleCap * 1000000L
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, $evMs AS ms, event_id,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY $evMs, event_id) AS rn
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
         |rec AS (
         |  SELECT user_id, rn, ms, event_id, TRUE AS admitted,
         |    CAST(${capMicro - 1000000L} AS BIGINT) AS avail
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.ms, e.event_id,
         |    least($capMicro, r.avail
         |      + (greatest(e.ms - r.ms, 0) * $ThrottleNum) // $ThrottleDen)
         |      >= 1000000 AS admitted,
         |    least($capMicro, r.avail
         |      + (greatest(e.ms - r.ms, 0) * $ThrottleNum) // $ThrottleDen)
         |    - CASE WHEN least($capMicro, r.avail
         |        + (greatest(e.ms - r.ms, 0) * $ThrottleNum) // $ThrottleDen)
         |        >= 1000000 THEN 1000000 ELSE 0 END AS avail
         |  FROM ev e JOIN rec r ON r.user_id = e.user_id AND e.rn = r.rn + 1)
         |SELECT user_id, event_id, ms AS event_ms, admitted,
         |  avail AS avail_after
         |FROM rec""".stripMargin
    },
    // the SAME integer recurrence the state machine walks, replayed as a
    // recursive CTE per user in (ts, event_id) order; `//` ≡ Long `/`
    // (both truncate toward zero), so every snapshot matches exactly
    "q_ewma_stream" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, $evMs AS ms, floor(value * 100)::BIGINT AS vc,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY $evMs, event_id) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
         |rec AS (
         |  SELECT user_id, rn, ms, vc * $EwmaScale AS s FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.ms,
         |    ($EwmaNum * e.vc * $EwmaScale + ${EwmaDen - EwmaNum} * r.s)
         |      // $EwmaDen AS s
         |  FROM ev e JOIN rec r ON r.user_id = e.user_id AND e.rn = r.rn + 1),
         |fin AS (SELECT user_id, max(rn) AS n FROM rec GROUP BY 1)
         |SELECT r.user_id, f.n AS n_events, r.ms AS last_ms,
         |  r.s AS ewma_scaled,
         |  r.s::DOUBLE / (${EwmaScale}::DOUBLE * 100) AS ewma
         |FROM rec r JOIN fin f ON f.user_id = r.user_id AND f.n = r.rn""".stripMargin,

    // the same recursive-CTE replay with level AND trend carried; `//`
    // truncates toward zero exactly like Long `/`
    "q_holt_stream" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, $evMs AS ms, floor(value * 100)::BIGINT AS vc,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY $evMs, event_id) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
         |rec AS (
         |  SELECT user_id, rn, ms, vc * $EwmaScale AS l, 0::BIGINT AS b
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.ms,
         |    ($HoltANum * e.vc * $EwmaScale
         |      + ${HoltADen - HoltANum} * (r.l + r.b)) // $HoltADen AS l,
         |    ($HoltBNum * (($HoltANum * e.vc * $EwmaScale
         |        + ${HoltADen - HoltANum} * (r.l + r.b)) // $HoltADen - r.l)
         |      + ${HoltBDen - HoltBNum} * r.b) // $HoltBDen AS b
         |  FROM ev e JOIN rec r ON r.user_id = e.user_id AND e.rn = r.rn + 1),
         |fin AS (SELECT user_id, max(rn) AS n FROM rec GROUP BY 1)
         |SELECT r.user_id, f.n AS n_events, r.ms AS last_ms,
         |  r.l AS level_scaled, r.b AS trend_scaled,
         |  (r.l + r.b)::BIGINT AS forecast_scaled,
         |  (r.l + r.b)::DOUBLE / (${EwmaScale}::DOUBLE * 100) AS forecast
         |FROM rec r JOIN fin f ON f.user_id = r.user_id AND f.n = r.rn""".stripMargin,

    // the Holt chain with the seasonal LIST carried through the
    // recursive CTE: slot (rn-1)%m read before its update, l'/b'/s'
    // replayed div-for-div, forecast = l + b + s[rn % m]
    "q_holt_winters_stream" -> {
      val m = HwPeriod
      val lExpr = s"($HoltANum * (e.vc * $EwmaScale" +
        s" - r.s[((e.rn - 1) % $m) + 1])" +
        s" + ${HoltADen - HoltANum} * (r.l + r.b)) // $HoltADen"
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, $evMs AS ms, floor(value * 100)::BIGINT AS vc,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY $evMs, event_id) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL),
         |rec AS (
         |  SELECT user_id, rn, ms, vc * $EwmaScale AS l, 0::BIGINT AS b,
         |    [0::BIGINT for i in range(0, $m)] AS s
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.ms,
         |    $lExpr AS l,
         |    ($HoltBNum * (($lExpr) - r.l)
         |      + ${HoltBDen - HoltBNum} * r.b) // $HoltBDen AS b,
         |    [CASE WHEN k = (e.rn - 1) % $m THEN
         |       ($HwGNum * (e.vc * $EwmaScale - ($lExpr))
         |        + ${HwGDen - HwGNum} * r.s[k + 1]) // $HwGDen
         |     ELSE r.s[k + 1] END::BIGINT for k in range(0, $m)] AS s
         |  FROM ev e JOIN rec r ON r.user_id = e.user_id AND e.rn = r.rn + 1),
         |fin AS (SELECT user_id, max(rn) AS n FROM rec GROUP BY 1)
         |SELECT r.user_id, f.n AS n_events, r.ms AS last_ms,
         |  r.l AS level_scaled, r.b AS trend_scaled,
         |  (r.l + r.b + r.s[(r.rn % $m) + 1])::BIGINT AS forecast_scaled,
         |  (r.l + r.b + r.s[(r.rn % $m) + 1])::DOUBLE
         |    / (${EwmaScale}::DOUBLE * 100) AS forecast
         |FROM rec r JOIN fin f ON f.user_id = r.user_id AND f.n = r.rn""".stripMargin
    },

    // the same per-cohort moment sums with a GROUP BY; chains identical
    "q_welch_by_type" ->
      """WITH s AS (SELECT event_type, floor(value * 100)::BIGINT AS c,
        |        user_id % 2 = 0 AS a
        |      FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |t AS (SELECT event_type,
        |        count(CASE WHEN a THEN 1 END)::DOUBLE AS na,
        |        sum(CASE WHEN a THEN c END)::DOUBLE AS sa,
        |        sum(CASE WHEN a THEN c::HUGEINT * c END)::DOUBLE AS ssa,
        |        count(CASE WHEN NOT a THEN 1 END)::DOUBLE AS nb,
        |        sum(CASE WHEN NOT a THEN c END)::DOUBLE AS sb,
        |        sum(CASE WHEN NOT a THEN c::HUGEINT * c END)::DOUBLE AS ssb
        |      FROM s GROUP BY 1),
        |u AS (SELECT *, na * ssa - sa * sa AS va,
        |        nb * ssb - sb * sb AS vb FROM t),
        |v AS (SELECT *, va / (na - 1) / na / na AS sna,
        |        vb / (nb - 1) / nb / nb AS snb FROM u),
        |w AS (SELECT *, sna + snb AS den, sa / na - sb / nb AS d FROM v)
        |SELECT event_type, na::BIGINT AS n_a, nb::BIGINT AS n_b,
        |  CASE WHEN na > 0
        |       THEN floor(sa / na * 1000000) / 1000000 END AS mean_a,
        |  CASE WHEN nb > 0
        |       THEN floor(sb / nb * 1000000) / 1000000 END AS mean_b,
        |  CASE WHEN na > 1 AND nb > 1 AND den > 0
        |       THEN floor(d * d / den * 1000000) / 1000000 END AS t2,
        |  CASE WHEN na > 1 AND nb > 1 AND den > 0
        |       THEN floor(den * den
        |                  / (sna * sna / (na - 1) + snb * snb / (nb - 1))
        |                  * 1000000) / 1000000 END AS df_welch
        |FROM w""".stripMargin,

    // the same exact-integer bin edges; out-of-range scores clamp
    "q_calibration" ->
      """WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
        |        event_type = 'purchase' AS y
        |      FROM events
        |      WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT least(greatest((c - 0) * 10 // 50000, 0), 9) AS bin,
        |        c, y FROM s)
        |SELECT bin, count(*)::BIGINT AS n,
        |  count(CASE WHEN y THEN 1 END)::BIGINT AS n_pos,
        |  floor(sum(c)::DOUBLE / count(*)::DOUBLE * 1000000) / 1000000
        |    AS mean_score,
        |  floor(count(CASE WHEN y THEN 1 END)::DOUBLE / count(*)::DOUBLE
        |        * 1000000) / 1000000 AS pos_rate
        |FROM b GROUP BY 1""".stripMargin,

    // the minimax identity verbatim: pooled interval rates as truncating
    // HUGEINT ppm divs, min over k >= i, max over j <= i
    "q_isotonic" ->
      """WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
        |        event_type = 'purchase' AS y
        |      FROM events
        |      WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT least(greatest((c - 0) * 10 // 50000, 0), 9) AS bin,
        |        y FROM s),
        |bins AS (SELECT bin, count(*)::BIGINT AS n,
        |        count(CASE WHEN y THEN 1 END)::BIGINT AS n_pos
        |      FROM b GROUP BY 1),
        |p AS (SELECT bin, n, n_pos,
        |        sum(n) OVER w::BIGINT AS cn,
        |        sum(n_pos) OVER w::BIGINT AS cp
        |      FROM bins WINDOW w AS (ORDER BY bin ROWS UNBOUNDED PRECEDING)),
        |iv AS (SELECT j.bin AS jb, k.bin AS kb,
        |        (((k.cp - j.cp + j.n_pos)::HUGEINT * 1000000::HUGEINT)
        |         // (k.cn - j.cn + j.n)::HUGEINT)::BIGINT AS m
        |      FROM p j JOIN p k ON j.bin <= k.bin),
        |mn AS (SELECT bb.bin, iv.jb, min(iv.m) AS mn FROM bins bb
        |       JOIN iv ON iv.jb <= bb.bin AND iv.kb >= bb.bin
        |       GROUP BY 1, 2),
        |iso AS (SELECT bin, max(mn)::BIGINT AS iso_ppm FROM mn GROUP BY 1)
        |SELECT bins.bin, bins.n, bins.n_pos,
        |  ((bins.n_pos::HUGEINT * 1000000::HUGEINT)
        |   // bins.n::HUGEINT)::BIGINT AS rate_ppm,
        |  iso.iso_ppm
        |FROM bins JOIN iso USING (bin)""".stripMargin,

    // the same ⌈r·N/n⌉ integer target rank; the rank→value lookup is a
    // plain non-equi join here (DuckDB's planner handles it at oracle
    // scale; the engine side buckets it into rank cells)
    "q_quantile_norm" -> quantileNormOracleSql(withBound = false),
    // checked sketch twin: exact side + guaranteed-TRUE rank verdict
    "q_quantile_norm_approx" -> quantileNormOracleSql(withBound = true),

    // the same rank-weighted cents sums; ties provably order-invariant
    "q_gini_spend" ->
      """WITH t AS (SELECT user_id,
        |        coalesce(sum(floor(value * 100)::BIGINT), 0)::BIGINT AS c
        |      FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, user_id) AS rank
        |      FROM t),
        |a AS (SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT
        |        AS total_cents, sum(rank::HUGEINT * c::HUGEINT) AS rx
        |      FROM r)
        |SELECT n_keys, total_cents,
        |  CASE WHEN n_keys > 0 AND total_cents > 0
        |       THEN floor((2 * rx::DOUBLE
        |                   / (n_keys::HUGEINT * total_cents::HUGEINT)::DOUBLE
        |                   - (n_keys + 1)::DOUBLE / n_keys::DOUBLE)
        |                  * 1000000) / 1000000
        |  END AS gini
        |FROM a""".stripMargin,

    // same digit grid; the expected-share CASE carries the SAME Scala
    // double literals the Column plan uses (shortest-round-trip rendering
    // parses back to identical bits)
    "q_benford" -> {
      // literals go through a STRING cast: DuckDB parses bare numeric
      // literals as DECIMAL first (quantizing the bits), while '…'::DOUBLE
      // is correctly-rounded strtod — the shortest-round-trip guarantee
      val cases = graft.operators.CoreOps.benfordExpected.zipWithIndex
        .map { case (l, i) => s"WHEN ${i + 1} THEN CAST('$l' AS DOUBLE)" }
        .mkString(" ")
      val expCase = s"CASE digit $cases END"
      s"""WITH c AS (SELECT floor(value * 100)::BIGINT AS v FROM events
         |      WHERE value IS NOT NULL AND floor(value * 100)::BIGINT > 0),
         |g AS (SELECT substr(v::VARCHAR, 1, 1)::INT AS digit,
         |        count(*)::BIGINT AS n FROM c GROUP BY 1),
         |t AS (SELECT sum(n)::BIGINT AS tot FROM g)
         |SELECT digit, n,
         |  floor(n::DOUBLE / tot::DOUBLE * 1000000) / 1000000 AS share,
         |  $expCase AS expected,
         |  floor((n::DOUBLE / tot::DOUBLE - $expCase) * 1000000) / 1000000
         |    AS dev
         |FROM g, t""".stripMargin
    },

    // the same (flag, cents) grid, the same integer half-weight rule
    "q_weighted_median" ->
      """WITH b AS (SELECT l_returnflag,
        |        floor(l_extendedprice * 100)::BIGINT AS v,
        |        floor(l_quantity)::BIGINT AS w
        |      FROM lineitem
        |      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
        |g AS (SELECT l_returnflag, v, sum(w)::BIGINT AS w FROM b
        |      GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v,
        |        sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |                     ROWS UNBOUNDED PRECEDING) AS cw,
        |        sum(w) OVER (PARTITION BY l_returnflag) AS tw
        |      FROM g)
        |SELECT l_returnflag, max(tw)::BIGINT AS total_weight,
        |  min(v)::BIGINT AS wmedian
        |FROM c WHERE 2 * cw >= tw GROUP BY 1""".stripMargin,

    // open/close rebuilt as rank-1 rows of the same unique ordering; the
    // sign-safe double-mod floors the bar start exactly like pmod
    "q_ohlc" ->
      """WITH b AS (SELECT event_type, epoch_ms(ts) AS msv, event_id,
        |        floor(value * 100)::BIGINT AS c
        |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |w AS (SELECT *,
        |        (msv - ((msv % 3600000 + 3600000) % 3600000)) AS bar_start_ms,
        |        row_number() OVER (PARTITION BY event_type,
        |            msv - ((msv % 3600000 + 3600000) % 3600000)
        |          ORDER BY msv, event_id) AS ra,
        |        row_number() OVER (PARTITION BY event_type,
        |            msv - ((msv % 3600000 + 3600000) % 3600000)
        |          ORDER BY msv DESC, event_id DESC) AS rd
        |      FROM b)
        |SELECT event_type, bar_start_ms,
        |  max(CASE WHEN ra = 1 THEN c END)::BIGINT AS open,
        |  max(c)::BIGINT AS high, min(c)::BIGINT AS low,
        |  max(CASE WHEN rd = 1 THEN c END)::BIGINT AS close,
        |  count(*)::BIGINT AS n_events, sum(c)::BIGINT AS sum_value
        |FROM w GROUP BY 1, 2""".stripMargin,

    // the same integer gap grid; quantile_cont interpolates at the same
    // (n−1)·p rank, trunc6 on both engines
    "q_event_gaps" ->
      """WITH s AS (SELECT event_type, user_id, epoch_ms(ts) AS msv, event_id
        |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |g AS (SELECT event_type,
        |        msv - lag(msv) OVER (PARTITION BY event_type, user_id
        |                             ORDER BY msv, event_id) AS gap
        |      FROM s)
        |SELECT event_type, count(*)::BIGINT AS n_gaps,
        |  floor(quantile_cont(gap, 0.5) * 1000000) / 1000000 AS p50_ms,
        |  floor(quantile_cont(gap, 0.9) * 1000000) / 1000000 AS p90_ms
        |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin,

    // the same per-key cents totals; squares and T² in HUGEINT
    "q_hhi" ->
      """WITH t AS (SELECT event_type, user_id,
        |        coalesce(sum(floor(value * 100)::BIGINT), 0)::BIGINT AS c
        |      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_keys,
        |        sum(c)::BIGINT AS total_cents,
        |        sum(c::HUGEINT * c::HUGEINT) AS ss
        |      FROM t GROUP BY 1)
        |SELECT event_type, n_keys, total_cents,
        |  CASE WHEN total_cents > 0
        |       THEN floor(ss::DOUBLE
        |             / (total_cents::HUGEINT * total_cents::HUGEINT)::DOUBLE
        |             * 1000000) / 1000000
        |  END AS hhi
        |FROM a""".stripMargin,

    // same cents scan, same (sum − own)/(n − 1)/100 left-assoc pipeline
    "q_target_encode" ->
      """WITH c AS (SELECT event_id, event_type, value,
        |        floor(value * 100)::BIGINT AS cts FROM events),
        |s AS (SELECT event_type, sum(cts)::BIGINT AS sm,
        |        count(*)::BIGINT AS n
        |      FROM c WHERE event_type IS NOT NULL AND cts IS NOT NULL
        |      GROUP BY 1)
        |SELECT event_id, c.event_type, value,
        |  CASE WHEN cts IS NOT NULL AND n > 1
        |       THEN floor((sm - cts)::DOUBLE / (n - 1)::DOUBLE / 100
        |                  * 1000000) / 1000000
        |  END AS te
        |FROM c LEFT JOIN s ON s.event_type = c.event_type""".stripMargin,

    // the same bounded day explosion and distinct count
    "q_rolling_wau" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |        (epoch_ms(ts) // 86400000) AS day
        |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |e AS (SELECT user_id, unnest(range(day, day + 7)) AS day FROM d)
        |SELECT day, count(DISTINCT user_id)::BIGINT AS n_active_trailing
        |FROM e GROUP BY 1""".stripMargin,

    // the same cents-from-scan pipeline and cohort-partitioned cumulative
    "q_ltv" ->
      """WITH ev AS (SELECT user_id, (epoch_ms(ts) // 86400000) AS d,
        |        floor(value * 100)::BIGINT AS c
        |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |f AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY 1),
        |p AS (SELECT cohort, (d - cohort)::BIGINT AS age,
        |        sum(c)::BIGINT AS period_cents
        |      FROM ev JOIN f USING (user_id) GROUP BY 1, 2)
        |SELECT cohort, age, period_cents,
        |  (sum(period_cents) OVER (PARTITION BY cohort ORDER BY age
        |     ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_cents,
        |  (sum(period_cents) OVER (PARTITION BY cohort ORDER BY age
        |     ROWS UNBOUNDED PRECEDING))::DOUBLE / 100 AS cum_value
        |FROM p""".stripMargin,

    // the same count agg under a deterministic (n desc, value asc) pick
    "q_mode" ->
      """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS n
        |      FROM events
        |      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |      GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, n,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |SELECT user_id, event_type, n FROM r WHERE rn = 1""".stripMargin,

    // the same rank selection: k = ceil(p·n) in IEEE doubles both sides,
    // bounds are actual data values, clipping is comparison-only
    "q_winsorize" ->
      """WITH r AS (SELECT doc_id, lang, n_chars,
        |        row_number() OVER (PARTITION BY lang
        |                           ORDER BY n_chars NULLS LAST) AS rn,
        |        count(n_chars) OVER (PARTITION BY lang) AS n
        |      FROM documents WHERE lang IS NOT NULL),
        |b AS (SELECT lang,
        |        max(CASE WHEN rn = CAST(ceil(0.05 * n) AS BIGINT)
        |                 THEN n_chars END) AS lo,
        |        max(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
        |                 THEN n_chars END) AS hi
        |      FROM r GROUP BY 1)
        |SELECT doc_id, r.lang, n_chars,
        |  CASE WHEN n_chars IS NOT NULL
        |       THEN least(greatest(n_chars, lo), hi) END AS nc_w
        |FROM r JOIN b ON b.lang = r.lang""".stripMargin,

    // the same per-group doubled rank-sum via partitioned windows
    "q_auc_by_lang" ->
      """WITH av AS (SELECT lang, n_chars AS v FROM documents
        |      WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
        |        AND lang IS NOT NULL),
        |bv AS (SELECT lang, n_chars AS v FROM documents
        |      WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
        |        AND lang IS NOT NULL),
        |ca AS (SELECT lang, v, count(*)::BIGINT AS ca FROM av GROUP BY 1, 2),
        |cb AS (SELECT lang, v, count(*)::BIGINT AS cb FROM bv GROUP BY 1, 2),
        |m AS (SELECT lang, v, coalesce(ca, 0)::BIGINT AS ca,
        |        coalesce(cb, 0)::BIGINT AS cb
        |      FROM ca FULL OUTER JOIN cb USING (lang, v)),
        |p AS (SELECT lang, ca, cb,
        |        (sum(cb) OVER (PARTITION BY lang ORDER BY v
        |                       ROWS UNBOUNDED PRECEDING) - cb)::BIGINT AS pcb,
        |        sum(ca) OVER (PARTITION BY lang)::BIGINT AS n_a,
        |        sum(cb) OVER (PARTITION BY lang)::BIGINT AS n_b
        |      FROM m)
        |SELECT lang, n_a, n_b,
        |  sum(ca::HUGEINT * (2::HUGEINT * pcb::HUGEINT + cb::HUGEINT))
        |    ::BIGINT AS u2_a,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN floor(sum(ca::HUGEINT * (2::HUGEINT * pcb::HUGEINT
        |                                     + cb::HUGEINT))::DOUBLE
        |                  / (2::HUGEINT * n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
        |                  * 1000000) / 1000000
        |  END AS auc_a
        |FROM p GROUP BY lang, n_a, n_b""".stripMargin,

    // the same per-group cumulative gap via partitioned windows
    "q_ks_by_lang" ->
      """WITH av AS (SELECT lang, n_chars AS v FROM documents
        |      WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
        |        AND lang IS NOT NULL),
        |bv AS (SELECT lang, n_chars AS v FROM documents
        |      WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL
        |        AND lang IS NOT NULL),
        |ca AS (SELECT lang, v, count(*)::BIGINT AS ca FROM av GROUP BY 1, 2),
        |cb AS (SELECT lang, v, count(*)::BIGINT AS cb FROM bv GROUP BY 1, 2),
        |m AS (SELECT lang, v, coalesce(ca, 0)::BIGINT AS ca,
        |        coalesce(cb, 0)::BIGINT AS cb
        |      FROM ca FULL OUTER JOIN cb USING (lang, v)),
        |p AS (SELECT lang,
        |        sum(ca) OVER (PARTITION BY lang ORDER BY v
        |                      ROWS UNBOUNDED PRECEDING)::BIGINT AS cca,
        |        sum(cb) OVER (PARTITION BY lang ORDER BY v
        |                      ROWS UNBOUNDED PRECEDING)::BIGINT AS ccb,
        |        sum(ca) OVER (PARTITION BY lang)::BIGINT AS n_a,
        |        sum(cb) OVER (PARTITION BY lang)::BIGINT AS n_b
        |      FROM m)
        |SELECT lang, n_a, n_b,
        |  max(abs(cca::HUGEINT * n_b::HUGEINT
        |          - ccb::HUGEINT * n_a::HUGEINT))::BIGINT AS d_num,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN floor(max(abs(cca::HUGEINT * n_b::HUGEINT
        |                          - ccb::HUGEINT * n_a::HUGEINT))::DOUBLE
        |                  / (n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
        |                  * 1000000) / 1000000
        |  END AS ks
        |FROM p GROUP BY lang, n_a, n_b""".stripMargin,

    // the same cumulative-count gap maximized over the distinct-value
    // grid; max needs no summation-order care at all
    "q_ks_shift" ->
      """WITH av AS (SELECT floor(value * 100)::BIGINT AS v FROM events
        |      WHERE user_id % 2 = 0 AND value IS NOT NULL),
        |bv AS (SELECT floor(value * 100)::BIGINT AS v FROM events
        |      WHERE user_id % 2 = 1 AND value IS NOT NULL),
        |ca AS (SELECT v, count(*)::BIGINT AS ca FROM av GROUP BY 1),
        |cb AS (SELECT v, count(*)::BIGINT AS cb FROM bv GROUP BY 1),
        |m AS (SELECT v, coalesce(ca, 0)::BIGINT AS ca,
        |        coalesce(cb, 0)::BIGINT AS cb
        |      FROM ca FULL OUTER JOIN cb USING (v)),
        |p AS (SELECT sum(ca) OVER w::BIGINT AS cca,
        |        sum(cb) OVER w::BIGINT AS ccb
        |      FROM m WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT coalesce(sum(ca), 0)::BIGINT AS n_a,
        |        coalesce(sum(cb), 0)::BIGINT AS n_b FROM m),
        |d AS (SELECT max(abs(cca::HUGEINT * n_b::HUGEINT
        |                     - ccb::HUGEINT * n_a::HUGEINT)) AS dmax
        |      FROM p CROSS JOIN t)
        |SELECT n_a, n_b, dmax::BIGINT AS d_num,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN floor(dmax::DOUBLE
        |                  / (n_a::HUGEINT * n_b::HUGEINT)::DOUBLE
        |                  * 1000000) / 1000000
        |  END AS ks
        |FROM t CROSS JOIN d""".stripMargin,

    // the same lead-window step weights: cents-exact v·Δt sums, exact
    // integer span, one trunc6'd division
    "q_twap" ->
      s"""WITH x AS (SELECT user_id, $evMs AS msv, event_id,
         |        CAST(value AS DECIMAL(18,2)) AS v
         |      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
         |d AS (SELECT user_id, msv, v,
         |        lead(msv) OVER (PARTITION BY user_id
         |                        ORDER BY msv, event_id) - msv AS dt
         |      FROM x)
         |SELECT user_id, count(*)::BIGINT AS n_samples,
         |  (max(msv) - min(msv))::BIGINT AS span_ms,
         |  CASE WHEN max(msv) > min(msv)
         |       THEN floor(sum(v * dt)::DOUBLE
         |                  / (max(msv) - min(msv))::DOUBLE * 1000000) / 1000000
         |  END AS twap
         |FROM d GROUP BY 1""".stripMargin,

    // identical md5-band arithmetic as Sampling.kfoldAssign
    "q_kfold" ->
      s"""SELECT doc_id,
         |  ${sqlMd5Int(s"(doc_id::VARCHAR || '$KfoldSalt')")} % $KfoldK AS fold
         |FROM documents""".stripMargin,

    // grouped extremes joined back; one trunc6'd division per row
    "q_minmax_norm" ->
      """WITH m AS (SELECT lang, min(n_chars) AS mn, max(n_chars) AS mx
        |           FROM documents GROUP BY 1)
        |SELECT doc_id, d.lang, n_chars,
        |  CASE WHEN mx > mn
        |       THEN floor((n_chars - mn)::DOUBLE / (mx - mn)::DOUBLE
        |                  * 1000000) / 1000000
        |  END AS nc_norm
        |FROM documents d JOIN m ON m.lang = d.lang""".stripMargin,

    // the q_sessionize skeleton feeding the q_basket_lift pipeline:
    // baskets are (user, session) composites
    "q_session_lift" ->
      s"""WITH x AS (SELECT user_id, event_type, event_id, $evMs AS ms,
         |        lag($evMs) OVER (PARTITION BY user_id
         |                         ORDER BY $evMs, event_id) AS prev
         |      FROM events WHERE ts IS NOT NULL),
         |s AS (SELECT user_id, event_type,
         |        (sum(CASE WHEN prev IS NULL OR ms - prev > $D
         |                  THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ms, event_id
         |                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
         |      FROM x),
         |items AS (SELECT DISTINCT user_id || ':' || session_seq AS bk,
         |        event_type AS it
         |      FROM s WHERE event_type IS NOT NULL),
         |kept AS (SELECT i.bk, i.it FROM items i JOIN (
         |    SELECT bk FROM items GROUP BY bk
         |    HAVING count(*) <= $SessLiftMaxTypes) z USING (bk)),
         |tot AS (SELECT count(DISTINCT bk)::BIGINT AS n_baskets FROM kept),
         |freq AS (SELECT it, count(*)::BIGINT AS n FROM kept GROUP BY 1),
         |pairs AS (SELECT a.it AS item_a, b.it AS item_b,
         |        count(*)::BIGINT AS n_ab
         |      FROM kept a JOIN kept b USING (bk) WHERE a.it < b.it
         |      GROUP BY 1, 2 HAVING count(*) >= $LiftSupport)
         |SELECT item_a, item_b, n_ab, fa.n AS n_a, fb.n AS n_b, n_baskets,
         |  floor((n_ab * n_baskets)::DOUBLE / (fa.n * fb.n)::DOUBLE
         |        * 1000000) / 1000000 AS lift
         |FROM pairs
         |JOIN freq fa ON fa.it = item_a
         |JOIN freq fb ON fb.it = item_b
         |CROSS JOIN tot""".stripMargin,

    // brute-force window twin: strict-later and peer-inclusive suffix
    // maxima via RANGE frames in descending ms
    "q_skyline" ->
      """WITH p AS (SELECT event_id, epoch_ms(ts) AS ms, value FROM events
        |           WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m AS (SELECT event_id, ms, value,
        |        max(value) OVER (ORDER BY ms DESC
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sm,
        |        max(value) OVER (ORDER BY ms DESC
        |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS im
        |      FROM p)
        |SELECT event_id, ms, value FROM m
        |WHERE NOT (im > value) AND (sm IS NULL OR sm < value)""".stripMargin,

    // the same island construction: running max end, island breaks, then
    // per-island extents rolled up per key
    "q_coverage" ->
      s"""WITH iv AS (SELECT o_custkey, epoch_ms(o_orderdate) AS s,
         |        epoch_ms(o_orderdate) + ${30L * D} AS e FROM orders),
         |w AS (SELECT o_custkey, s, e,
         |        max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |      FROM iv),
         |isl AS (SELECT o_custkey, s, e,
         |        sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY o_custkey ORDER BY s, e
         |                ROWS UNBOUNDED PRECEDING) AS island
         |      FROM w),
         |g AS (SELECT o_custkey, island, count(*)::BIGINT AS cnt,
         |        (max(e) - min(s))::BIGINT AS len
         |      FROM isl GROUP BY 1, 2)
         |SELECT o_custkey, sum(cnt)::BIGINT AS n_intervals,
         |  count(*)::BIGINT AS n_islands, sum(len)::BIGINT AS covered
         |FROM g GROUP BY 1""".stripMargin,

    // the q_sessionize skeleton + a row_number=1 session-first pick
    "q_attribution" ->
      s"""WITH x AS (SELECT event_id, user_id, event_type, $evMs AS ms,
         |        lag($evMs) OVER (PARTITION BY user_id
         |                         ORDER BY $evMs, event_id) AS prev
         |      FROM events WHERE ts IS NOT NULL),
         |s AS (SELECT event_id, user_id, event_type, ms,
         |        (sum(CASE WHEN prev IS NULL OR ms - prev > $D
         |                  THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY user_id ORDER BY ms, event_id
         |                 ROWS UNBOUNDED PRECEDING))::BIGINT AS session_seq
         |      FROM x),
         |f AS (SELECT user_id, session_seq, first_touch, first_ms FROM (
         |        SELECT user_id, session_seq, event_type AS first_touch,
         |          ms AS first_ms,
         |          row_number() OVER (PARTITION BY user_id, session_seq
         |                             ORDER BY ms, event_id) AS rn
         |        FROM s) r WHERE rn = 1)
         |SELECT c.user_id, c.event_id, c.session_seq, c.ms AS conv_ms,
         |  f.first_touch, f.first_ms, c.ms - f.first_ms AS time_to_convert_ms
         |FROM s c JOIN f ON f.user_id = c.user_id
         |  AND f.session_seq = c.session_seq
         |WHERE c.event_type = 'purchase'""".stripMargin,

    // integer grain arithmetic end to end; one trunc6'd division
    "q_retention" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day
        |           FROM events WHERE ts IS NOT NULL),
        |f AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, cohort, day - cohort AS day_offset
        |      FROM e JOIN f USING (user_id)),
        |s AS (SELECT cohort, count(*)::BIGINT AS n_cohort FROM f GROUP BY 1),
        |r AS (SELECT cohort, day_offset, count(*)::BIGINT AS n_active
        |      FROM a GROUP BY 1, 2)
        |SELECT r.cohort, r.day_offset, n_active, n_cohort,
        |  floor(n_active::DOUBLE / n_cohort::DOUBLE * 1000000) / 1000000
        |    AS retention
        |FROM r JOIN s USING (cohort)""".stripMargin,

    // the same quantized-log survival walk: qlog prefix sums per cohort,
    // one floor-quantized exp per death step; `//` on the >= 0 days ≡
    // the Spark side's floor division
    "q_survival" -> survivalOracleSql,
    "q_nelson_aalen" -> nelsonAalenOracleSql,

    // per-arm KM curves (the q_survival chain keyed by arm), then the
    // exact integer step-function area through day tau
    "q_rmst" ->
      s"""WITH ev AS (SELECT user_id, $evMs // 86400000 AS day FROM events
         |            WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |u AS (SELECT user_id, min(day) AS f, max(day) AS l
         |      FROM ev GROUP BY 1),
         |m AS (SELECT max(l)::BIGINT AS mx FROM u),
         |w AS (SELECT user_id % 2 = 0 AS a, (l - f)::BIGINT AS dur,
         |        CASE WHEN l <= (SELECT mx FROM m) - $KmGapDays
         |             THEN 1 ELSE 0 END AS death
         |      FROM u),
         |s AS (SELECT a, dur, sum(death)::BIGINT AS d,
         |        count(*)::BIGINT AS uu FROM w GROUP BY 1, 2),
         |r AS (SELECT a, dur, d, uu,
         |        sum(uu) OVER (PARTITION BY a)::BIGINT
         |        - COALESCE(sum(uu) OVER (PARTITION BY a ORDER BY dur
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0)::BIGINT AS nr
         |      FROM s),
         |p AS (SELECT a, dur, d, nr,
         |        sum(CASE WHEN d > 0 AND nr > d
         |              THEN floor(ln((nr - d)::DOUBLE) * 1000000)::BIGINT
         |                 - floor(ln(nr::DOUBLE) * 1000000)::BIGINT
         |              ELSE 0 END)
         |          OVER (PARTITION BY a ORDER BY dur
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         |          )::BIGINT AS ls,
         |        min(CASE WHEN d > 0 THEN nr - d END)
         |          OVER (PARTITION BY a ORDER BY dur
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         |          )::BIGINT AS alive
         |      FROM r),
         |c AS (SELECT a, dur,
         |        CASE WHEN alive = 0 THEN 0
         |             ELSE floor(exp(ls::DOUBLE / 1000000)
         |                        * 1000000)::BIGINT END AS sv,
         |        COALESCE(lead(dur, 1) OVER (PARTITION BY a ORDER BY dur),
         |          $RmstTau) AS nx
         |      FROM p WHERE d > 0),
         |ar AS (SELECT a,
         |        (least(min(dur), $RmstTau) * 1000000
         |         + sum((least(nx, $RmstTau) - least(dur, $RmstTau))
         |               * sv))::BIGINT AS area
         |      FROM c GROUP BY 1),
         |tt AS (SELECT a, count(*)::BIGINT AS n FROM w GROUP BY 1),
         |bo AS (SELECT tt.a, tt.n,
         |        COALESCE(ar.area, $RmstTau * 1000000)::BIGINT AS area
         |      FROM tt LEFT JOIN ar USING (a))
         |SELECT x.n AS n_a, y.n AS n_b, x.area AS rmst_a_scaled,
         |  y.area AS rmst_b_scaled,
         |  (x.area - y.area)::BIGINT AS diff_scaled
         |FROM (SELECT * FROM bo WHERE a) x,
         |     (SELECT * FROM bo WHERE NOT a) y""".stripMargin,

    // the KM lifetime construction verbatim, pooled death-time grid, O−E
    // and hypergeometric V as HUGEINT ppm truncating divs
    "q_logrank" ->
      s"""WITH ev AS (SELECT user_id, $evMs // 86400000 AS day FROM events
         |            WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         |u AS (SELECT user_id, min(day) AS f, max(day) AS l
         |      FROM ev GROUP BY 1),
         |m AS (SELECT max(l)::BIGINT AS mx FROM u),
         |w AS (SELECT user_id % 2 = 0 AS a, (l - f)::BIGINT AS dur,
         |        CASE WHEN l <= (SELECT mx FROM m) - $KmGapDays
         |             THEN 1 ELSE 0 END AS death
         |      FROM u),
         |s AS (SELECT dur,
         |        sum(CASE WHEN a THEN 1 ELSE 0 END)::BIGINT AS ua,
         |        sum(CASE WHEN NOT a THEN 1 ELSE 0 END)::BIGINT AS ub,
         |        sum(CASE WHEN a AND death = 1 THEN 1 ELSE 0 END)::BIGINT
         |          AS da,
         |        sum(CASE WHEN NOT a AND death = 1 THEN 1 ELSE 0 END
         |          )::BIGINT AS db
         |      FROM w GROUP BY 1),
         |t AS (SELECT sum(ua)::BIGINT AS n_a, sum(ub)::BIGINT AS n_b
         |      FROM s),
         |c AS (SELECT *,
         |        sum(ua) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING
         |          )::BIGINT AS ca,
         |        sum(ub) OVER (ORDER BY dur ROWS UNBOUNDED PRECEDING
         |          )::BIGINT AS cb
         |      FROM s),
         |r AS (SELECT da, db, da + db AS dt,
         |        (SELECT n_a FROM t) - (ca - ua) AS ra,
         |        (SELECT n_b FROM t) - (cb - ub) AS rb
         |      FROM c),
         |x AS (SELECT da, db, dt, ra, rb, ra + rb AS rt FROM r
         |      WHERE dt > 0),
         |ag AS (SELECT count(*)::BIGINT AS n_death_times,
         |        sum(da::HUGEINT * 1000000::HUGEINT
         |          - (dt::HUGEINT * ra::HUGEINT * 1000000::HUGEINT)
         |            // rt::HUGEINT)::HUGEINT AS oe,
         |        sum(CASE WHEN rt > 1 THEN
         |            (dt::HUGEINT * ra::HUGEINT * rb::HUGEINT
         |             * (rt - dt)::HUGEINT * 1000000::HUGEINT)
         |            // (rt::HUGEINT * rt::HUGEINT * (rt - 1)::HUGEINT)
         |          ELSE 0::HUGEINT END)::HUGEINT AS v
         |      FROM x)
         |SELECT t.n_a, t.n_b, ag.n_death_times,
         |  ag.oe::BIGINT AS oe_sum_ppm, ag.v::BIGINT AS var_sum_ppm,
         |  CASE WHEN ag.v > 0
         |       THEN ((ag.oe * ag.oe) // ag.v)::BIGINT
         |  END AS logrank_ppm
         |FROM t, ag""".stripMargin,

    // per-user cents totals → per-value counts/sums → two window
    // cumulatives → trunc6'd shares against the totals
    "q_lorenz" ->
      """WITH pu AS (SELECT user_id,
        |        coalesce(sum(floor(value * 100)::BIGINT), 0)::BIGINT
        |          AS cents
        |      FROM events
        |      WHERE user_id IS NOT NULL AND value IS NOT NULL
        |      GROUP BY 1),
        |bv AS (SELECT cents AS v, count(*)::BIGINT AS n,
        |        sum(cents)::BIGINT AS s
        |      FROM pu GROUP BY 1),
        |c AS (SELECT v, n,
        |        sum(n) OVER w::BIGINT AS cum_entities,
        |        sum(s) OVER w::BIGINT AS cum_value
        |      FROM bv WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT coalesce(sum(n), 0)::BIGINT AS tn,
        |        coalesce(sum(s), 0)::BIGINT AS ts FROM bv)
        |SELECT c.v AS cents, c.n AS n_entities, cum_entities, cum_value,
        |  floor(cum_entities::DOUBLE / tn * 1000000) / 1000000
        |    AS pop_share,
        |  CASE WHEN ts > 0 THEN
        |    floor(cum_value::DOUBLE / ts * 1000000) / 1000000
        |  END AS value_share
        |FROM c, t""".stripMargin,
    // the p10-churn lifetime: first step where survival dips under 0.9
    "q_km_quantile" ->
      s"""WITH base AS (${survivalOracleSql})
         |SELECT cohort_day, min(dur_days)::BIGINT AS lifetime_days
         |FROM base WHERE survival <= 0.9
         |GROUP BY 1""".stripMargin,

    "q_regression" ->
      s"""WITH t AS (SELECT lang, n_chars, len($toksSql)::BIGINT AS n_tokens
         |           FROM documents),
         |s AS (SELECT lang, count(*)::DOUBLE AS n,
         |        sum(n_chars)::DOUBLE AS sx, sum(n_tokens)::DOUBLE AS sy,
         |        sum(n_chars * n_tokens)::DOUBLE AS sxy,
         |        sum(n_chars * n_chars)::DOUBLE AS sxx
         |      FROM t
         |      WHERE n_chars IS NOT NULL AND n_tokens IS NOT NULL
         |      GROUP BY 1)
         |SELECT lang, n::BIGINT AS n,
         |  CASE WHEN (n * sxx - sx * sx) > 0
         |       THEN floor(((n * sxy - sx * sy) / (n * sxx - sx * sx))
         |                  * 1000000) / 1000000
         |  END AS slope,
         |  CASE WHEN (n * sxx - sx * sx) > 0
         |       THEN floor(((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
         |                  * 1000000) / 1000000
         |  END AS intercept
         |FROM s""".stripMargin,

    // the same nine exact moments; Cramer determinants expanded in the
    // IDENTICAL operand order as the Column chain
    "q_regression2" ->
      """WITH s AS (SELECT l_returnflag AS g,
        |        floor(l_extendedprice * 100)::BIGINT AS yv,
        |        floor(l_quantity)::BIGINT AS x1,
        |        floor(l_discount * 100)::BIGINT AS x2
        |      FROM lineitem
        |      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        |        AND l_discount IS NOT NULL),
        |m AS (SELECT g, count(*)::DOUBLE AS n,
        |        sum(x1)::DOUBLE AS s1, sum(x2)::DOUBLE AS s2,
        |        sum(yv)::DOUBLE AS sy,
        |        sum(x1::HUGEINT * x1)::DOUBLE AS s11,
        |        sum(x1::HUGEINT * x2)::DOUBLE AS s12,
        |        sum(x2::HUGEINT * x2)::DOUBLE AS s22,
        |        sum(x1::HUGEINT * yv)::DOUBLE AS s1y,
        |        sum(x2::HUGEINT * yv)::DOUBLE AS s2y,
        |        sum(yv::HUGEINT * yv)::DOUBLE AS syy
        |      FROM s GROUP BY 1),
        |d AS (SELECT *,
        |        n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |          + s2 * (s1 * s12 - s11 * s2) AS dd,
        |        sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |          + s2 * (s1y * s12 - s11 * s2y) AS d0,
        |        n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |          + s2 * (s1 * s2y - s1y * s2) AS d1,
        |        n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |          + sy * (s1 * s12 - s11 * s2) AS d2
        |      FROM m),
        |b AS (SELECT *, d0 / dd AS b0, d1 / dd AS b1, d2 / dd AS b2,
        |        syy - sy * sy / n AS sst FROM d)
        |SELECT g AS l_returnflag, n::BIGINT AS n,
        |  CASE WHEN dd > 0 THEN floor(b0 * 1000000) / 1000000 END AS b0,
        |  CASE WHEN dd > 0 THEN floor(b1 * 1000000) / 1000000 END AS b1,
        |  CASE WHEN dd > 0 THEN floor(b2 * 1000000) / 1000000 END AS b2,
        |  CASE WHEN dd > 0 AND sst > 0
        |       THEN floor((1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
        |                         / sst) * 1000000) / 1000000
        |  END AS r2
        |FROM b""".stripMargin,

    "q_ntile" ->
      """SELECT doc_id, lang, n_chars,
        |  ntile(10) OVER (PARTITION BY lang
        |                  ORDER BY n_chars, doc_id)::BIGINT AS decile
        |FROM documents""".stripMargin,

    "q_heavy_hitters" -> {
      // rebuild the d×w counter table cell-for-cell: same md5 cell hash,
      // same counts, same min-over-rows probe as CmsAggregate/cmsMin
      val cellOf = (k: String) => s"${sqlMd5Int(s"(r.i::VARCHAR || ':' || $k)")} % $CmsW"
      s"""WITH rows_ AS (SELECT unnest(range(0, $CmsD)) AS i),
         |cells AS (SELECT r.i, ${cellOf("e.event_type")} AS cell
         |          FROM events e CROSS JOIN rows_ r),
         |counts AS (SELECT i, cell, count(*)::BIGINT AS cnt
         |           FROM cells GROUP BY 1, 2),
         |probe AS (SELECT DISTINCT k.event_type, r.i, ${cellOf("k.event_type")} AS cell
         |          FROM (SELECT DISTINCT event_type FROM events
         |                WHERE event_type IS NOT NULL) k
         |          CROSS JOIN rows_ r)
         |SELECT p.event_type, min(c.cnt) AS est_count
         |FROM probe p JOIN counts c ON p.i = c.i AND p.cell = c.cell
         |GROUP BY p.event_type""".stripMargin
    },

    "q_heavy_hitters_hot" -> {
      // same cell-for-cell CMS rebuild over user_id, probed by the exact
      // top-N candidate set (count-desc, key tiebreak — keyProfile's order)
      val cellOf = (k: String) => s"${sqlMd5Int(s"(r.i::VARCHAR || ':' || $k)")} % $CmsW"
      s"""WITH rows_ AS (SELECT unnest(range(0, $CmsD)) AS i),
         |cells AS (SELECT r.i, ${cellOf("e.user_id")} AS cell
         |          FROM events e CROSS JOIN rows_ r
         |          WHERE e.user_id IS NOT NULL),
         |counts AS (SELECT i, cell, count(*)::BIGINT AS cnt
         |           FROM cells GROUP BY 1, 2),
         |cand AS (SELECT user_id, count(*)::BIGINT AS n_events FROM events
         |         WHERE user_id IS NOT NULL
         |         GROUP BY 1 ORDER BY n_events DESC, user_id LIMIT $HotKeyTopN),
         |probe AS (SELECT c.user_id, c.n_events, r.i,
         |                 ${cellOf("c.user_id")} AS cell
         |          FROM cand c CROSS JOIN rows_ r)
         |SELECT p.user_id, p.n_events, min(ct.cnt) AS est_count
         |FROM probe p JOIN counts ct ON p.i = ct.i AND p.cell = ct.cell
         |GROUP BY p.user_id, p.n_events""".stripMargin
    },

    "q_user_journey" ->
      s"""WITH r AS (SELECT user_id, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY epoch_ms(ts), event_id) AS rn
         |      FROM events)
         |SELECT user_id, count(*) AS n_events,
         |  array_to_string(list(event_type ORDER BY rn), '>') AS journey
         |FROM r WHERE rn <= $JourneyMax GROUP BY user_id""".stripMargin,

    // the same journey string through the regex-common core (Java regex on
    // the Spark side, RE2 here — identical on this subset)
    "q_journey_pattern" ->
      s"""WITH r AS (SELECT user_id, event_type,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY epoch_ms(ts), event_id) AS rn
         |      FROM events),
         |j AS (SELECT user_id, count(*) AS n_events,
         |        array_to_string(list(event_type ORDER BY rn), '>') AS journey
         |      FROM r WHERE rn <= $JourneyMax GROUP BY user_id)
         |SELECT user_id, n_events, journey,
         |  regexp_matches(journey, 'view.*purchase') AS matched
         |FROM j""".stripMargin,

    // the same island trick: day − row_number constant per consecutive run
    "q_streaks" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |        (epoch_ms(ts) // 86400000) AS day
        |      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
        |i AS (SELECT user_id, day,
        |        day - row_number() OVER (PARTITION BY user_id ORDER BY day)
        |          AS isl
        |      FROM d),
        |runs AS (SELECT user_id, isl, count(*)::BIGINT AS len
        |      FROM i GROUP BY 1, 2)
        |SELECT user_id, sum(len)::BIGINT AS n_active_days,
        |  count(*)::BIGINT AS n_streaks, max(len)::BIGINT AS longest_streak
        |FROM runs GROUP BY 1""".stripMargin,

    // island runs minus each user's still-open final island — shared by
    // the batch form and the streaming state machine in batch mode
    "q_streak_ends" -> streakEndsOracle,
    "q_streak_ends_stream" -> streakEndsOracle,

    // json_valid guard: Spark's get_json_object returns NULL on malformed
    // JSON where DuckDB's json_extract_string raises — the guard gives the
    // oracle the same NULL-on-bad-row semantics instead of a crash
    "q_json_extract" ->
      """SELECT CAST(CASE WHEN json_valid(props)
        |            THEN json_extract_string(props, '$.k') END AS BIGINT)
        |    % 10 AS k_mod,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1""".stripMargin,

    "q_bigram_lm" ->
      s"""WITH nrm AS (SELECT $normSql AS nt FROM documents),
         |tk AS (SELECT list_filter(regexp_split_to_array(nt, '\\s+'), x -> x <> '') AS toks FROM nrm),
         |g AS (SELECT unnest([array_to_string(list_slice(toks, i+1, i+2), ' ')
         |                     for i in range(0, len(toks)-2+1)]) AS gram
         |      FROM tk WHERE len(toks) >= 2),
         |c AS (SELECT gram, COUNT(*)::BIGINT AS n_gram FROM g GROUP BY 1),
         |p AS (SELECT gram, n_gram,
         |        (sum(n_gram) OVER (PARTITION BY split_part(gram, ' ', 1)))::BIGINT AS n_prefix
         |      FROM c)
         |SELECT gram, n_gram, n_prefix,
         |  floor((n_gram::DOUBLE / n_prefix::DOUBLE) * 1000000) / 1000000 AS p
         |FROM p ORDER BY n_gram DESC, gram LIMIT 100""".stripMargin,

    // the NULL-carrying left-join chain, then the identical Wilson
    // double chain (z literals, never z·z) trunc6'd
    "q_funnel_ci" ->
      s"""WITH s0 AS (SELECT user_id, min($evMs) AS t0 FROM events
         |            WHERE event_type = 'view' GROUP BY 1),
         |s1 AS (SELECT s0.user_id, s0.t0,
         |         min(CASE WHEN e.ms > s0.t0 THEN e.ms END) AS t1
         |       FROM s0 LEFT JOIN (SELECT user_id, $evMs AS ms FROM events
         |                          WHERE event_type = 'click') e
         |         USING (user_id)
         |       GROUP BY 1, 2),
         |s2 AS (SELECT s1.user_id, s1.t0, s1.t1,
         |         min(CASE WHEN e.ms > s1.t1 THEN e.ms END) AS t2
         |       FROM s1 LEFT JOIN (SELECT user_id, $evMs AS ms FROM events
         |                          WHERE event_type = 'purchase') e
         |         USING (user_id)
         |       GROUP BY 1, 2, 3),
         |c AS (SELECT count(t0)::BIGINT AS n0, count(t1)::BIGINT AS n1,
         |        count(t2)::BIGINT AS n2 FROM s2),
         |t AS (SELECT CAST(1 AS BIGINT) AS stage, n0 AS n_prev,
         |        n1 AS n_reached FROM c
         |      UNION ALL SELECT CAST(2 AS BIGINT), n1, n2 FROM c),
         |w AS (SELECT stage, n_prev, n_reached, n_prev::DOUBLE AS n,
         |        CASE WHEN n_prev > 0
         |             THEN n_reached::DOUBLE / n_prev::DOUBLE END AS p
         |      FROM t),
         |f AS (SELECT stage, n_prev, n_reached, p,
         |        (p + 3.8416 / (2 * n)) / (1 + 3.8416 / n) AS center,
         |        (1.96 / (1 + 3.8416 / n))
         |          * sqrt(p * (1 - p) / n + 3.8416 / (4 * n * n)) AS half
         |      FROM w)
         |SELECT stage, n_prev, n_reached,
         |  floor(p * 1000000) / 1000000 AS rate,
         |  floor((center - half) * 1000000) / 1000000 AS ci_low,
         |  floor((center + half) * 1000000) / 1000000 AS ci_high
         |FROM f""".stripMargin,

    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, v.t0, min(epoch_ms(e.ts)) AS t1
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.t0
        |      GROUP BY e.user_id, v.t0)
        |SELECT e.user_id, c.t0, c.t1, min(epoch_ms(e.ts)) AS t2
        |FROM events e JOIN c ON e.user_id = c.user_id
        |WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t1
        |GROUP BY e.user_id, c.t0, c.t1""".stripMargin,

    // the same greedy chain with the 24h per-stage deadline on each hop;
    // the batch join-chain and the state machine must both emit it
    "q_funnel_timed" -> funnelTimedOracle,
    "q_funnel_timed_stream" -> funnelTimedOracle,

    "q_funnel_stream" ->
      """WITH v AS (SELECT user_id, min(epoch_ms(ts)) AS t0 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, v.t0, min(epoch_ms(e.ts)) AS t1
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND epoch_ms(e.ts) > v.t0
        |      GROUP BY e.user_id, v.t0)
        |SELECT e.user_id, c.t0, c.t1, min(epoch_ms(e.ts)) AS t2
        |FROM events e JOIN c ON e.user_id = c.user_id
        |WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) > c.t1
        |GROUP BY e.user_id, c.t0, c.t1""".stripMargin,

    "q_pivot" ->
      """SELECT user_id,
        |  COUNT(*) FILTER (event_type = 'click') AS click,
        |  COUNT(*) FILTER (event_type = 'error') AS error,
        |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |  COUNT(*) FILTER (event_type = 'signup') AS signup,
        |  COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag)::BIGINT AS g_flag,
        |  GROUPING(l_linestatus)::BIGINT AS g_status,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_rolling_features" ->
      """SELECT event_id, user_id,
        |  count(*) OVER w1 AS cnt_3600s,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w1 AS DOUBLE) AS sum_3600s,
        |  count(*) OVER w2 AS cnt_86400s,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w2 AS DOUBLE) AS sum_86400s
        |FROM events
        |WINDOW w1 AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |              RANGE BETWEEN 3599999 PRECEDING AND CURRENT ROW),
        |       w2 AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
        |              RANGE BETWEEN 86399999 PRECEDING AND CURRENT ROW)""".stripMargin,

    // both unigram LMs in one count pass; per-token weight = the klDrift
    // term sans multiplication; per-doc sums exact int64
    "q_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, source = 'src0' AS tgt,
         |             unnest($toksSql) AS tok
         |           FROM documents),
         |c AS (SELECT tok,
         |        sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct,
         |        sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS cr
         |      FROM t GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS k, sum(ct)::BIGINT AS tt,
         |          sum(cr)::BIGINT AS tr FROM c),
         |w AS (SELECT tok,
         |        floor(ln(((ct + 1) * (tr + k))::DOUBLE) * 1000000)::BIGINT
         |        - floor(ln(((cr + 1) * (tt + k))::DOUBLE) * 1000000)::BIGINT
         |          AS w
         |      FROM c CROSS JOIN tot)
         |SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         |  sum(w.w)::BIGINT AS llr_scaled,
         |  sum(w.w)::BIGINT::DOUBLE / (count(*)::DOUBLE * 1000000)
         |    AS llr_per_token
         |FROM t JOIN w ON t.tok = w.tok WHERE NOT t.tgt
         |GROUP BY 1""".stripMargin,

    // the q_dsir_weights chain + the q_token_budget cumsum in LLR-density
    // order (floor at the 1e-6 grid, doc_id tiebreak)
    "q_dsir_keep" ->
      s"""WITH t AS (SELECT doc_id, source = 'src0' AS tgt,
         |             unnest($toksSql) AS tok
         |           FROM documents),
         |c AS (SELECT tok,
         |        sum(CASE WHEN tgt THEN 1 ELSE 0 END)::BIGINT AS ct,
         |        sum(CASE WHEN tgt THEN 0 ELSE 1 END)::BIGINT AS cr
         |      FROM t GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS k, sum(ct)::BIGINT AS tt,
         |          sum(cr)::BIGINT AS tr FROM c),
         |w AS (SELECT tok,
         |        floor(ln(((ct + 1) * (tr + k))::DOUBLE) * 1000000)::BIGINT
         |        - floor(ln(((cr + 1) * (tt + k))::DOUBLE) * 1000000)::BIGINT
         |          AS w
         |      FROM c CROSS JOIN tot),
         |d AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
         |        sum(w.w)::BIGINT::DOUBLE / (count(*)::DOUBLE * 1000000)
         |          AS lpt
         |      FROM t JOIN w ON t.tok = w.tok WHERE NOT t.tgt
         |      GROUP BY 1),
         |o AS (SELECT doc_id, n_tokens,
         |        SUM(n_tokens) OVER (ORDER BY -floor(lpt * 1000000), doc_id
         |          ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens FROM d)
         |SELECT doc_id, n_tokens, cum_tokens FROM o
         |WHERE cum_tokens <= 5000""".stripMargin,

    "q_curate" ->
      s"""WITH t AS (SELECT doc_id, text, $toksSql AS toksv FROM documents),
         |cq AS (SELECT doc_id, len(toksv) AS n_tokens,
         |        CASE WHEN len(toksv) > 0
         |             THEN floor(len(list_filter(toksv, x -> x IN ${inList(stopEn)}))::DOUBLE
         |                        / len(toksv) * 1000000) / 1000000
         |             ELSE 0.0 END AS stopword_ratio FROM t),
         |lt AS (SELECT doc_id,
         |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS toks
         |      FROM documents),
         |h AS (SELECT doc_id,
         |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
         |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
         |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
         |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
         |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
         |      FROM lt),
         |cl AS (SELECT doc_id,
         |  CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr' WHEN h_es = m THEN 'es'
         |       WHEN h_en = m THEN 'en' ELSE 'de' END AS lang_pred
         |  FROM (SELECT *, GREATEST(h_en, h_de, h_fr, h_es, h_zh) AS m FROM h)),
         |canon AS (SELECT MIN(doc_id) AS doc_id
         |          FROM (SELECT doc_id, md5($normSql) AS fp FROM documents) GROUP BY fp)
         |SELECT c.doc_id, cq.n_tokens
         |FROM canon c JOIN cq ON c.doc_id = cq.doc_id JOIN cl ON c.doc_id = cl.doc_id
         |WHERE cl.lang_pred = 'en' AND cq.n_tokens BETWEEN 20 AND 80
         |  AND cq.stopword_ratio >= 0.02""".stripMargin,

    "q_key_profile" ->
      """SELECT user_id, COUNT(*) AS n_events FROM events
        |GROUP BY 1 ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin,

    "q_quantile_profile" ->
      """SELECT event_type, COUNT(*) AS n,
        |  floor(quantile_cont(value, 0.5)*1000000)/1000000 AS p50,
        |  floor(quantile_cont(value, 0.95)*1000000)/1000000 AS p95,
        |  floor(quantile_cont(value, 0.99)*1000000)/1000000 AS p99
        |FROM events GROUP BY 1""".stripMargin,

    // rank-window verdict on the sketch: guaranteed true by the
    // approx_percentile accuracy contract, so the oracle emits TRUE
    "q_quantile_profile_approx" ->
      """SELECT event_type, COUNT(*) AS n,
        |  floor(quantile_cont(value, 0.5)*1000000)/1000000 AS p50,
        |  floor(quantile_cont(value, 0.95)*1000000)/1000000 AS p95,
        |  floor(quantile_cont(value, 0.99)*1000000)/1000000 AS p99,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1""".stripMargin,

    "q_word_pieces" ->
      """SELECT doc_id,
        |  (len(list_filter(regexp_split_to_array(text, '[^A-Za-z0-9]+'), x -> x <> ''))
        |   + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')))::BIGINT AS n_pieces,
        |  (length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g'))
        |   + length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')))::BIGINT AS n_piece_chars
        |FROM documents""".stripMargin,

    "q_dup_clusters" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes
         |SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node""".stripMargin,

    // transitive closure over the brute-force edit-distance pair set —
    // the fuzzy-pairs oracle's graph under the dup-clusters reach CTE
    "q_entity_clusters" ->
      """WITH RECURSIVE st AS (SELECT doc_id, substr(text, 1, 24) AS head
        |      FROM documents WHERE length(substr(text, 1, 24)) >= 15),
        |fp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM st a JOIN st b ON a.doc_id < b.doc_id
        |       WHERE levenshtein(a.head, b.head) <= 2),
        |eg AS (SELECT doc_a AS s, doc_b AS d FROM fp
        |       UNION SELECT doc_b, doc_a FROM fp),
        |reach(node, lbl) AS (
        |  SELECT s, s FROM eg
        |  UNION
        |  SELECT e.s, r.lbl FROM eg e JOIN reach r ON e.d = r.node)
        |SELECT node AS doc_id, MIN(lbl) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin,

    "q_dedup_keep" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes,
         |cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE cluster_id <> doc_id)""".stripMargin,

    // brute force on purpose: recall of the Spark side's prefix-filter
    // candidate generation is part of what this row checks
    "q_fuzzy_pairs" -> sqlFuzzyPairsOracle,
    // F-S weights over the brute-force candidate set; u-stats and the
    // agree/disagree qlog weights replayed field by field
    "q_linkage_score" ->
      linkageOracleSql(Seq("lang", "source", "len_bucket"), 19L, 20L),
    // the segment-scheme twin checks against the IDENTICAL brute force:
    // both candidate schemes must land on the same exact pair set
    "q_fuzzy_pairs_seg" -> sqlFuzzyPairsOracle,

    // cluster closure for the canonical keep set + brute-force fuzzy join
    "q_fuzzy_resolve" -> sqlFuzzyResolveOracle,
    "q_fuzzy_resolve_seg" -> sqlFuzzyResolveOracle,

    // same cluster closure; the kept member is the (token count DESC,
    // doc_id ASC) argmax per cluster — the integer token count makes the
    // ordering engine-exact (q_token_stats pins the count parity)
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes,
         |cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
         |ntk AS (SELECT doc_id, len($toksSql) AS nt FROM documents),
         |m AS (SELECT cl.doc_id,
         |        row_number() OVER (PARTITION BY cl.cluster_id
         |                           ORDER BY ntk.nt DESC, cl.doc_id) AS rn
         |      FROM cl JOIN ntk USING (doc_id))
         |SELECT doc_id, source, lang FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM m WHERE rn > 1)""".stripMargin,

    // same cluster closure; pool = smallest-200 md5 ids, per-anchor rank =
    // md5(anchor|neg|) — the identical integers on both engines
    "q_negative_sample" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes,
         |cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
         |pool AS (SELECT doc_id AS neg_id FROM documents
         |         ORDER BY ${sqlMd5Int("doc_id::VARCHAR || ':'")}, doc_id
         |         LIMIT 200),
         |poolc AS (SELECT neg_id, COALESCE(c.cluster_id, neg_id) AS ncl
         |          FROM pool LEFT JOIN cl c ON pool.neg_id = c.doc_id),
         |anch AS (SELECT d.doc_id AS anchor_id,
         |           COALESCE(c.cluster_id, d.doc_id) AS acl
         |         FROM documents d LEFT JOIN cl c ON d.doc_id = c.doc_id
         |         WHERE d.doc_id % 11 = 0),
         |negcand AS (SELECT anchor_id, neg_id,
         |           ${sqlMd5Int("anchor_id::VARCHAR || '|' || neg_id::VARCHAR || '|'")} AS r
         |         FROM anch, poolc
         |         WHERE anchor_id <> neg_id AND acl <> ncl),
         |rk AS (SELECT anchor_id, neg_id,
         |         row_number() OVER (PARTITION BY anchor_id
         |                            ORDER BY r, neg_id) AS rank FROM negcand)
         |SELECT anchor_id, neg_id, rank::BIGINT AS rank
         |FROM rk WHERE rank <= 4""".stripMargin,

    // same cluster closure; per-source arrival/survival counts and the
    // dup rate (int64 counts exact; ONE double division, trunc6 both sides)
    "q_dedup_report" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes,
         |cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
         |dr AS (SELECT doc_id FROM cl WHERE cluster_id <> doc_id),
         |agg AS (SELECT source, count(*)::BIGINT AS n_docs,
         |          sum(CASE WHEN d.doc_id IN (SELECT doc_id FROM dr)
         |              THEN 0 ELSE 1 END)::BIGINT AS n_kept
         |        FROM documents d GROUP BY source)
         |SELECT source, n_docs, n_kept,
         |  floor((1.0::DOUBLE - n_kept::DOUBLE / n_docs::DOUBLE) * 1000000)
         |    / 1000000 AS dup_rate
         |FROM agg""".stripMargin,

    // the diff statuses recomputed from CONTENT equality — the Spark side
    // compares md5 fingerprints, so this row also checks the fingerprint
    // never collides or misses on real data
    "q_snapshot_diff" ->
      """WITH oldc AS (SELECT doc_id, text, lang, source FROM documents),
        |newc AS (SELECT doc_id,
        |           CASE WHEN doc_id % 10 = 1 THEN text || ' v2' ELSE text END AS text,
        |           lang, source FROM documents WHERE doc_id % 10 <> 0
        |         UNION ALL
        |         SELECT doc_id + 10000000, text, lang, source FROM documents
        |         WHERE doc_id % 10 = 2)
        |SELECT doc_id, status FROM (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.text <> n.text OR o.lang <> n.lang
        |              OR o.source <> n.source THEN 'changed' END AS status
        |  FROM oldc o FULL JOIN newc n ON o.doc_id = n.doc_id)
        |WHERE status IS NOT NULL""".stripMargin,

    "q_jaccard_pairs" ->
      s"""WITH $sqlMinhashCtes,
         |shs AS (SELECT doc_id, list_distinct(hs) AS sh FROM hsh)
         |SELECT c.doc_a, c.doc_b,
         |  len(list_intersect(a.sh, b.sh))::DOUBLE /
         |    len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE AS jaccard
         |FROM cand c JOIN shs a ON c.doc_a = a.doc_id JOIN shs b ON c.doc_b = b.doc_id
         |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE /
         |    len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE >= 0.5""".stripMargin,

    "q_lsh_topk" ->
      s"""WITH $sqlEmbSigCte,
         |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |        ${sqlCosine("a.embedding", "b.embedding")} AS score
         |        FROM esig a JOIN esig b USING (bucket) WHERE a.vec_id <> b.vec_id),
         |r AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |      FROM scored)
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3""".stripMargin,

    "q_lsh_topk_multi" -> {
      def half(sig: String) =
        s"""SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           |        ${sqlCosine("a.embedding", "b.embedding")} AS score
           |        FROM $sig a JOIN $sig b USING (bucket) WHERE a.vec_id <> b.vec_id""".stripMargin
      s"""WITH ${sqlEmbSigCteAt("esig0", 0)},
         |${sqlEmbSigCteAt("esig1", LshPlanes)},
         |cand AS (${half("esig0")}
         |  UNION
         |  ${half("esig1")}),
         |r AS (SELECT query_id, neighbor_id,
         |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
         |      FROM cand)
         |SELECT query_id, rank, neighbor_id FROM r WHERE rank <= 3""".stripMargin
    },

    "q_cosine_dup" ->
      s"""WITH $sqlEmbSigCte,
         |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
         |        ${sqlCosine("a.embedding", "b.embedding")} AS cos
         |      FROM esig a JOIN esig b USING (bucket) WHERE a.vec_id < b.vec_id)
         |SELECT doc_a, doc_b, floor(cos * 1000000) / 1000000 AS cos_sim
         |FROM p WHERE cos >= 0.3""".stripMargin,

    // the q_cosine_dup pair graph under the q_dup_clusters reach closure
    "q_embed_clusters" ->
      s"""WITH RECURSIVE $sqlEmbSigCte,
         |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
         |      FROM esig a JOIN esig b USING (bucket)
         |      WHERE a.vec_id < b.vec_id
         |        AND ${sqlCosine("a.embedding", "b.embedding")} >= 0.3),
         |eg AS (SELECT doc_a AS s, doc_b AS d FROM p
         |       UNION SELECT doc_b, doc_a FROM p),
         |reach(node, lbl) AS (
         |  SELECT s, s FROM eg
         |  UNION
         |  SELECT e.s, r.lbl FROM eg e JOIN reach r ON e.d = r.node)
         |SELECT node AS vec_id, MIN(lbl) AS cluster_id
         |FROM reach GROUP BY node""".stripMargin,

    "q_label_centroids" ->
      s"""WITH mem AS (SELECT label, list(embedding ORDER BY vec_id) AS vs
         |             FROM embeddings GROUP BY label)
         |SELECT label, len(vs)::BIGINT AS n_vecs, d.d AS dim,
         |  list_reduce(list_prepend(0.0::DOUBLE,
         |     [vs[m][d.d+1]::DOUBLE for m in range(1, len(vs)+1)]), (a,b) -> a+b)
         |   / len(vs)::DOUBLE AS component
         |FROM mem, (SELECT unnest(range(0,$EmbDims)) AS d) d""".stripMargin,

    "q_ivf_topk" -> sqlIvfSearch(
      s"cent AS (SELECT vec_id AS cell_id, embedding FROM embeddings WHERE vec_id < $IvfNlist)"),

    "q_ivf_trained" -> sqlIvfSearch(
      s"""$sqlKmeansCtes,
         |cent AS (SELECT cell_id, cvec AS embedding FROM cent$IvfIters)""".stripMargin),

    // the trained-centroid chain + per-point best/runner-up cosine ranks;
    // s = (b−a)/max(a,b) on the same fixed IEEE chain, floored at 1e-6
    "q_silhouette" ->
      s"""WITH $sqlKmeansCtes,
         |cent AS (SELECT cell_id, cvec FROM cent$IvfIters),
         |sc AS (SELECT e.vec_id AS pid, c.cell_id,
         |         ${sqlCosine("e.embedding", "c.cvec")} AS cs,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${sqlCosine("e.embedding", "c.cvec")} DESC,
         |                    c.cell_id) AS rn
         |       FROM embeddings e, cent c),
         |ab AS (SELECT s1.pid, s1.cell_id,
         |         1 - s1.cs AS a, 1 - s2.cs AS b
         |       FROM sc s1 JOIN sc s2 ON s1.pid = s2.pid
         |       WHERE s1.rn = 1 AND s2.rn = 2),
         |pp AS (SELECT pid, cell_id,
         |         CASE WHEN greatest(a, b) > 0
         |           THEN floor((b - a) / greatest(a, b) * 1000000)::BIGINT
         |           ELSE 0 END AS ss
         |       FROM ab)
         |SELECT cell_id, count(*)::BIGINT AS n_points,
         |  sum(ss)::BIGINT AS sil_sum_scaled,
         |  sum(ss)::BIGINT::DOUBLE / (count(*)::DOUBLE * 1000000)
         |    AS mean_sil
         |FROM pp GROUP BY 1""".stripMargin,

    "q_ivf_trained_sample" -> sqlIvfSearch(
      s"""${sqlKmeansCtesOver(
             s"(SELECT * FROM embeddings WHERE ${sqlMd5Int("vec_id::VARCHAR")} % $IvfSampleMod = 0 OR vec_id < $IvfNlist)")},
         |cent AS (SELECT cell_id, cvec AS embedding FROM cent$IvfIters)""".stripMargin),

    // the fake payload's hex image: md5(text) plus 0/8/16 chars of md5(text||'x')
    "q_multimodal_meta" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents)
         |SELECT doc_id, (length(h) / 2)::BIGINT AS n_bytes,
         |  CASE WHEN ('0x' || substr(h,1,2))::BIGINT < 64 THEN 'png'
         |       WHEN ('0x' || substr(h,1,2))::BIGINT < 128 THEN 'jpeg'
         |       WHEN ('0x' || substr(h,1,2))::BIGINT < 192 THEN 'gif'
         |       ELSE 'webp' END AS format,
         |  ('0x' || substr(h,1,4))::BIGINT AS width,
         |  ('0x' || substr(h,5,4))::BIGINT AS height
         |FROM hx""".stripMargin,

    "q_multimodal_decode" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents)
         |SELECT doc_id, (length(h) / 2)::BIGINT AS n_bytes,
         |  list_sum([('0x' || substr(h, 2*i+1, 2))::BIGINT
         |            for i in range(0, (length(h) / 2)::INT)])::BIGINT AS byte_sum
         |FROM hx""".stripMargin,

    // 8-byte frames over the whole payload; Σ|b−128| replayed byte by
    // byte on the hex text, silence = energy < n_bytes·threshold
    "q_audio_energy" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents),
         |nf AS (SELECT doc_id, h, (length(h) / 2)::BIGINT AS nb FROM hx
         |       WHERE length(h) > 0),
         |fr AS (SELECT doc_id, h, nb,
         |         unnest(range(0, ceil(nb / 8.0)::BIGINT)) AS frame_idx
         |       FROM nf),
         |en AS (SELECT doc_id, frame_idx,
         |         LEAST(8, nb - frame_idx * 8)::BIGINT AS n_bytes,
         |         list_sum([abs(('0x' || substr(h,
         |             ((frame_idx * 8 + i) * 2 + 1)::INT, 2))::BIGINT - 128)
         |           for i in range(0, LEAST(8, nb - frame_idx * 8)::INT)]
         |         )::BIGINT AS energy_sum
         |       FROM fr)
         |SELECT doc_id, frame_idx, n_bytes, energy_sum,
         |  energy_sum < n_bytes * 64 AS silent
         |FROM en""".stripMargin,

    // the energy CTE re-aggregated per payload; trim bounds over the
    // non-silent frames, COALESCE 0 for all-silent clips
    "q_audio_trim" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents),
         |nf AS (SELECT doc_id, h, (length(h) / 2)::BIGINT AS nb FROM hx
         |       WHERE length(h) > 0),
         |fr AS (SELECT doc_id, h, nb,
         |         unnest(range(0, ceil(nb / 8.0)::BIGINT)) AS frame_idx
         |       FROM nf),
         |en AS (SELECT doc_id, frame_idx,
         |         LEAST(8, nb - frame_idx * 8)::BIGINT AS n_bytes,
         |         list_sum([abs(('0x' || substr(h,
         |             ((frame_idx * 8 + i) * 2 + 1)::INT, 2))::BIGINT - 128)
         |           for i in range(0, LEAST(8, nb - frame_idx * 8)::INT)]
         |         )::BIGINT AS energy_sum
         |       FROM fr)
         |SELECT doc_id, count(*)::BIGINT AS n_frames,
         |  sum(CASE WHEN energy_sum < n_bytes * 64 THEN 1 ELSE 0
         |      END)::BIGINT AS n_silent,
         |  min(CASE WHEN energy_sum >= n_bytes * 64 THEN frame_idx
         |      END)::BIGINT AS first_loud,
         |  max(CASE WHEN energy_sum >= n_bytes * 64 THEN frame_idx
         |      END)::BIGINT AS last_loud,
         |  COALESCE(max(CASE WHEN energy_sum >= n_bytes * 64 THEN frame_idx END)
         |    - min(CASE WHEN energy_sum >= n_bytes * 64 THEN frame_idx END)
         |    + 1, 0)::BIGINT AS kept_frames
         |FROM en GROUP BY 1""".stripMargin,

    // full frames only; lag over the per-payload frame order, count
    // first-difference jumps past the threshold
    "q_scene_changes" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents),
         |nf AS (SELECT doc_id, h, (length(h) / 2)::BIGINT AS nb FROM hx
         |       WHERE length(h) > 0),
         |fr AS (SELECT doc_id, h, nb,
         |         unnest(range(0, ceil(nb / 8.0)::BIGINT)) AS frame_idx
         |       FROM nf),
         |en AS (SELECT doc_id, frame_idx,
         |         LEAST(8, nb - frame_idx * 8)::BIGINT AS n_bytes,
         |         list_sum([abs(('0x' || substr(h,
         |             ((frame_idx * 8 + i) * 2 + 1)::INT, 2))::BIGINT - 128)
         |           for i in range(0, LEAST(8, nb - frame_idx * 8)::INT)]
         |         )::BIGINT AS energy_sum
         |       FROM fr),
         |fl AS (SELECT doc_id, frame_idx, energy_sum,
         |         lag(energy_sum) OVER (PARTITION BY doc_id
         |           ORDER BY frame_idx) AS prev
         |       FROM en WHERE n_bytes = 8)
         |SELECT doc_id, count(*)::BIGINT AS n_frames,
         |  sum(CASE WHEN prev IS NOT NULL
         |             AND abs(energy_sum - prev) > 200 THEN 1 ELSE 0
         |      END)::BIGINT AS n_changes
         |FROM fl GROUP BY 1""".stripMargin,

    // every 2nd 8-byte frame; the oracle slices the hex text (16 hex chars
    // per frame) exactly where Spark slices the binary
    "q_frame_sample" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents),
         |nf AS (SELECT doc_id, h, (length(h) / 16)::BIGINT AS n_frames FROM hx)
         |SELECT doc_id, f.i AS frame_idx, substr(h, (f.i * 16 + 1)::INT, 16) AS frame_hex
         |FROM nf, (SELECT unnest(range(0, 64, 2)) AS i) f
         |WHERE n_frames > 0 AND f.i < n_frames""".stripMargin,

    // leading-byte sniff ranges replayed on the hex text; shares are one
    // trunc6'd division of exact counts
    "q_modality_mix" ->
      s"""WITH hx AS (SELECT source,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents WHERE source IS NOT NULL),
         |f AS (SELECT source,
         |        CASE WHEN ('0x' || substr(h,1,2))::BIGINT < 64 THEN 'png'
         |             WHEN ('0x' || substr(h,1,2))::BIGINT < 128 THEN 'jpeg'
         |             WHEN ('0x' || substr(h,1,2))::BIGINT < 192 THEN 'gif'
         |             ELSE 'webp' END AS format
         |      FROM hx),
         |c AS (SELECT source, format, count(*)::BIGINT AS n_docs
         |      FROM f GROUP BY 1, 2),
         |t AS (SELECT source, sum(n_docs)::BIGINT AS n_total FROM c GROUP BY 1)
         |SELECT c.source, c.format, n_docs, n_total,
         |  floor(n_docs::DOUBLE / n_total::DOUBLE * 1000000) / 1000000 AS share
         |FROM c JOIN t USING (source)""".stripMargin,

    // payload meta ⋈ caption tokens on the id, folded per format; the
    // density gauge is pure integral division (Σtok·1e6 // Σbytes)
    "q_image_caption_join" ->
      s"""WITH hx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1, ((doc_id % 3) * 8)::INT)) AS h,
         |        len($toksSql)::BIGINT AS ntok
         |      FROM documents),
         |m AS (SELECT doc_id, (length(h) / 2)::BIGINT AS n_bytes,
         |        CASE WHEN ('0x' || substr(h,1,2))::BIGINT < 64 THEN 'png'
         |             WHEN ('0x' || substr(h,1,2))::BIGINT < 128 THEN 'jpeg'
         |             WHEN ('0x' || substr(h,1,2))::BIGINT < 192 THEN 'gif'
         |             ELSE 'webp' END AS format,
         |        ntok
         |      FROM hx)
         |SELECT format, count(*)::BIGINT AS n_docs,
         |  sum(n_bytes)::BIGINT AS total_bytes,
         |  sum(ntok)::BIGINT AS total_cap_tokens,
         |  (sum(ntok)::BIGINT * 1000000) // sum(n_bytes)::BIGINT
         |    AS tokens_per_byte_scaled
         |FROM m GROUP BY 1""".stripMargin,

    // the energy-contour fingerprint replayed on the hex text — same
    // fold/band/verify algebra as q_image_dups over |byte−128| energies
    "q_audio_dups" ->
      s"""WITH $sqlAudioDupCtes
         |SELECT doc_a, doc_b, hamming FROM apairs WHERE hamming <= 2""".stripMargin,

    // the audio pair graph under the q_dup_clusters reach closure
    "q_audio_dup_clusters" ->
      s"""WITH RECURSIVE $sqlAudioDupCtes,
         |aeg AS (SELECT doc_a AS s, doc_b AS d FROM apairs WHERE hamming <= 2
         |       UNION SELECT doc_b, doc_a FROM apairs WHERE hamming <= 2),
         |areach(node, lbl) AS (
         |  SELECT s, s FROM aeg
         |  UNION
         |  SELECT e.s, r.lbl FROM aeg e JOIN areach r ON e.d = r.node)
         |SELECT node AS doc_id, MIN(lbl) AS cluster_id
         |FROM areach GROUP BY node""".stripMargin,

    // per-8-byte-frame dHash (nb = 8 → positions (j·7)//60) replayed on
    // hex slices; pairs by exact signature equality, >= 2 shared
    "q_video_dups" ->
      s"""WITH vhx AS (SELECT doc_id,
         |        upper(md5(text) || substr(md5(text || 'x'), 1,
         |          ((doc_id % 3) * 8)::INT)) AS h
         |      FROM documents),
         |vfr AS (SELECT doc_id, h,
         |        unnest(range(0, (length(h) // 16)::BIGINT)) AS fi
         |      FROM vhx WHERE length(h) >= 16),
         |vsg AS (SELECT DISTINCT doc_id, list_reduce(list_prepend(0::BIGINT,
         |    [CASE WHEN ('0x' || substr(substr(h, (fi * 16 + 1)::INT, 16),
         |                  (((j * 7) // 60) * 2 + 1)::INT, 2))::BIGINT
         |           > ('0x' || substr(substr(h, (fi * 16 + 1)::INT, 16),
         |                  ((((j + 1) * 7) // 60) * 2 + 1)::INT, 2))::BIGINT
         |     THEN 1 ELSE 0 END::BIGINT for j in range(0, 60)]),
         |    (a, b) -> a * 2 + b) AS sg
         |  FROM vfr)
         |SELECT a.doc_id AS video_a, b.doc_id AS video_b,
         |  count(*)::BIGINT AS n_shared
         |FROM vsg a JOIN vsg b ON a.sg = b.sg AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    // byte-grid dHash replayed on the hex text: sample positions via
    // BIGINT //, bits folded acc*2+b, 3×20-bit bands via >>/&, exact
    // Hamming verify via bit_count(xor)
    "q_image_dups" ->
      s"""WITH $sqlImageDupCtes
         |SELECT doc_a, doc_b, hamming FROM ipairs WHERE hamming <= 2""".stripMargin,

    // the image pair graph under the q_dup_clusters reach closure
    "q_image_dup_clusters" ->
      s"""WITH RECURSIVE $sqlImageDupCtes,
         |eg AS (SELECT doc_a AS s, doc_b AS d FROM ipairs WHERE hamming <= 2
         |       UNION SELECT doc_b, doc_a FROM ipairs WHERE hamming <= 2),
         |reach(node, lbl) AS (
         |  SELECT s, s FROM eg
         |  UNION
         |  SELECT e.s, r.lbl FROM eg e JOIN reach r ON e.d = r.node)
         |SELECT node AS doc_id, MIN(lbl) AS cluster_id
         |FROM reach GROUP BY node""".stripMargin,

    // the full NB walk: per-(doc,tok) counts join the (lang,tok) model,
    // smoothing normalizer closed into ntoks·qlog(nl+V), argmax via
    // row_number (score DESC, lang DESC = ties toward the largest label)
    "q_naive_bayes" ->
      nbOracle("SELECT doc_id, lang_true, lang_pred, score_scaled FROM nb"),
    "q_confusion" ->
      nbOracle("""SELECT lang_true, lang_pred, count(*)::BIGINT AS n_rows
                 |FROM nb GROUP BY 1, 2""".stripMargin),
    // one-vs-rest margins full-outer-joined over the class union; every
    // ratio one floored division of exact integers; precision of a
    // never-predicted class (and recall of a never-true one) is NULL
    "q_prf1" ->
      nbOracle(
        s""", cm AS (SELECT lang_true, lang_pred, count(*)::BIGINT AS n
           |        FROM nb GROUP BY 1, 2),
           |tr AS (SELECT lang_true AS label,
           |         sum(CASE WHEN lang_pred = lang_true THEN n ELSE 0
           |             END)::BIGINT AS tp,
           |         sum(CASE WHEN lang_pred <> lang_true THEN n ELSE 0
           |             END)::BIGINT AS fn
           |       FROM cm GROUP BY 1),
           |pd AS (SELECT lang_pred AS label,
           |         sum(CASE WHEN lang_pred <> lang_true THEN n ELSE 0
           |             END)::BIGINT AS fp
           |       FROM cm GROUP BY 1),
           |j AS (SELECT COALESCE(tr.label, pd.label) AS label,
           |        COALESCE(tp, 0)::BIGINT AS n_tp,
           |        COALESCE(fp, 0)::BIGINT AS n_fp,
           |        COALESCE(fn, 0)::BIGINT AS n_fn,
           |        tr.label IS NOT NULL AS st, pd.label IS NOT NULL AS sp
           |      FROM tr FULL OUTER JOIN pd ON tr.label = pd.label)
           |SELECT label, n_tp, n_fp, n_fn,
           |  CASE WHEN sp THEN floor(n_tp::DOUBLE / (n_tp + n_fp)::DOUBLE
           |    * 1000000) / 1000000 END AS "precision",
           |  CASE WHEN st THEN floor(n_tp::DOUBLE / (n_tp + n_fn)::DOUBLE
           |    * 1000000) / 1000000 END AS recall,
           |  CASE WHEN n_tp + n_fp + n_fn > 0
           |    THEN floor((2 * n_tp)::DOUBLE
           |      / (2 * n_tp + n_fp + n_fn)::DOUBLE * 1000000) / 1000000
           |  END AS f1
           |FROM j""".stripMargin),
    // Fleiss: A=pi_sum−N·n over B=N·n(n−1); P_e=C/E, E=(N·n)²;
    // kappa=(A·E−C·B)/(B·(E−C)) with HUGEINT products, one trunc6 div
    "q_fleiss_kappa" ->
      s"""WITH r AS (SELECT user_id, event_type, event_id,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY event_id) AS rn
         |      FROM events),
         |r5 AS (SELECT user_id, event_type FROM r WHERE rn <= 5),
         |ful AS (SELECT user_id FROM r5 GROUP BY 1 HAVING count(*) = 5),
         |rr AS (SELECT r5.user_id, r5.event_type FROM r5
         |       JOIN ful USING (user_id)),
         |cells AS (SELECT user_id, event_type, count(*)::BIGINT AS nij
         |          FROM rr WHERE user_id IS NOT NULL
         |            AND event_type IS NOT NULL GROUP BY 1, 2),
         |it AS (SELECT user_id, sum(nij)::BIGINT AS n,
         |         sum(nij * nij)::BIGINT AS pi FROM cells GROUP BY 1),
         |ar AS (SELECT count(*)::BIGINT AS n_items, min(n)::BIGINT AS mn,
         |         sum(pi)::BIGINT AS pi_sum FROM it),
         |mg AS (SELECT count(*)::BIGINT AS n_categories,
         |         sum(t * t)::BIGINT AS cat_sq_sum FROM (
         |           SELECT event_type, sum(nij)::BIGINT AS t
         |           FROM cells GROUP BY 1))
         |SELECT n_items, mn AS n_raters, n_categories, pi_sum, cat_sq_sum,
         |  CASE WHEN (n_items * mn)::HUGEINT * (n_items * mn)::HUGEINT
         |            <> cat_sq_sum::HUGEINT THEN
         |    floor(((pi_sum - n_items * mn)::HUGEINT
         |             * ((n_items * mn)::HUGEINT * (n_items * mn)::HUGEINT)
         |           - cat_sq_sum::HUGEINT
         |             * (n_items * mn * (mn - 1))::HUGEINT)::DOUBLE
         |      / ((n_items * mn * (mn - 1))::HUGEINT
         |         * ((n_items * mn)::HUGEINT * (n_items * mn)::HUGEINT
         |            - cat_sq_sum::HUGEINT))::DOUBLE * 1000000) / 1000000
         |  END AS kappa
         |FROM ar CROSS JOIN mg""".stripMargin,

    // per-item quantized D_o terms (floor at 1e6, // on non-negative
    // operands == Spark div), margins over pairable items only,
    // HUGEINT chance algebra, one trunc6 division
    "q_krippendorff" ->
      s"""WITH r AS (SELECT user_id, event_type, event_id,
         |        row_number() OVER (PARTITION BY user_id
         |          ORDER BY event_id) AS rn
         |      FROM events),
         |r5 AS (SELECT user_id, event_type FROM r WHERE rn <= 5),
         |cells AS (SELECT user_id, event_type, count(*)::BIGINT AS nij
         |          FROM r5 WHERE user_id IS NOT NULL
         |            AND event_type IS NOT NULL GROUP BY 1, 2),
         |it AS (SELECT user_id, sum(nij)::BIGINT AS m,
         |         sum(nij * nij)::BIGINT AS sq FROM cells GROUP BY 1
         |       HAVING sum(nij) >= 2),
         |fold AS (SELECT count(*)::BIGINT AS n_items,
         |         COALESCE(sum(((m * m - sq) * 1000000) // (m - 1)),
         |           0)::BIGINT AS do_scaled,
         |         COALESCE(sum(m), 0)::BIGINT AS n_values FROM it),
         |mg AS (SELECT count(*)::BIGINT AS n_categories,
         |         COALESCE(sum(t * t), 0)::BIGINT AS cat_sq_sum FROM (
         |           SELECT c.event_type, sum(c.nij)::BIGINT AS t
         |           FROM cells c JOIN it ON it.user_id = c.user_id
         |           GROUP BY 1))
         |SELECT n_items, n_values, n_categories, do_scaled,
         |  (n_values::HUGEINT * n_values::HUGEINT
         |   - cat_sq_sum::HUGEINT)::BIGINT AS diff_sq,
         |  CASE WHEN n_values::HUGEINT * n_values::HUGEINT
         |            - cat_sq_sum::HUGEINT > 0 THEN
         |    floor(((n_values::HUGEINT * n_values::HUGEINT
         |              - cat_sq_sum::HUGEINT) * 1000000::HUGEINT
         |            - (n_values - 1)::HUGEINT * do_scaled::HUGEINT)::DOUBLE
         |      / ((n_values::HUGEINT * n_values::HUGEINT
         |           - cat_sq_sum::HUGEINT) * 1000000::HUGEINT)::DOUBLE
         |      * 1000000) / 1000000
         |  END AS alpha
         |FROM fold CROSS JOIN mg""".stripMargin,

    // kappa = (N·agree − Σ row·col) / (N² − Σ row·col): both sides of
    // (p_o−p_e)/(1−p_e) scaled by N² so the only float is ONE division
    "q_kappa" ->
      nbOracle(
        s""", cm AS (SELECT lang_true, lang_pred, count(*)::BIGINT AS n
           |        FROM nb GROUP BY 1, 2),
           |rm AS (SELECT lang_true AS cls, sum(n)::BIGINT AS r
           |       FROM cm GROUP BY 1),
           |pm AS (SELECT lang_pred AS cls, sum(n)::BIGINT AS c
           |       FROM cm GROUP BY 1),
           |pe AS (SELECT sum(COALESCE(r, 0) * COALESCE(c, 0))::BIGINT AS p
           |       FROM rm FULL OUTER JOIN pm ON rm.cls = pm.cls),
           |t AS (SELECT sum(n)::BIGINT AS n_rows,
           |        sum(CASE WHEN lang_true = lang_pred THEN n ELSE 0
           |            END)::BIGINT AS n_agree
           |      FROM cm)
           |SELECT n_rows, n_agree,
           |  CASE WHEN n_rows * n_rows <> p
           |       THEN floor((n_rows * n_agree - p)::DOUBLE
           |              / (n_rows * n_rows - p)::DOUBLE * 1000000)
           |            / 1000000
           |  END AS kappa
           |FROM t CROSS JOIN pe""".stripMargin),
    // the NB chain joined against the stopword-hit heuristic's vote on
    // the same doc; only the discordant cells enter the statistic —
    // (|b−c|−1)²·10⁶ // (b+c) in HUGEINT (= the Spark decimal div)
    "q_mcnemar" ->
      nbOracle(
        s""", mnt AS (SELECT doc_id,
           |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
           |                    x -> x <> '') AS toks FROM documents),
           |mnh AS (SELECT doc_id,
           |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
           |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
           |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
           |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
           |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
           |      FROM mnt),
           |mni AS (SELECT doc_id,
           |        CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr'
           |             WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en'
           |             ELSE 'de' END AS pred_heur
           |      FROM (SELECT *, GREATEST(h_en, h_de, h_fr, h_es, h_zh) AS m
           |            FROM mnh)),
           |j AS (SELECT nb.lang_true, nb.lang_pred AS pred_nb, mni.pred_heur
           |      FROM nb JOIN mni USING (doc_id)
           |      WHERE nb.lang_true IS NOT NULL AND nb.lang_pred IS NOT NULL
           |        AND mni.pred_heur IS NOT NULL),
           |ag AS (SELECT count(*)::BIGINT AS n_pairs,
           |        sum(CASE WHEN pred_nb = lang_true
           |                  AND pred_heur <> lang_true THEN 1 ELSE 0
           |            END)::BIGINT AS n_a_only,
           |        sum(CASE WHEN pred_nb <> lang_true
           |                  AND pred_heur = lang_true THEN 1 ELSE 0
           |            END)::BIGINT AS n_b_only
           |      FROM j)
           |SELECT n_pairs, n_a_only, n_b_only,
           |  CASE WHEN n_a_only + n_b_only > 0 THEN
           |    (((abs(n_a_only - n_b_only) - 1)::HUGEINT
           |      * (abs(n_a_only - n_b_only) - 1)::HUGEINT
           |      * 1000000::HUGEINT)
           |     // (n_a_only + n_b_only)::HUGEINT)::BIGINT
           |  END AS mcnemar_ppm
           |FROM ag""".stripMargin),

    // the q_mcnemar heuristic CTEs plus the deterministic modal prior;
    // Q's numerator in HUGEINT (k·T²·10⁶ — the Spark decimal(38,0) twin)
    "q_cochran_q" ->
      nbOracle(
        s""", mnt AS (SELECT doc_id,
           |        list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
           |                    x -> x <> '') AS toks FROM documents),
           |mnh AS (SELECT doc_id,
           |        len(list_filter(toks, x -> x IN ${inList(stopEn)})) AS h_en,
           |        len(list_filter(toks, x -> x IN ${inList(stopDe)})) AS h_de,
           |        len(list_filter(toks, x -> x IN ${inList(stopFr)})) AS h_fr,
           |        len(list_filter(toks, x -> x IN ${inList(stopEs)})) AS h_es,
           |        len(list_filter(toks, x -> x IN ${inList(stopZh)})) AS h_zh
           |      FROM mnt),
           |mni AS (SELECT doc_id,
           |        CASE WHEN h_zh = m THEN 'zh' WHEN h_fr = m THEN 'fr'
           |             WHEN h_es = m THEN 'es' WHEN h_en = m THEN 'en'
           |             ELSE 'de' END AS pred_heur
           |      FROM (SELECT *, GREATEST(h_en, h_de, h_fr, h_es, h_zh) AS m
           |            FROM mnh)),
           |pri AS (SELECT lang_true AS pred_prior FROM (
           |          SELECT lang_true, count(*)::BIGINT AS c FROM nb
           |          WHERE lang_true IS NOT NULL GROUP BY 1)
           |        ORDER BY c DESC, lang_true ASC LIMIT 1),
           |j AS (SELECT nb.lang_true, nb.lang_pred AS pred_nb,
           |        mni.pred_heur,
           |        (SELECT pred_prior FROM pri) AS pred_prior
           |      FROM nb JOIN mni USING (doc_id)
           |      WHERE nb.lang_true IS NOT NULL AND nb.lang_pred IS NOT NULL
           |        AND mni.pred_heur IS NOT NULL),
           |x AS (SELECT
           |        CASE WHEN pred_nb = lang_true THEN 1 ELSE 0 END AS x1,
           |        CASE WHEN pred_heur = lang_true THEN 1 ELSE 0 END AS x2,
           |        CASE WHEN pred_prior = lang_true THEN 1 ELSE 0 END AS x3
           |      FROM j),
           |ag AS (SELECT count(*)::BIGINT AS n_items,
           |        sum((x1 + x2 + x3) * (3 - (x1 + x2 + x3)))::BIGINT
           |          AS disagree_weight,
           |        sum(x1)::BIGINT AS t1, sum(x2)::BIGINT AS t2,
           |        sum(x3)::BIGINT AS t3 FROM x)
           |SELECT n_items, 3::BIGINT AS n_classifiers, disagree_weight,
           |  CASE WHEN disagree_weight > 0 THEN
           |    ((2::HUGEINT
           |      * (3::HUGEINT
           |           * (t1::HUGEINT * t1::HUGEINT
           |              + t2::HUGEINT * t2::HUGEINT
           |              + t3::HUGEINT * t3::HUGEINT)
           |         - (t1 + t2 + t3)::HUGEINT * (t1 + t2 + t3)::HUGEINT)
           |      * 1000000::HUGEINT)
           |     // disagree_weight::HUGEINT)::BIGINT
           |  END AS q_ppm
           |FROM ag""".stripMargin),
    // the curve the AUC integrates: cumulative exact TP/FP over
    // descending distinct thresholds (window over the post-agg frame —
    // O(distinct scores) rows, the Spark side uses the bucket prefix scan)
    "q_roc" ->
      """WITH s AS (SELECT n_chars::BIGINT AS threshold,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np,
        |        sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS nn
        |      FROM documents
        |      WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |c AS (SELECT threshold,
        |        sum(np) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_tp,
        |        sum(nn) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_fp
        |      FROM s),
        |t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS ng FROM s)
        |SELECT threshold, n_tp, n_fp,
        |  CASE WHEN p > 0 THEN floor(n_tp::DOUBLE / p::DOUBLE * 1000000)
        |    / 1000000 END AS tpr,
        |  CASE WHEN ng > 0 THEN floor(n_fp::DOUBLE / ng::DOUBLE * 1000000)
        |    / 1000000 END AS fpr
        |FROM c CROSS JOIN t""".stripMargin,
    // the q_roc cumulatives folded to step AP: per-threshold integer
    // term (np·n_tp·1e6) // (n_tp+n_fp), one trunc6'd division out
    "q_avg_precision" ->
      """WITH s AS (SELECT n_chars::BIGINT AS threshold,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np,
        |        sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS nn
        |      FROM documents
        |      WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |c AS (SELECT threshold, np,
        |        sum(np) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_tp,
        |        sum(nn) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_fp
        |      FROM s),
        |t AS (SELECT sum(np)::BIGINT AS p FROM s),
        |a AS (SELECT sum((np * n_tp * 1000000) // (n_tp + n_fp))::BIGINT
        |        AS ap_scaled FROM c)
        |SELECT t.p AS n_pos, a.ap_scaled,
        |  CASE WHEN t.p > 0 THEN
        |    floor(a.ap_scaled::DOUBLE / (t.p::DOUBLE * 1000000) * 1000000)
        |      / 1000000 END AS average_precision
        |FROM a CROSS JOIN t""".stripMargin,

    // same canonical string endpoints, degree cap BEFORE the wedge join,
    // 1/ln as exact integer division of the qlog; NOT EXISTS = left anti
    "q_adamic_adar" ->
      s"""WITH e0 AS (SELECT DISTINCT (l_suppkey * 2)::VARCHAR AS x,
         |              (l_partkey * 2 + 1)::VARCHAR AS y FROM lineitem),
         |und AS (SELECT DISTINCT CASE WHEN x < y THEN x ELSE y END AS a,
         |               CASE WHEN x < y THEN y ELSE x END AS b
         |        FROM e0
         |        WHERE x IS NOT NULL AND y IS NOT NULL AND x <> y),
         |deg AS (SELECT node, count(*)::BIGINT AS d
         |        FROM (SELECT a AS node FROM und
         |              UNION ALL SELECT b FROM und)
         |        GROUP BY 1),
         |adj AS (SELECT w, n, d FROM
         |          (SELECT a AS w, b AS n FROM und
         |           UNION ALL SELECT b, a FROM und) t
         |        JOIN deg ON deg.node = t.w
         |        WHERE d >= 2 AND d <= $AaMaxDeg),
         |wg AS (SELECT a1.n AS a, a2.n AS b,
         |         floor(ln(a1.d::DOUBLE) * 1000000)::BIGINT AS qw
         |       FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n),
         |cand AS (SELECT a, b, qw FROM wg
         |         WHERE NOT EXISTS (SELECT 1 FROM und
         |                           WHERE und.a = wg.a AND und.b = wg.b))
         |SELECT a AS node_a, b AS node_b, count(*)::BIGINT AS n_common,
         |  sum(1000000000000 // qw)::BIGINT AS aa_scaled
         |FROM cand GROUP BY 1, 2
         |ORDER BY aa_scaled DESC, node_a, node_b LIMIT $AaTopN""".stripMargin,

    // the same wedge chain without the qlog weight; endpoint degrees
    // rejoin exact and uncapped, jac = one integer div
    "q_neighbor_jaccard" ->
      s"""WITH e0 AS (SELECT DISTINCT (l_suppkey * 2)::VARCHAR AS x,
         |              (l_partkey * 2 + 1)::VARCHAR AS y FROM lineitem),
         |und AS (SELECT DISTINCT CASE WHEN x < y THEN x ELSE y END AS a,
         |               CASE WHEN x < y THEN y ELSE x END AS b
         |        FROM e0
         |        WHERE x IS NOT NULL AND y IS NOT NULL AND x <> y),
         |deg AS (SELECT node, count(*)::BIGINT AS d
         |        FROM (SELECT a AS node FROM und
         |              UNION ALL SELECT b FROM und)
         |        GROUP BY 1),
         |adj AS (SELECT w, n FROM
         |          (SELECT a AS w, b AS n FROM und
         |           UNION ALL SELECT b, a FROM und) t
         |        JOIN deg ON deg.node = t.w
         |        WHERE d >= 2 AND d <= $AaMaxDeg),
         |wg AS (SELECT a1.n AS a, a2.n AS b
         |       FROM adj a1 JOIN adj a2 ON a1.w = a2.w AND a1.n < a2.n),
         |cand AS (SELECT a, b FROM wg
         |         WHERE NOT EXISTS (SELECT 1 FROM und
         |                           WHERE und.a = wg.a AND und.b = wg.b)),
         |cc AS (SELECT a, b, count(*)::BIGINT AS n_common
         |       FROM cand GROUP BY 1, 2)
         |SELECT cc.a AS node_a, cc.b AS node_b, cc.n_common,
         |  da.d AS deg_a, db.d AS deg_b,
         |  ((cc.n_common * 1000000) // (da.d + db.d - cc.n_common))::BIGINT
         |    AS jac_scaled,
         |  ((cc.n_common * 1000000) // (da.d + db.d - cc.n_common))::BIGINT::DOUBLE
         |    / 1000000 AS jaccard
         |FROM cc JOIN deg da ON da.node = cc.a JOIN deg db ON db.node = cc.b
         |ORDER BY jac_scaled DESC, node_a, node_b LIMIT $AaTopN""".stripMargin,
    // Q15 shape: exact cents per supplier, the max folded back in, the
    // tie-safe equality on the DECIMAL cents
    "q_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |        sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100)
        |          AS DECIMAL(28,0))) AS cents
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |        AND l_shipdate < TIMESTAMP '1995-04-01'
        |      GROUP BY 1),
        |mx AS (SELECT max(cents) AS m FROM rev)
        |SELECT s_suppkey, s_name, (cents::DOUBLE / 100)::DOUBLE
        |  AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN mx
        |WHERE cents = m""".stripMargin,
    // the identical PH walk as a recursive CTE: fresh state after every
    // alarm, floor-div running mean, alarm when m − min(m) > λ
    "q_ph_stream" ->
      s"""WITH RECURSIVE ev AS (
         |  SELECT user_id, $evMs AS ms, floor(value * 100)::BIGINT AS vc,
         |    event_id,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY $evMs, event_id) AS rn
         |  FROM events
         |  WHERE user_id IS NOT NULL AND value IS NOT NULL
         |    AND ts IS NOT NULL),
         |rec AS (
         |  SELECT user_id, rn, ms, event_id, 1::BIGINT AS n, vc AS s,
         |    (0 - $PhDelta)::BIGINT AS m,
         |    least(0, 0 - $PhDelta)::BIGINT AS mn,
         |    (0 - $PhDelta) - least(0, 0 - $PhDelta) > $PhLambda AS alarm
         |  FROM ev WHERE rn = 1
         |  UNION ALL
         |  SELECT e.user_id, e.rn, e.ms, e.event_id,
         |    CASE WHEN r.alarm THEN 1 ELSE r.n + 1 END,
         |    CASE WHEN r.alarm THEN e.vc ELSE r.s + e.vc END,
         |    CASE WHEN r.alarm THEN 0 - $PhDelta
         |         ELSE r.m + e.vc - ((r.s + e.vc) // (r.n + 1))
         |              - $PhDelta END,
         |    least(CASE WHEN r.alarm THEN 0 ELSE r.mn END,
         |      CASE WHEN r.alarm THEN 0 - $PhDelta
         |           ELSE r.m + e.vc - ((r.s + e.vc) // (r.n + 1))
         |                - $PhDelta END),
         |    (CASE WHEN r.alarm THEN 0 - $PhDelta
         |          ELSE r.m + e.vc - ((r.s + e.vc) // (r.n + 1))
         |               - $PhDelta END)
         |      - least(CASE WHEN r.alarm THEN 0 ELSE r.mn END,
         |          CASE WHEN r.alarm THEN 0 - $PhDelta
         |               ELSE r.m + e.vc - ((r.s + e.vc) // (r.n + 1))
         |                    - $PhDelta END)
         |      > $PhLambda
         |  FROM ev e JOIN rec r ON r.user_id = e.user_id
         |    AND e.rn = r.rn + 1)
         |SELECT user_id, event_id, ms AS alarm_ms, n AS n_events,
         |  m AS ph, mn AS ph_min
         |FROM rec WHERE alarm""".stripMargin,
    // pairwise truncating-div slopes over the daily series (BIGINT `//`
    // truncates toward zero, matching Spark `div` for any sign); both
    // medians as the lower-median rank rule over running counts
    "q_theil_sen" ->
      s"""WITH p AS (SELECT $evMs // 86400000 AS x, count(*)::BIGINT AS y
         |           FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |pr AS (SELECT ((b.y - a.y) * 1000000) // (b.x - a.x) AS s
         |       FROM p a JOIN p b ON a.x < b.x),
         |ms AS (SELECT min(s)::BIGINT AS sv FROM (
         |         SELECT s,
         |           count(*) OVER (ORDER BY s
         |             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         |           (SELECT count(*) FROM pr)::BIGINT AS tot FROM pr)
         |       WHERE cum * 2 >= tot),
         |ib AS (SELECT min(b)::BIGINT AS bv FROM (
         |         SELECT y * 1000000 - (SELECT sv FROM ms) * x AS b,
         |           count(*) OVER (
         |             ORDER BY y * 1000000 - (SELECT sv FROM ms) * x
         |             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
         |           (SELECT count(*) FROM p)::BIGINT AS tot FROM p)
         |       WHERE cum * 2 >= tot)
         |SELECT (SELECT count(*) FROM p)::BIGINT AS n_points,
         |  (SELECT count(*) FROM pr)::BIGINT AS n_pairs,
         |  sv AS slope_scaled, sv::DOUBLE / 1000000 AS slope,
         |  bv AS intercept_scaled, bv::DOUBLE / 1000000 AS intercept
         |FROM ms CROSS JOIN ib
         |WHERE (SELECT count(*) FROM pr) > 0""".stripMargin,
    // the q_psi_by_window CTE chain with the smoothing-free Hellinger
    // term: per-(window, category) floor(sqrt(cp·cq)·1e6), summed exact,
    // one fixed double chain out — zero-count categories contribute 0
    "q_hellinger_by_window" ->
      s"""WITH t AS (SELECT $evMs - $evMs % $D AS w, event_type AS cat
         |           FROM events
         |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT w, cat, count(*)::BIGINT AS cp FROM t GROUP BY 1, 2),
         |ref AS (SELECT event_type AS cat, count(*)::BIGINT AS cq
         |        FROM events
         |        WHERE ts IS NOT NULL AND event_type IS NOT NULL
         |        GROUP BY 1),
         |tq AS (SELECT sum(cq)::BIGINT AS tq FROM ref),
         |wins AS (SELECT DISTINCT w FROM c),
         |cats AS (SELECT DISTINCT w, cat FROM (
         |    SELECT w, cat FROM c
         |    UNION ALL SELECT wins.w, ref.cat FROM wins, ref)),
         |g AS (SELECT w, count(*)::BIGINT AS k FROM cats GROUP BY 1),
         |tp AS (SELECT w, sum(cp)::BIGINT AS tp FROM c GROUP BY 1),
         |terms AS (SELECT cats.w,
         |    floor(sqrt((COALESCE(c.cp, 0) * COALESCE(r.cq, 0))::DOUBLE)
         |          * 1000000)::BIGINT AS trm
         |  FROM cats
         |  LEFT JOIN c ON c.w = cats.w AND c.cat = cats.cat
         |  LEFT JOIN ref r ON r.cat = cats.cat)
         |SELECT t.w AS window_start_ms, g.k AS n_categories, tp.tp AS n_p,
         |  (SELECT tq FROM tq) AS n_q,
         |  sum(t.trm)::BIGINT AS bc_scaled,
         |  CASE WHEN tp.tp > 0 AND (SELECT tq FROM tq) > 0 THEN
         |    floor(sqrt(greatest(0.0, 1.0 - sum(t.trm)::BIGINT::DOUBLE
         |      / (sqrt((tp.tp * (SELECT tq FROM tq))::DOUBLE) * 1000000)))
         |      * 1000000) / 1000000
         |  END AS hellinger
         |FROM terms t JOIN g ON g.w = t.w JOIN tp ON tp.w = t.w
         |GROUP BY t.w, g.k, tp.tp""".stripMargin,
    // the windowed-drift CTE chain with the two JSD partial sums: per
    // window both exact BIGINT folds over the union category set, then
    // the batch form's fixed double chain
    "q_jsd_by_window" ->
      s"""WITH t AS (SELECT $evMs - $evMs % $D AS w, event_type AS cat
         |           FROM events
         |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT w, cat, count(*)::BIGINT AS cp FROM t GROUP BY 1, 2),
         |ref AS (SELECT event_type AS cat, count(*)::BIGINT AS cq
         |        FROM events
         |        WHERE ts IS NOT NULL AND event_type IS NOT NULL
         |        GROUP BY 1),
         |tq AS (SELECT sum(cq)::BIGINT AS tq FROM ref),
         |wins AS (SELECT DISTINCT w FROM c),
         |cats AS (SELECT DISTINCT w, cat FROM (
         |    SELECT w, cat FROM c
         |    UNION ALL SELECT wins.w, ref.cat FROM wins, ref)),
         |g AS (SELECT w, count(*)::BIGINT AS k FROM cats GROUP BY 1),
         |tp AS (SELECT w, sum(cp)::BIGINT AS tp FROM c GROUP BY 1),
         |terms AS (SELECT cats.w,
         |    CASE WHEN COALESCE(c.cp, 0) > 0 THEN COALESCE(c.cp, 0)
         |      * (floor(ln((2 * COALESCE(c.cp, 0) * (SELECT tq FROM tq))::DOUBLE)
         |           * 1000000)::BIGINT
         |       - floor(ln((COALESCE(c.cp, 0) * (SELECT tq FROM tq)
         |           + COALESCE(r.cq, 0) * tp.tp)::DOUBLE) * 1000000)::BIGINT)
         |      ELSE 0 END AS sp,
         |    CASE WHEN COALESCE(r.cq, 0) > 0 THEN COALESCE(r.cq, 0)
         |      * (floor(ln((2 * COALESCE(r.cq, 0) * tp.tp)::DOUBLE)
         |           * 1000000)::BIGINT
         |       - floor(ln((COALESCE(c.cp, 0) * (SELECT tq FROM tq)
         |           + COALESCE(r.cq, 0) * tp.tp)::DOUBLE) * 1000000)::BIGINT)
         |      ELSE 0 END AS sq
         |  FROM cats
         |  LEFT JOIN c ON c.w = cats.w AND c.cat = cats.cat
         |  LEFT JOIN ref r ON r.cat = cats.cat
         |  JOIN tp ON tp.w = cats.w)
         |SELECT t.w AS window_start_ms, g.k AS n_categories, tp.tp AS n_p,
         |  (SELECT tq FROM tq) AS n_q,
         |  sum(t.sp)::BIGINT AS jsd_p_scaled,
         |  sum(t.sq)::BIGINT AS jsd_q_scaled,
         |  CASE WHEN tp.tp > 0 AND (SELECT tq FROM tq) > 0 THEN
         |    (sum(t.sp)::BIGINT::DOUBLE / tp.tp::DOUBLE
         |     + sum(t.sq)::BIGINT::DOUBLE / (SELECT tq FROM tq)::DOUBLE)
         |      / (2 * 1000000)
         |  END AS jsd
         |FROM terms t JOIN g ON g.w = t.w JOIN tp ON tp.w = t.w
         |GROUP BY t.w, g.k, tp.tp""".stripMargin,

    // the q_kl_by_window CTE chain with the PSI term swapped in
    "q_psi_by_window" ->
      s"""WITH t AS (SELECT $evMs - $evMs % $D AS w, event_type AS cat
         |           FROM events
         |           WHERE ts IS NOT NULL AND event_type IS NOT NULL),
         |c AS (SELECT w, cat, count(*)::BIGINT AS cp FROM t GROUP BY 1, 2),
         |ref AS (SELECT event_type AS cat, count(*)::BIGINT AS cq
         |        FROM events
         |        WHERE ts IS NOT NULL AND event_type IS NOT NULL
         |        GROUP BY 1),
         |tq AS (SELECT sum(cq)::BIGINT AS tq FROM ref),
         |wins AS (SELECT DISTINCT w FROM c),
         |cats AS (SELECT DISTINCT w, cat FROM (
         |    SELECT w, cat FROM c
         |    UNION ALL SELECT wins.w, ref.cat FROM wins, ref)),
         |g AS (SELECT w, count(*)::BIGINT AS k FROM cats GROUP BY 1),
         |tp AS (SELECT w, sum(cp)::BIGINT AS tp FROM c GROUP BY 1),
         |terms AS (SELECT cats.w,
         |    ((COALESCE(c.cp, 0) + 1) * ((SELECT tq FROM tq) + g.k)
         |     - (COALESCE(r.cq, 0) + 1) * (tp.tp + g.k))
         |    * (floor(ln(((COALESCE(c.cp, 0) + 1)
         |         * ((SELECT tq FROM tq) + g.k))::DOUBLE) * 1000000)::BIGINT
         |     - floor(ln(((COALESCE(r.cq, 0) + 1)
         |         * (tp.tp + g.k))::DOUBLE) * 1000000)::BIGINT) AS trm
         |  FROM cats
         |  LEFT JOIN c ON c.w = cats.w AND c.cat = cats.cat
         |  LEFT JOIN ref r ON r.cat = cats.cat
         |  JOIN g ON g.w = cats.w
         |  JOIN tp ON tp.w = cats.w)
         |SELECT t.w AS window_start_ms, g.k AS n_categories, tp.tp AS n_p,
         |  (SELECT tq FROM tq) AS n_q,
         |  sum(t.trm)::DOUBLE AS psi_scaled,
         |  sum(t.trm)::DOUBLE / ((tp.tp + g.k)::DOUBLE
         |    * ((SELECT tq FROM tq) + g.k)::DOUBLE * 1000000) AS psi
         |FROM terms t JOIN g ON g.w = t.w JOIN tp ON tp.w = t.w
         |GROUP BY t.w, g.k, tp.tp""".stripMargin,
    // triangleStats' orientation walk, closed triples credited to all
    // three corners, lcc one floored division; degree-1 nodes NULL
    "q_local_clustering" ->
      """WITH e0 AS (SELECT DISTINCT (l_suppkey * 2)::VARCHAR AS x,
        |              (l_partkey * 2 + 1)::VARCHAR AS y FROM lineitem),
        |und AS (SELECT DISTINCT CASE WHEN x < y THEN x ELSE y END AS a,
        |               CASE WHEN x < y THEN y ELSE x END AS b
        |        FROM e0
        |        WHERE x IS NOT NULL AND y IS NOT NULL AND x <> y),
        |deg AS (SELECT node, count(*)::BIGINT AS d
        |        FROM (SELECT a AS node FROM und
        |              UNION ALL SELECT b FROM und)
        |        GROUP BY 1),
        |orient AS (SELECT CASE WHEN da.d < db.d
        |                       OR (da.d = db.d AND a < b)
        |                  THEN a ELSE b END AS u,
        |                  CASE WHEN da.d < db.d
        |                       OR (da.d = db.d AND a < b)
        |                  THEN b ELSE a END AS v
        |           FROM und
        |           JOIN deg da ON da.node = a JOIN deg db ON db.node = b),
        |tri AS (SELECT o1.u, o1.v AS p, o2.v AS q
        |        FROM orient o1 JOIN orient o2 ON o1.u = o2.u
        |        WHERE o1.v < o2.v
        |          AND EXISTS (SELECT 1 FROM und
        |                      WHERE und.a = o1.v AND und.b = o2.v)),
        |corners AS (SELECT node, count(*)::BIGINT AS t FROM (
        |    SELECT u AS node FROM tri
        |    UNION ALL SELECT p FROM tri
        |    UNION ALL SELECT q FROM tri) GROUP BY 1)
        |SELECT deg.node, deg.d AS degree,
        |  COALESCE(corners.t, 0)::BIGINT AS n_triangles,
        |  CASE WHEN deg.d >= 2
        |       THEN floor((COALESCE(corners.t, 0) * 2)::DOUBLE
        |              / (deg.d * (deg.d - 1))::DOUBLE * 1000000) / 1000000
        |  END AS lcc
        |FROM deg LEFT JOIN corners ON corners.node = deg.node""".stripMargin,
    // md5 halves, integer-mean model, rank ⌈(n+1)(1−α)⌉ residual, test
    // coverage; test rows of unseen groups drop from coverage
    "q_conformal" ->
      s"""WITH b AS (SELECT event_type AS g, floor(value * 100)::BIGINT AS v,
         |        ${sqlMd5Int("(event_id::VARCHAR || ':conf')")} % 2 = 0
         |          AS cal
         |      FROM events
         |      WHERE event_id IS NOT NULL AND event_type IS NOT NULL
         |        AND value IS NOT NULL),
         |mdl AS (SELECT g, sum(v) // count(*) AS mu FROM b
         |        WHERE cal GROUP BY 1),
         |r AS (SELECT b.cal, abs(b.v - mdl.mu) AS res
         |      FROM b JOIN mdl USING (g)),
         |nc AS (SELECT count(*)::BIGINT AS n_cal FROM r WHERE cal),
         |qh AS (SELECT min(res)::BIGINT AS q_hat FROM (
         |         SELECT res, count(*) OVER (ORDER BY res
         |             ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
         |         FROM r WHERE cal)
         |       WHERE cum >= least(
         |         (((SELECT n_cal FROM nc) + 1) * 90 + 99) // 100,
         |         (SELECT n_cal FROM nc))),
         |ts AS (SELECT count(*)::BIGINT AS n_test,
         |         sum(CASE WHEN res <= (SELECT q_hat FROM qh)
         |             THEN 1 ELSE 0 END)::BIGINT AS n_in
         |       FROM r WHERE NOT cal)
         |SELECT nc.n_cal, ts.n_test, (SELECT q_hat FROM qh) AS q_hat,
         |  CASE WHEN ts.n_test > 0
         |       THEN floor(ts.n_in::DOUBLE / ts.n_test::DOUBLE * 1000000)
         |            / 1000000
         |  END AS coverage
         |FROM nc CROSS JOIN ts""".stripMargin,
    // qlog difference of the add-one smoothed cross products
    "q_woe" ->
      """WITH c AS (SELECT source,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS cp,
        |        sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS cq
        |      FROM documents
        |      WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS k, sum(cp)::BIGINT AS tp,
        |        sum(cq)::BIGINT AS tq FROM c)
        |SELECT source, n_pos, n_neg, woe_scaled,
        |  woe_scaled::DOUBLE / 1000000 AS woe
        |FROM (SELECT source, cp AS n_pos, cq AS n_neg,
        |        (floor(ln(((cp + 1) * (tq + k))::DOUBLE) * 1000000)::BIGINT
        |         - floor(ln(((cq + 1) * (tp + k))::DOUBLE)
        |             * 1000000)::BIGINT)::BIGINT AS woe_scaled
        |      FROM c CROSS JOIN t)""".stripMargin,
    // Σ (share difference numerator)·woe_scaled over the common
    // denominator (tp+k)(tq+k), summed exactly, two casts at the end
    "q_iv" ->
      """WITH c AS (SELECT source,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS cp,
        |        sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS cq
        |      FROM documents
        |      WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS k, sum(cp)::BIGINT AS tp,
        |        sum(cq)::BIGINT AS tq FROM c),
        |s AS (SELECT t.k, t.tp, t.tq,
        |        sum(((cp + 1) * (tq + k) - (cq + 1) * (tp + k))
        |          * (floor(ln(((cp + 1) * (tq + k))::DOUBLE)
        |               * 1000000)::BIGINT
        |             - floor(ln(((cq + 1) * (tp + k))::DOUBLE)
        |                 * 1000000)::BIGINT)) AS sv
        |      FROM c CROSS JOIN t GROUP BY 1, 2, 3)
        |SELECT k AS n_categories, tp AS n_p, tq AS n_q,
        |  sv::DOUBLE AS iv_scaled,
        |  sv::DOUBLE / ((tp + k)::DOUBLE * (tq + k)::DOUBLE * 1000000)
        |    AS iv
        |FROM s""".stripMargin,
    // identical algebra over the spend-decile buckets between cohorts
    "q_psi" ->
      """WITH e AS (SELECT least(greatest(
        |          (floor(value * 100)::BIGINT * 10) // 50000, 0), 9)
        |          AS spend_bucket, user_id
        |      FROM events
        |      WHERE value IS NOT NULL AND user_id IS NOT NULL),
        |c AS (SELECT spend_bucket,
        |        sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0
        |            END)::BIGINT AS cp,
        |        sum(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1
        |            END)::BIGINT AS cq
        |      FROM e GROUP BY 1),
        |t AS (SELECT count(*)::BIGINT AS k, sum(cp)::BIGINT AS tp,
        |        sum(cq)::BIGINT AS tq FROM c),
        |s AS (SELECT t.k, t.tp, t.tq,
        |        sum(((cp + 1) * (tq + k) - (cq + 1) * (tp + k))
        |          * (floor(ln(((cp + 1) * (tq + k))::DOUBLE)
        |               * 1000000)::BIGINT
        |             - floor(ln(((cq + 1) * (tp + k))::DOUBLE)
        |                 * 1000000)::BIGINT)) AS sv
        |      FROM c CROSS JOIN t GROUP BY 1, 2, 3)
        |SELECT k AS n_categories, tp AS n_p, tq AS n_q,
        |  sv::DOUBLE AS psi_scaled,
        |  sv::DOUBLE / ((tp + k)::DOUBLE * (tq + k)::DOUBLE * 1000000)
        |    AS psi
        |FROM s""".stripMargin,
    // the identical md5-drawn Poisson multiplicities — resample b's
    // uniform is word (b mod 4) of md5(id:boot:⌊b/4⌋), mirroring
    // Md5Hash.words4's per-digest four-uniform split — 2·B sums in one
    // aggregate, the B means unnested through quantile_cont
    "q_bootstrap_ci" -> {
      val B = 32
      val ths = Sampling.poissonOneThresholds(8)
      def u(b: Int) =
        s"('0x' || substr(md5(event_id::VARCHAR || ':boot:${b / 4}'), " +
          s"${1 + 8 * (b % 4)}, 8))::BIGINT % 1000000"
      def wgt(b: Int) = ths.map(t =>
        s"(CASE WHEN u$b >= $t THEN 1 ELSE 0 END)").mkString("(", " + ", s")::BIGINT")
      s"""WITH base AS (SELECT floor(value * 100)::BIGINT AS v,
         |        ${(0 until B).map(b => s"${u(b)} AS u$b").mkString(",\n|        ")}
         |      FROM events
         |      WHERE event_id IS NOT NULL AND value IS NOT NULL),
         |w AS (SELECT v,
         |        ${(0 until B).map(b => s"${wgt(b)} AS w$b").mkString(",\n|        ")}
         |      FROM base),
         |a AS (SELECT count(*)::BIGINT AS n_rows, sum(v)::BIGINT AS sx,
         |        ${(0 until B).map(b => s"sum(w$b * v)::BIGINT AS swx$b, sum(w$b)::BIGINT AS sw$b").mkString(",\n|        ")}
         |      FROM w),
         |m AS (SELECT n_rows, sx, unnest([
         |        ${(0 until B).map(b => s"CASE WHEN sw$b > 0 THEN floor(swx$b::DOUBLE / sw$b::DOUBLE * 1000000) / 1000000 END").mkString(",\n|        ")}
         |      ]) AS mm FROM a)
         |SELECT n_rows, count(mm)::BIGINT AS n_resamples,
         |  CASE WHEN n_rows > 0
         |       THEN floor(sx::DOUBLE / n_rows::DOUBLE * 1000000) / 1000000
         |  END AS mean,
         |  floor(quantile_cont(mm, 0.025) * 1000000) / 1000000 AS ci_lo,
         |  floor(quantile_cont(mm, 0.975) * 1000000) / 1000000 AS ci_hi
         |FROM m GROUP BY n_rows, sx""".stripMargin
    },
    // both CMS tables rebuilt cell-for-cell (the q_heavy_hitters md5
    // cells), per-row inner products with empty rows COALESCE'd to 0,
    // min over rows; the exact audit is the distinct-key counts join
    "q_join_size" -> {
      val cellOf = (k: String) =>
        s"${sqlMd5Int(s"(r.i::VARCHAR || ':' || $k)")} % $CmsW"
      s"""WITH rows_ AS (SELECT unnest(range(0, $CmsD)) AS i),
         |ea AS (SELECT user_id::VARCHAR AS k FROM events
         |       WHERE user_id IS NOT NULL),
         |eb AS (SELECT o_custkey::VARCHAR AS k FROM orders
         |       WHERE o_custkey IS NOT NULL),
         |ca AS (SELECT r.i, ${cellOf("a.k")} AS cell,
         |         count(*)::BIGINT AS cnt
         |       FROM ea a CROSS JOIN rows_ r GROUP BY 1, 2),
         |cb AS (SELECT r.i, ${cellOf("b.k")} AS cell,
         |         count(*)::BIGINT AS cnt
         |       FROM eb b CROSS JOIN rows_ r GROUP BY 1, 2),
         |ip AS (SELECT r.i, COALESCE(sum(ca.cnt * cb.cnt), 0)::BIGINT AS s
         |       FROM rows_ r
         |       LEFT JOIN ca ON ca.i = r.i
         |       LEFT JOIN cb ON cb.i = ca.i AND cb.cell = ca.cell
         |       GROUP BY 1),
         |est AS (SELECT min(s)::BIGINT AS e FROM ip),
         |ta AS (SELECT count(*)::BIGINT AS n_a FROM ea),
         |tb AS (SELECT count(*)::BIGINT AS n_b FROM eb),
         |ex AS (SELECT count(*)::BIGINT AS nk,
         |         COALESCE(sum(x.c * y.c), 0)::BIGINT AS ej
         |       FROM (SELECT k, count(*)::BIGINT AS c FROM ea GROUP BY 1) x
         |       JOIN (SELECT k, count(*)::BIGINT AS c FROM eb GROUP BY 1) y
         |         USING (k))
         |SELECT n_a, n_b, nk AS n_keys_common, ej AS exact_join_rows,
         |  e AS est_join_rows,
         |  (e - ej) * $CmsW <= 3 * n_a * n_b AS within_eps
         |FROM ta CROSS JOIN tb CROSS JOIN ex CROSS JOIN est""".stripMargin
    },
    // the dup-cluster closure again, with per-field survivorship:
    // longest text by (length DESC, id ASC), majority lang by
    // (count DESC, lang ASC), min source; singletons via COALESCE
    "q_golden_record" ->
      s"""WITH RECURSIVE $sqlDupClusterCtes,
         |cl AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id
         |       FROM reach GROUP BY node),
         |mem AS (SELECT d.doc_id,
         |          COALESCE(cl.cluster_id, d.doc_id) AS cl2,
         |          d.text, d.lang, d.source
         |        FROM documents d LEFT JOIN cl USING (doc_id)),
         |fld AS (SELECT cl2, count(*)::BIGINT AS n_members,
         |          min(source) AS min_val FROM mem GROUP BY 1),
         |lg AS (SELECT cl2, doc_id AS rep_id, text AS longest_val FROM
         |         (SELECT cl2, doc_id, text, row_number() OVER (
         |            PARTITION BY cl2
         |            ORDER BY length(text) DESC, doc_id) AS rn
         |          FROM mem WHERE text IS NOT NULL) WHERE rn = 1),
         |mjc AS (SELECT cl2, lang AS mv, count(*)::BIGINT AS c
         |        FROM mem WHERE lang IS NOT NULL GROUP BY 1, 2),
         |mj AS (SELECT cl2, mv AS majority_val FROM
         |         (SELECT cl2, mv, row_number() OVER (PARTITION BY cl2
         |            ORDER BY c DESC, mv) AS rn FROM mjc) WHERE rn = 1)
         |SELECT f.cl2 AS cluster_id, f.n_members, lg.rep_id,
         |  lg.longest_val, mj.majority_val, f.min_val
         |FROM fld f LEFT JOIN lg USING (cl2)
         |LEFT JOIN mj USING (cl2)""".stripMargin,
    // the ROC walk again, argmax'd on the INTEGER J numerator with the
    // (jn DESC, threshold DESC) total order
    "q_youden" ->
      """WITH s AS (SELECT n_chars::BIGINT AS threshold,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np,
        |        sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS nn
        |      FROM documents
        |      WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |c AS (SELECT threshold,
        |        sum(np) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_tp,
        |        sum(nn) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_fp
        |      FROM s),
        |t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS ng FROM s),
        |j AS (SELECT threshold, n_tp, n_fp,
        |        (n_tp * ng - n_fp * p)::BIGINT AS jn, p, ng
        |      FROM c CROSS JOIN t)
        |SELECT threshold, n_tp, n_fp,
        |  CASE WHEN p > 0 AND ng > 0
        |       THEN floor(jn::DOUBLE / (p * ng)::DOUBLE * 1000000) / 1000000
        |  END AS j
        |FROM j ORDER BY jn DESC, threshold DESC LIMIT 1""".stripMargin,
    // per coverage target: the first cumulative row at or past
    // ceil(d·N/10); gain and lift from exact integer products
    "q_gains" ->
      """WITH s AS (SELECT n_chars::BIGINT AS threshold,
        |        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS np,
        |        sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END)::BIGINT AS nn
        |      FROM documents
        |      WHERE n_chars IS NOT NULL AND lang IS NOT NULL GROUP BY 1),
        |c AS (SELECT threshold,
        |        sum(np) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_tp,
        |        sum(nn) OVER (ORDER BY threshold DESC
        |          ROWS UNBOUNDED PRECEDING)::BIGINT AS n_fp
        |      FROM s),
        |t AS (SELECT sum(np)::BIGINT AS p, sum(nn)::BIGINT AS ng FROM s),
        |g AS (SELECT b.bucket, c.threshold,
        |        (c.n_tp + c.n_fp)::BIGINT AS ct, c.n_tp, t.p, t.ng,
        |        row_number() OVER (PARTITION BY b.bucket
        |                           ORDER BY c.n_tp + c.n_fp) AS rn
        |      FROM (SELECT unnest(range(1, 11)) AS bucket) b
        |      CROSS JOIN t
        |      JOIN c ON c.n_tp + c.n_fp
        |                  >= (b.bucket * (t.p + t.ng) + 9) // 10)
        |SELECT bucket, threshold, ct AS n_rows, n_tp AS n_pos,
        |  CASE WHEN p > 0
        |       THEN floor(n_tp::DOUBLE / p::DOUBLE * 1000000) / 1000000
        |  END AS gain,
        |  CASE WHEN p > 0
        |       THEN floor((n_tp * (p + ng))::DOUBLE / (p * ct)::DOUBLE
        |              * 1000000) / 1000000
        |  END AS lift
        |FROM g WHERE rn = 1""".stripMargin,
    // q_calibration's binning folded to ECE: the per-bin gap is the
    // exact integer |npos·width − Σ(c−lo)|, one final division
    "q_ece" ->
      """WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
        |        event_type = 'purchase' AS y
        |      FROM events
        |      WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |b AS (SELECT least(greatest((c - 0) * 10 // 50000, 0), 9) AS bin,
        |        c, y FROM s),
        |a AS (SELECT bin, count(*)::BIGINT AS n,
        |        count(CASE WHEN y THEN 1 END)::BIGINT AS npos,
        |        sum(c - 0)::BIGINT AS sc FROM b GROUP BY 1)
        |SELECT sum(n)::BIGINT AS n_rows, count(*)::BIGINT AS n_bins,
        |  sum(abs(npos * 50000 - sc))::BIGINT AS ece_num,
        |  CASE WHEN sum(n) > 0
        |       THEN floor(sum(abs(npos * 50000 - sc))::DOUBLE
        |              / (sum(n)::DOUBLE * 50000) * 1000000) / 1000000
        |  END AS ece
        |FROM a""".stripMargin,
    // one exact integer sum of squared deviations on the same grid
    "q_brier" ->
      """WITH s AS (SELECT floor(value * 100)::BIGINT AS c,
        |        event_type = 'purchase' AS y
        |      FROM events
        |      WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |d AS (SELECT (c - 0) - CASE WHEN y THEN 50000 ELSE 0 END AS dv
        |      FROM s)
        |SELECT count(*)::BIGINT AS n_rows,
        |  COALESCE(sum(dv * dv), 0)::BIGINT AS brier_num,
        |  CASE WHEN count(*) > 0
        |       THEN floor(COALESCE(sum(dv * dv), 0)::DOUBLE
        |              / (count(*)::DOUBLE * 50000 * 50000) * 1000000)
        |            / 1000000
        |  END AS brier
        |FROM d""".stripMargin,
    // the same floored-√ algebra once per language
    "q_hellinger_by_lang" ->
      s"""WITH t AS (SELECT lang, doc_id, unnest($toksSql) AS tok
         |           FROM documents WHERE lang IS NOT NULL),
         |c AS (SELECT lang, tok,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0
         |            END)::BIGINT AS cp,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1
         |            END)::BIGINT AS cq
         |      FROM t WHERE tok IS NOT NULL GROUP BY 1, 2)
         |SELECT lang, count(*)::BIGINT AS n_categories,
         |  sum(cp)::BIGINT AS n_p, sum(cq)::BIGINT AS n_q,
         |  sum(floor(sqrt((cp * cq)::DOUBLE) * 1000000)::BIGINT)::BIGINT
         |    AS bc_scaled,
         |  CASE WHEN sum(cp) > 0 AND sum(cq) > 0 THEN
         |    floor(sqrt(greatest(0.0,
         |      1.0 - sum(floor(sqrt((cp * cq)::DOUBLE)
         |              * 1000000)::BIGINT)::DOUBLE
         |            / (sqrt((sum(cp)::BIGINT * sum(cq)::BIGINT)::DOUBLE)
         |               * 1000000))) * 1000000) / 1000000
         |  END AS hellinger
         |FROM c GROUP BY 1""".stripMargin,
    // JSD without smoothing: the mixture term cp·tq + cq·tp dominates
    // both sides, so zero-count categories contribute exactly 0; the two
    // partial sums stay separate (different denominators), each term the
    // exact BIGINT c·(qlog(2·c·N_other) − qlog(mix))
    "q_jsd" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS cp,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS cq
         |      FROM t GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS k, sum(cp)::BIGINT AS tp,
         |          sum(cq)::BIGINT AS tq FROM c),
         |s AS (SELECT k, tp, tq,
         |        sum(CASE WHEN cp > 0 THEN cp
         |          * (floor(ln((2 * cp * tq)::DOUBLE) * 1000000)::BIGINT
         |           - floor(ln((cp * tq + cq * tp)::DOUBLE) * 1000000)::BIGINT)
         |          ELSE 0 END)::BIGINT AS sp,
         |        sum(CASE WHEN cq > 0 THEN cq
         |          * (floor(ln((2 * cq * tp)::DOUBLE) * 1000000)::BIGINT
         |           - floor(ln((cp * tq + cq * tp)::DOUBLE) * 1000000)::BIGINT)
         |          ELSE 0 END)::BIGINT AS sq
         |      FROM c CROSS JOIN tot GROUP BY 1, 2, 3)
         |SELECT k AS n_categories, tp AS n_p, tq AS n_q,
         |  sp AS jsd_p_scaled, sq AS jsd_q_scaled,
         |  CASE WHEN tp > 0 AND tq > 0 THEN
         |    (sp::DOUBLE / tp::DOUBLE + sq::DOUBLE / tq::DOUBLE)
         |      / (2 * 1000000)
         |  END AS jsd
         |FROM s""".stripMargin,
    // the same two-partial-sum algebra once per language; per-group
    // margins as partitioned window sums over the O(cells) table
    "q_jsd_by_lang" ->
      s"""WITH t AS (SELECT lang, doc_id, unnest($toksSql) AS tok
         |           FROM documents WHERE lang IS NOT NULL),
         |c AS (SELECT lang, tok,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS cp,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END)::BIGINT AS cq
         |      FROM t WHERE tok IS NOT NULL GROUP BY 1, 2),
         |m AS (SELECT lang, cp, cq,
         |        sum(cp) OVER (PARTITION BY lang)::BIGINT AS tp,
         |        sum(cq) OVER (PARTITION BY lang)::BIGINT AS tq FROM c)
         |SELECT lang, count(*)::BIGINT AS n_categories, tp AS n_p,
         |  tq AS n_q,
         |  sum(CASE WHEN cp > 0 THEN cp
         |    * (floor(ln((2 * cp * tq)::DOUBLE) * 1000000)::BIGINT
         |     - floor(ln((cp * tq + cq * tp)::DOUBLE) * 1000000)::BIGINT)
         |    ELSE 0 END)::BIGINT AS jsd_p_scaled,
         |  sum(CASE WHEN cq > 0 THEN cq
         |    * (floor(ln((2 * cq * tp)::DOUBLE) * 1000000)::BIGINT
         |     - floor(ln((cp * tq + cq * tp)::DOUBLE) * 1000000)::BIGINT)
         |    ELSE 0 END)::BIGINT AS jsd_q_scaled,
         |  CASE WHEN tp > 0 AND tq > 0 THEN
         |    (sum(CASE WHEN cp > 0 THEN cp
         |       * (floor(ln((2 * cp * tq)::DOUBLE) * 1000000)::BIGINT
         |        - floor(ln((cp * tq + cq * tp)::DOUBLE) * 1000000)::BIGINT)
         |       ELSE 0 END)::DOUBLE / tp::DOUBLE
         |     + sum(CASE WHEN cq > 0 THEN cq
         |       * (floor(ln((2 * cq * tp)::DOUBLE) * 1000000)::BIGINT
         |        - floor(ln((cp * tq + cq * tp)::DOUBLE) * 1000000)::BIGINT)
         |       ELSE 0 END)::DOUBLE / tq::DOUBLE) / (2 * 1000000)
         |  END AS jsd
         |FROM m GROUP BY lang, tp, tq""".stripMargin,
    // Bhattacharyya terms floored at the term on exact integer products
    // (IEEE sqrt/mul correctly rounded → engine-identical), summed
    // exactly; the final bc/hellinger chain is one fixed op sequence
    "q_hellinger" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |c AS (SELECT tok,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0
         |            END)::BIGINT AS cp,
         |        sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1
         |            END)::BIGINT AS cq
         |      FROM t WHERE tok IS NOT NULL GROUP BY 1)
         |SELECT count(*)::BIGINT AS n_categories,
         |  sum(cp)::BIGINT AS n_p, sum(cq)::BIGINT AS n_q,
         |  sum(floor(sqrt((cp * cq)::DOUBLE) * 1000000)::BIGINT)::BIGINT
         |    AS bc_scaled,
         |  CASE WHEN sum(cp) > 0 AND sum(cq) > 0 THEN
         |    floor(sqrt(greatest(0.0,
         |      1.0 - sum(floor(sqrt((cp * cq)::DOUBLE)
         |              * 1000000)::BIGINT)::DOUBLE
         |            / (sqrt((sum(cp)::BIGINT * sum(cq)::BIGINT)::DOUBLE)
         |               * 1000000))) * 1000000) / 1000000
         |  END AS hellinger
         |FROM c""".stripMargin,
    // the cosine-dup pair graph judged against the label partition:
    // Q·4m² = 4m·Σe_c − Σd_c² on exact integers
    "q_modularity" ->
      s"""WITH $sqlEmbSigCte,
         |p AS (SELECT la.label AS cx, lb.label AS cy
         |      FROM esig a JOIN esig b USING (bucket)
         |      JOIN embeddings la ON la.vec_id = a.vec_id
         |      JOIN embeddings lb ON lb.vec_id = b.vec_id
         |      WHERE a.vec_id < b.vec_id
         |        AND la.label IS NOT NULL AND lb.label IS NOT NULL
         |        AND ${sqlCosine("a.embedding", "b.embedding")} >= 0.3),
         |d AS (SELECT cls, count(*)::BIGINT AS dd FROM
         |        (SELECT cx AS cls FROM p UNION ALL SELECT cy FROM p)
         |      GROUP BY 1),
         |e AS (SELECT cx AS cls, count(*)::BIGINT AS ee FROM p
         |      WHERE cx = cy GROUP BY 1),
         |m AS (SELECT count(*)::BIGINT AS mm FROM p),
         |q AS (SELECT count(*)::BIGINT AS nc,
         |        sum(4 * (SELECT mm FROM m) * COALESCE(ee, 0)
         |            - dd * dd)::BIGINT AS qn
         |      FROM d LEFT JOIN e USING (cls))
         |SELECT m.mm AS n_edges, q.nc AS n_communities, q.qn AS q_num,
         |  floor(q.qn::DOUBLE / (4 * m.mm * m.mm)::DOUBLE * 1000000)
         |    / 1000000 AS modularity
         |FROM m CROSS JOIN q WHERE m.mm > 0""".stripMargin,
    // the compaction spec again, under the events-oracle NULL convention
    // (the streaming machine's order key must be non-null by projection)
    "q_latest_state_stream" ->
      """SELECT user_id, event_id, ms, event_type, value FROM (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type, value,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_ms(ts) DESC,
        |                                     event_id DESC) AS rn
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
        |WHERE rn = 1""".stripMargin,
  )
}
