package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph/association tier: integer fixed-point PageRank and basket lift on
  * hand-computed frames — every expectation derived by doing the same
  * integer arithmetic by hand. Every algorithm is reached through its one
  * public form: a layout builder plus the `…On` / `…From` operator. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000000L

  /** Fixed-iteration integer PageRank: the rank element of the
    * (ranks, residual) pair. */
  private def pagerank(edges: DataFrame, src: String, dst: String,
                       iters: Int, scale: Long = Scale): DataFrame =
    Graph.pagerankWithResidualOn(Graph.pagerankLayout(edges, src, dst),
      iters, scale)._1

  /** The L1 residual row of the same fixpoint. */
  private def pagerankResidual(edges: DataFrame, iters: Int): DataFrame =
    Graph.pagerankWithResidualOn(Graph.pagerankLayout(edges, "s", "d"),
      iters, Scale)._2

  private def hits(edges: DataFrame, src: String, dst: String,
                   iters: Int): DataFrame =
    Graph.hitsWithResidualOn(Graph.hitsLayout(edges, src, dst), iters)._1

  private def labelPropagation(edges: DataFrame, iters: Int): DataFrame =
    Graph.labelPropagationWithMovementOn(
      Graph.lpaLayout(edges, "s", "d2"), iters)._1

  private def und(edges: DataFrame): Graph.UndLayout =
    Graph.undirectedLayout(edges, "s", "d2")

  test("pagerankFixed: a 2-cycle is a fixed point at scale/2 per node") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val got = pagerank(edges, "s", "d", 5)
      .as[(String, Long, Double)].collect().toMap2
    // init scale/2 each; every round: base (scale/2*15) div 100 plus damped
    // (scale/2*85) div 100 = scale/2 again — exact fixed point
    assert(got == Map("a" -> (500000000000L, 0.5), "b" -> (500000000000L, 0.5)))
  }

  test("pagerankFixed: sinks leak, hub keeps only its base share") {
    // a -> b, a -> c; b and c are sinks (outdeg 0)
    val edges = Seq(("a", "b"), ("a", "c")).toDF("s", "d")
    val got = pagerank(edges, "s", "d", 1)
      .select("node", "pr_scaled").as[(String, Long)].collect().toMap
    val init = Scale / 3              // 333333333333
    val base = (init * 15) / 100      // 49999999999
    val half = init / 2               // 166666666666
    val leaf = base + (half * 85) / 100
    assert(got == Map("a" -> base, "b" -> leaf, "c" -> leaf))
  }

  test("pagerankFixed: total mass is bounded by scale and ranks stay positive") {
    val edges = (1 to 60).map(i => (s"n${i % 10}", s"n${(i * 7) % 10}"))
      .toDF("s", "d")
    val rs = pagerank(edges, "s", "d", 8)
      .select("pr_scaled").as[Long].collect()
    assert(rs.sum <= Scale && rs.forall(_ > 0))
  }

  test("pagerankFixed is partitioning-invariant and collapses parallel edges") {
    val base = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"))
    val e1 = base.toDF("s", "d")
    val e2 = (base ++ base).toDF("s", "d").repartition(7) // dup edges + reshuffle
    val r1 = pagerank(e1, "s", "d", 4)
      .as[(String, Long, Double)].collect().toSet
    val r2 = pagerank(e2, "s", "d", 4)
      .as[(String, Long, Double)].collect().toSet
    assert(r1 == r2)
  }

  test("pagerankFixed drops NULL endpoints and guards its parameters") {
    val edges = Seq((Option("a"), Option("b")), (Option.empty[String], Option("x")),
      (Option("y"), Option.empty[String])).toDF("s", "d")
    val nodes = pagerank(edges, "s", "d", 1)
      .select("node").as[String].collect().toSet
    assert(nodes == Set("a", "b")) // x/y rode in on NULL-endpoint edges only
    assertThrows[IllegalArgumentException](pagerank(edges, "s", "d", 0))
    assertThrows[IllegalArgumentException](pagerank(edges, "s", "d", 51))
    assertThrows[IllegalArgumentException](
      pagerank(edges, "s", "d", 5, 1000L))
    assertThrows[IllegalArgumentException](
      pagerank(edges.withColumnRenamed("s", "node"), "node", "d", 5))
  }

  test("triangleStats counts K4 exactly; dups, self-loops, NULLs drop") {
    val k4 = for (a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d")
      if a < b) yield (Option(a), Option(b))
    val noisy = k4 ++ Seq((Option("b"), Option("a")), // dup, reversed
      (Option("c"), Option("c")),                      // self-loop
      (Option.empty[String], Option("a")))             // NULL endpoint
    val got = Graph.triangleStats(noisy.toDF("s", "d"), "s", "d")
      .as[(Long, Long, Long, Long, Double)].collect().head
    // K4: 6 edges, deg 3 each -> wedges 4*3 = 12, triangles 4, 12/12 = 1.0
    assert(got == ((4L, 6L, 12L, 4L, 1.0)))
  }

  test("triangleStats: triangle plus pendant gives clustering 3/5") {
    val df = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")).toDF("s", "d")
    val got = Graph.triangleStats(df, "s", "d")
      .as[(Long, Long, Long, Long, Double)].collect().head
    // degrees a2 b2 c3 d1 -> wedges 1+1+3+0 = 5; one triangle; 3/5 = 0.6
    assert(got == ((4L, 4L, 5L, 1L, 0.6)))
    val bip = Seq(("u1", "v1"), ("u1", "v2"), ("u2", "v1")).toDF("s", "d")
    val none = Graph.triangleStats(bip, "s", "d")
      .as[(Long, Long, Long, Long, Double)].collect().head
    assert(none._4 == 0L && none._5 == 0.0) // bipartite: no triangles
    assertThrows[IllegalArgumentException](
      Graph.triangleStats(df.withColumnRenamed("s", "node"), "node", "d"))
  }

  test("basketLift computes the hand-checked lift and applies minSupport") {
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"), (2L, "y"),
      (3L, "x"), (3L, "z"), (4L, "y")).toDF("bk", "it") // (2,y) duplicated
    val got = Graph.basketLift(rows, "bk", "it", 2L, 10)
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSeq
    // only (x,y) reaches support 2: lift = (2*4)/(3*3) = 0.888888 trunc6
    assert(got == Seq(("x", "y", 2L, 3L, 3L, 4L, 0.888888)))
  }

  test("basketLift excludes oversize baskets entirely and recounts totals") {
    val rows = Seq((1L, "x"), (1L, "y"), (2L, "x"), (2L, "y"),
      (9L, "x"), (9L, "y"), (9L, "z")).toDF("bk", "it")
    val got = Graph.basketLift(rows, "bk", "it", 1L, 2)
      .as[(String, String, Long, Long, Long, Long, Double)].collect().toSeq
    // basket 9 (3 items > cap 2) vanishes: 2 baskets, x/y freq 2 each,
    // lift = (2*2)/(2*2) = 1.0
    assert(got == Seq(("x", "y", 2L, 2L, 2L, 2L, 1.0)))
    assertThrows[IllegalArgumentException](
      Graph.basketLift(rows, "bk", "it", 0L, 10))
    assertThrows[IllegalArgumentException](
      Graph.basketLift(rows, "bk", "it", 1L, 1))
    assertThrows[IllegalArgumentException](
      Graph.basketLift(rows.withColumnRenamed("it", "lift"), "bk", "lift", 1L, 2))
  }

  test("pagerankResidual: a 2-cycle fixed point has zero residual; a " +
      "non-symmetric graph's residual shrinks as iters grow") {
    val cyc = Seq(("a", "b"), ("b", "a")).toDF("s", "d")
    val r0 = pagerankResidual(cyc, 3).as[(Long, Long, Double)].head()
    assert(r0 == ((2L, 0L, 0.0))) // exact fixed point from round 0
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("s", "d")
    def l1(iters: Int): Long =
      pagerankResidual(edges, iters).as[(Long, Long, Double)].head()._2
    assert(l1(12) < l1(2)) // damping contracts the iteration
    // the gauge's last round must agree with the ranks: residual
    // recomputed by hand from the two fixed runs
    val p1 = pagerank(edges, "s", "d", 3)
      .select("node", "pr_scaled").as[(String, Long)].collect().toMap
    val p2 = pagerank(edges, "s", "d", 4)
      .select("node", "pr_scaled").as[(String, Long)].collect().toMap
    val want = p1.keys.map(k => math.abs(p2(k) - p1(k))).sum
    assert(l1(4) == want)
  }

  test("pagerankResidual: empty graph emits the (0, 0, 0.0) row") {
    val empty = Seq.empty[(String, String)].toDF("s", "d")
    assert(pagerankResidual(empty, 3).as[(Long, Long, Double)].head() ==
      ((0L, 0L, 0.0)))
  }

  private implicit class Map2[A, B, C](rows: Array[(A, B, C)]) {
    def toMap2: Map[A, (B, C)] = rows.map(r => r._1 -> (r._2, r._3)).toMap
  }

  /** Brute-force HITS with the SAME integer half-steps (Long `/` on
    * non-negative operands ≡ `div`). */
  private def bruteHits(edges: Set[(Long, Long)], iters: Int,
                        scale: Long): Map[Long, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2))
    var h = nodes.map(_ -> scale).toMap
    var a = Map.empty[Long, Long]
    for (_ <- 1 to iters) {
      val ap = nodes.map(v =>
        v -> edges.toSeq.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      val sa = ap.values.sum
      a = nodes.map(v => v -> (if (sa > 0) ap(v) * scale / sa else 0L)).toMap
      val hp = nodes.map(u =>
        u -> edges.toSeq.filter(_._1 == u).map(e => a(e._2)).sum).toMap
      val sh = hp.values.sum
      h = nodes.map(u => u -> (if (sh > 0) hp(u) * scale / sh else 0L)).toMap
    }
    nodes.map(n => n -> ((h(n), a(n)))).toMap
  }

  test("hitsFixed matches the brute-force integer half-steps; pure sources " +
    "hold authority 0 and pure sinks hold hub 0") {
    val edges = Set((1L, 10L), (1L, 11L), (2L, 10L), (3L, 11L), (3L, 12L),
      (10L, 2L)) // 10 also points back at 2: mixed hub/authority
    val df = edges.toSeq.toDF("s", "d").repartition(3)
    val got = hits(df, "s", "d", 3)
      .select("node", "hub_scaled", "auth_scaled")
      .as[(Long, Long, Long)].collect().toMap2
    assert(got == bruteHits(edges, 3, 1000000L))
    assert(got(1L)._2 == 0L)  // nothing points at 1 ⇒ authority exactly 0
    assert(got(12L)._1 == 0L) // 12 points at nothing ⇒ hub exactly 0
  }

  test("hitsFixed: parallel edges collapse and NULL endpoints drop") {
    val df = Seq((Some(1L), Some(10L)), (Some(1L), Some(10L)),
      (Some(1L), None), (None, Some(10L))).toDF("s", "d")
    val got = hits(df, "s", "d", 2)
      .select("node", "hub_scaled", "auth_scaled")
      .as[(Long, Long, Long)].collect().toMap2
    assert(got == bruteHits(Set((1L, 10L)), 2, 1000000L))
  }

  test("bfsDistances: true hop distances on a path, capped at rounds, " +
    "beyond-cap nodes absent, isolated seed kept at 0") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("s", "d")
    val seeds = Seq(1L, 99L).toDF("node") // 99 is not in the graph
    val got = Graph.bfsDistancesOn(Graph.pagerankLayout(edges, "s", "d"),
        seeds, 4)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L,
      99L -> 0L)) // 6 is 5 hops out — absent under the cap
  }

  test("pagerankPersonalized matches the brute-force seed-based integer " +
      "rounds; non-seed teleport mass is exactly 0 at init") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("s", "d")
    val seeds = Seq("a", "zz").toDF("node") // zz is outside the edge set
    val got = Graph.pagerankPersonalizedOn(
        Graph.pagerankLayout(edges, "s", "d"), seeds, 3, Scale)
      .select("node", "pr_scaled").as[(String, Long)].collect().toMap
    // brute force: S = 1 survivor (a); same integer ops
    val es = Set(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    val nodes = Set("a", "b", "c", "d")
    val outdeg = es.groupBy(_._1).map { case (u, g) => u -> g.size.toLong }
    val init = Scale / 1L; val base = (init * 15L) / 100L
    var pr = nodes.map(n => n -> (if (n == "a") init else 0L)).toMap
    for (_ <- 1 to 3) {
      val sums = nodes.map(v => v ->
        es.toSeq.filter(_._2 == v).map(e => pr(e._1) / outdeg(e._1)).sum).toMap
      pr = nodes.map(v => v ->
        ((if (v == "a") base else 0L) + (sums(v) * 85L) / 100L)).toMap
    }
    assert(got == pr)
    // d only RECEIVES mass (never teleports): strictly less than the seed
    assert(got("d") < got("a"))
  }

  test("pagerankPersonalized: no surviving seeds emits all-zero ranks") {
    val edges = Seq(("a", "b")).toDF("s", "d")
    val got = Graph.pagerankPersonalizedOn(
        Graph.pagerankLayout(edges, "s", "d"), Seq("nope").toDF("node"), 2,
        Scale)
      .select("node", "pr_scaled").as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 0L, "b" -> 0L))
  }

  test("bfsDistances: multi-source takes the MIN over seeds and relaxes " +
    "through cycles without double-counting") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 3L)).toDF("s", "d")
    val got = Graph.bfsDistancesOn(Graph.pagerankLayout(edges, "s", "d"),
      Seq(1L, 4L).toDF("node"), 3).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 1L))
  }

  test("pagerankWeighted matches the brute-force weighted integer rounds " +
      "and collapses parallel edges by SUMMING weights") {
    val edges = Seq(("a", "b", 3L), ("a", "b", 1L), ("a", "c", 1L),
      ("b", "a", 2L), ("c", "a", 5L)).toDF("s", "d", "w")
    val got = Graph.pagerankWeighted(edges, "s", "d", "w", 3, Scale)
      .select("node", "pr_scaled").as[(String, Long)].collect().toMap
    val es = Map(("a", "b") -> 4L, ("a", "c") -> 1L, ("b", "a") -> 2L,
      ("c", "a") -> 5L)
    val nodes = Set("a", "b", "c")
    val tw = es.groupBy(_._1._1).map { case (u, g) => u -> g.values.sum }
    val init = Scale / 3L; val base = (init * 15L) / 100L
    var pr = nodes.map(_ -> init).toMap
    for (_ <- 1 to 3) {
      val sums = nodes.map(v => v -> es.collect {
        case ((u, vv), w) if vv == v => (pr(u) * w) / tw(u)
      }.sum).toMap
      pr = nodes.map(v => v -> (base + (sums(v) * 85L) / 100L)).toMap
    }
    assert(got == pr)
  }

  test("pagerankWeighted refuses non-positive weights loudly") {
    val edges = Seq(("a", "b", 0L)).toDF("s", "d", "w")
    val e = intercept[Exception] {
      Graph.pagerankWeighted(edges, "s", "d", "w", 2, Scale).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("pagerankWeighted")))
  }

  test("kcoreSurvivors peels a pendant chain off a K4 core and keeps the " +
      "clique at degree 3; the chain node adjacent to the core needs a " +
      "second round") {
    // K4 on {a,b,c,d} + path d—e—f. k=2: round 1 peels f (deg 1); round 2
    // peels e (deg 1 after f left); the K4 plus d's full degree remain.
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f")).toDF("s", "d2")
    val r1 = Graph.kcoreSurvivorsOn(und(edges), 2, 1)
      .as[(String, Long)].collect().toMap
    assert(r1 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 4L, "e" -> 1L))
    val r2 = Graph.kcoreSurvivorsOn(und(edges), 2, 2)
      .as[(String, Long)].collect().toMap
    assert(r2 == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    // converged: a third round changes nothing
    val r3 = Graph.kcoreSurvivorsOn(und(edges), 2, 3)
      .as[(String, Long)].collect().toMap
    assert(r3 == r2)
  }

  test("adamicAdar: exact scores on a hand graph, adjacent pairs excluded, " +
      "the middle-degree cap empties the wedge set") {
    // square with one diagonal: 1-2, 2-3, 1-3, 3-4, 2-4.
    // degrees: 1→2, 2→3, 3→3, 4→2. Non-adjacent pairs sharing a
    // neighbor: only (1,4), common middles {2, 3} (both deg 3).
    val edges = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"),
      ("2", "4")).toDF("s", "d2")
    def aa(cap: Int) = Graph.adamicAdarFrom(
      Graph.commonNeighborStatsOn(und(edges), cap), 10)
    val got = aa(64)
      .as[(String, String, Long, Long)].collect().toSeq
    val qlog3 = math.floor(math.log(3.0) * 1e6).toLong
    assert(got == Seq(("1", "4", 2L, 2L * (1000000000000L / qlog3))))
    // cap 2 keeps only deg-2 middles (nodes 1 and 4), whose wedge pairs
    // (2,3) are adjacent — nothing survives the anti join
    assert(aa(2).isEmpty)
  }

  test("neighborJaccard: exact union-normalized scores on the same hand " +
      "graph; endpoint degrees exact while middles are capped") {
    // square with a diagonal (see adamicAdar test): the only candidate
    // is (1,4) — common {2,3}, deg 1 = 2, deg 4 = 2, union = 2+2−2 = 2
    val edges = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"),
      ("2", "4")).toDF("s", "d2")
    def jac(e: DataFrame) = Graph.neighborJaccardFrom(
      Graph.commonNeighborStatsOn(und(e), 64), 10)
    val got = jac(edges)
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(got == Seq(("1", "4", 2L, 2L, 2L, 1000000L, 1.0)))
    // triangle 1-2, 2-3, 1-3 plus 3-4: candidates (1,4) and (2,4)
    // through middle 3 — union = 2+1−1 = 2 → 0.5 each
    val tri = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"))
      .toDF("s", "d2")
    val got2 = jac(tri)
      .as[(String, String, Long, Long, Long, Long, Double)]
      .collect().toSeq
    assert(got2 == Seq(("1", "4", 1L, 2L, 1L, 500000L, 0.5),
      ("2", "4", 1L, 2L, 1L, 500000L, 0.5)))
  }

  test("modularity: two bridged triangles score the textbook 70/196; " +
      "unlabeled endpoints leave m; conflicting labels are the caller's " +
      "problem but duplicates collapse") {
    // triangles {a,b,c} and {d,e,f} bridged by c—d
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("d", "e"),
      ("d", "f"), ("e", "f"), ("c", "d")).toDF("s", "d2")
    val lab = Seq(("a", "L"), ("b", "L"), ("c", "L"), ("d", "R"),
      ("e", "R"), ("f", "R"), ("f", "R")).toDF("n", "c") // dup row: collapses
    val r = Graph.modularity(edges, "s", "d2", lab, "n", "c").head()
    // m=7, e_L=e_R=3, d_L=d_R=7: q_num = 4·7·6 − 2·49 = 70; Q = 70/196
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (7L, 2L, 70L))
    assert(r.getDouble(3) == math.floor(70.0 / 196.0 * 1e6) / 1e6)
    // drop f's label: edges d—f and e—f leave m entirely
    val lab2 = lab.filter(col("n") =!= "f")
    val r2 = Graph.modularity(edges, "s", "d2", lab2, "n", "c").head()
    // m=5 (both triangles minus f's two edges, plus bridge):
    // e_L=3, e_R=1, d_L=7, d_R=3: q_num = 4·5·4 − (49+9) = 22
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == (5L, 2L, 22L))
    // zero labeled edges → empty result, not a fake 0-quality row
    assert(Graph.modularity(edges, "s", "d2",
      Seq(("zz", "X")).toDF("n", "c"), "n", "c").isEmpty)
  }

  test("localClustering: a bridged triangle hand graph; corner sum is " +
      "3× the global triangle count on the diagonal-square graph") {
    // triangle {a,b,c} + bridge c—d
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"))
      .toDF("s", "d2")
    val got = Graph.localClusteringOn(und(edges))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))).toMap
    assert(got("a") == ((2L, 1L, 1.0)))
    assert(got("b") == ((2L, 1L, 1.0)))
    assert(got("c") == ((3L, 1L, math.floor(2.0 / 6.0 * 1e6) / 1e6)))
    assert(got("d") == ((1L, 0L, null))) // degree 1: lcc undefined
    // square with one diagonal: 2 triangles; corner credits sum to 6,
    // matching 3× triangleStats' global count
    val sq = Seq(("1", "2"), ("2", "3"), ("1", "3"), ("3", "4"),
      ("2", "4")).toDF("s", "d2")
    val per = Graph.localClusteringOn(und(sq)).collect()
    assert(per.map(_.getLong(2)).sum == 3L *
      Graph.triangleStats(sq, "s", "d2").head().getLong(3))
  }

  test("labelPropagation: two bridged triangles converge to two " +
      "communities under the hand-walked synchronous rounds") {
    // triangles {1,2,3} and {10,11,12}, bridge 3—10; directed/dup/self
    // noise must collapse to the same undirected simple graph
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (2L, 3L), (3L, 10L),
      (10L, 11L), (10L, 12L), (11L, 12L), (11L, 11L)).toDF("s", "d2")
    def labels(i: Int): Map[Long, Long] =
      labelPropagation(edges, i)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // round 1: every node takes its min neighbor id (all counts are 1)
    assert(labels(1) == Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L))
    // round 4 (the hand walk): the left triangle settles on 1; the right
    // settles on 3 — the bridge's propagated label, classic LPA
    assert(labels(4) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    // composed with modularity: both communities' labels are consistent
    val q = Graph.modularity(edges, "s", "d2",
      labelPropagation(edges, 4), "node", "label").head()
    assert(q.getLong(0) == 7L && q.getLong(1) == 2L) // 7 edges, 2 comms
    // iters out of range fails loud
    val e = intercept[IllegalArgumentException] {
      labelPropagation(edges, 0)
    }
    assert(e.getMessage.contains("iters"))
    // the movement gauge off the same walk: l1 vs l2 differ at nodes
    // 1, 10, 11, 12 (hand walk); by round 4 the partition is a fixed
    // point, so the last round moved nothing
    val layout = Graph.lpaLayout(edges, "s", "d2")
    val m2 = Graph.labelPropagationWithMovementOn(layout, 2)._2.head()
    assert((m2.getLong(0), m2.getLong(1)) == ((6L, 4L)))
    assert(m2.getDouble(2) == math.floor(4d / 6d * 1e6) / 1e6)
    val m4 = Graph.labelPropagationWithMovementOn(layout, 4)._2.head()
    assert((m4.getLong(0), m4.getLong(1), m4.getDouble(2)) ==
      ((6L, 0L, 0.0)))
  }

  test("labelPropagationWeighted: multiplicity out-votes the min-label " +
      "tie; parallel edges collapse by weight sum") {
    // path 1—2—3 with w(1,2)=1, w(2,3)=5: unweighted round 1 ties node 2
    // between labels 1 and 3 (min wins -> 1); weighted, label 3 casts 5
    // votes and wins. The (2,3) weight arrives as parallel edges in both
    // orientations (2+3) to pin the collapse-by-sum rule.
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 2L, 3L))
      .toDF("s", "d2", "w")
    val weighted = Graph.labelPropagationWeightedOn(
        Graph.lpaWeightedLayout(edges, "s", "d2", "w"), 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted == Map(1L -> 2L, 2L -> 3L, 3L -> 2L))
    val unweighted = labelPropagation(edges, 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unweighted(2L) == 1L) // the tie the weights flip
    // non-positive weight fails loud
    val bad = Seq((1L, 2L, 0L)).toDF("s", "d2", "w")
    val e = intercept[Exception] {
      Graph.labelPropagationWeightedOn(
        Graph.lpaWeightedLayout(bad, "s", "d2", "w"), 1).collect()
    }
    assert(e.getMessage.contains("non-positive weight"))
  }

  test("communityCard: hand conductance per community; unlabeled " +
      "endpoint fails loud; edgeless community zeroes") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (7L, 7L))
      .toDF("n", "lbl")
    val edges = Seq((1L, 2L, 4L), (3L, 4L, 2L), (2L, 3L, 1L))
      .toDF("s", "d2", "w")
    def card(e: DataFrame) = Graph.communityCardFrom(
      Graph.weightedUndirected(e, "s", "d2", "w"), labels, "n", "lbl")
    val got = card(edges)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) null else r.getDouble(5))).toMap
    // c1: intra (1,2) w4, cut (2,3) w1 -> 1/(2*4+1); c3: 1/(2*2+1)
    assert(got(1L) == ((2L, 1L, 4L, 1L,
      math.floor(1d / 9d * 1e6) / 1e6)))
    assert(got(3L) == ((2L, 1L, 2L, 1L,
      math.floor(1d / 5d * 1e6) / 1e6)))
    assert(got(7L) == ((1L, 0L, 0L, 0L, null))) // island, 0/0 undefined
    // an edge to a node the partition never labeled must throw, not
    // silently drop (a dropped edge understates the cut)
    val dangling = edges.union(Seq((4L, 5L, 1L)).toDF("s", "d2", "w"))
    val e = intercept[Exception] {
      card(dangling).collect()
    }
    assert(e.getMessage.contains("unlabeled endpoint"))
  }

  test("modularityWeighted: hand-computed Q*4m^2 on the two-community " +
      "weighted graph") {
    // c1 = {1,2}, c3 = {3,4}; w(1,2)=3, w(3,4)=2, cut w(2,3)=1 -> m=6
    // e_c1=3, e_c3=2; d_c1 = 3+(3+1) = 7, d_c3 = (2+1)+2 = 5
    // q_num = (4*6*3 - 49) + (4*6*2 - 25) = 23 + 23 = 46; Q = 46/144
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("n", "lbl")
    val edges = Seq((1L, 2L, 3L), (3L, 4L, 2L), (2L, 3L, 1L))
      .toDF("s", "d2", "w")
    val q = Graph.modularityWeighted(edges, "s", "d2", "w", labels,
      "n", "lbl").head()
    assert((q.getLong(0), q.getLong(1), q.getLong(2)) == ((6L, 2L, 46L)))
    assert(q.getDouble(3) == math.floor(46d / 144d * 1e6) / 1e6)
    // all weights 1 degrades to the unweighted gauge exactly
    val ones = edges.withColumn("w", lit(1L))
    val uw = Graph.modularity(ones, "s", "d2", labels, "n", "lbl").head()
    val w1 = Graph.modularityWeighted(ones, "s", "d2", "w", labels,
      "n", "lbl").head()
    assert(uw.getLong(2) == w1.getLong(2) &&
      uw.getDouble(3) == w1.getDouble(3))
  }

  test("hitsWithResidual == (hitsFixed at iters, L1 vs iters-1); a " +
      "bipartite fixed point has zero residual") {
    val edges = Seq((1L, 101L), (1L, 102L), (2L, 102L), (3L, 103L))
      .toDF("s", "d2")
    val layout = Graph.hitsLayout(edges, "s", "d2")
    val residual = Graph.hitsWithResidualOn(layout, 3)._2
    def scores(i: Int): Map[Long, (Long, Long)] =
      Graph.hitsWithResidualOn(layout, i)._1.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (s3, s2) = (scores(3), scores(2))
    val r = residual.head()
    assert(r.getLong(0) == 6L)
    assert(r.getLong(1) == s3.map { case (n, (h, _)) =>
      math.abs(h - s2(n)._1) }.sum)
    assert(r.getLong(2) == s3.map { case (n, (_, a)) =>
      math.abs(a - s2(n)._2) }.sum)
    // star hub: one hub, one authority — normalized scores stabilize
    // after round 1, so the round-2 residual is exactly zero
    val star = Seq((1L, 2L), (1L, 3L)).toDF("s", "d2")
    val starLayout = Graph.hitsLayout(star, "s", "d2")
    val rs = Graph.hitsWithResidualOn(starLayout, 2)._2.head()
    assert((rs.getLong(1), rs.getLong(2)) == ((0L, 0L)))
    assert(rs.getDouble(3) == 0.0 && rs.getDouble(4) == 0.0)
    val e = intercept[IllegalArgumentException] {
      Graph.hitsWithResidualOn(starLayout, 1)
    }
    assert(e.getMessage.contains("iters"))
  }

  test("harmonicCentrality: reciprocal-distance sums over per-seed BFS " +
      "fields on a bidirected path; seed self-distance excluded, " +
      "unreached nodes absent") {
    // path 1—2—3 (both directions), seeds {1, 3}, cap 3
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("s", "d")
    val seeds = Seq(1L, 3L).toDF("node")
    val dist = Graph.bfsDistancesPerSeedOn(
      Graph.pagerankLayout(edges, "s", "d"), seeds, 3)
    val perSeed = dist.as[(Long, Long, Long)].collect().toSet
    assert(perSeed == Set((1L, 1L, 0L), (1L, 2L, 1L), (1L, 3L, 2L),
      (3L, 3L, 0L), (3L, 2L, 1L), (3L, 1L, 2L)))
    val got = Graph.harmonicCentralityFrom(dist)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      1L -> ((1L, 500000L)),  // only seed 3 at distance 2
      2L -> ((2L, 2000000L)), // both seeds at distance 1
      3L -> ((1L, 500000L))))
  }

  test("betweennessSampled: hand Brandes on a diamond — two equal paths " +
      "split the dependency, endpoints score zero, seed runs sum") {
    def betweenness(edges: DataFrame, seeds: DataFrame): DataFrame = {
      val l = Graph.pagerankLayout(edges, "s", "d")
      Graph.betweennessSampledFromOn(
        Graph.bfsDistancesPerSeedOn(l, seeds, 3).localCheckpoint(true), l, 3)
    }
    // diamond 1—2—4, 1—3—4 (bidirected)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("s", "d")
    // one seed: σ(4) = 2, so 2 and 3 each carry half a dependency
    val one = betweenness(edges, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == Map(2L -> 500000L, 3L -> 500000L, 4L -> 0L))
    // both ends as seeds: the symmetric runs sum; endpoints stay 0
    val both = betweenness(edges, Seq(1L, 4L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(both == Map(1L -> 0L, 2L -> 1000000L, 3L -> 1000000L, 4L -> 0L))
    // a funnel: path 1—2—3 plus 2—5; node 2 brokers EVERY path from 1
    val p = Seq((1L, 2L), (2L, 3L), (2L, 5L))
    val pe = (p ++ p.map(_.swap)).toDF("s", "d")
    val fun = betweenness(pe, Seq(1L).toDF("node"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fun == Map(2L -> 2000000L, 3L -> 0L, 5L -> 0L))
  }
}
