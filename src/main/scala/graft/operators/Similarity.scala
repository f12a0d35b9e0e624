package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector-similarity search over an embedding column (array<float>) — beyond
  * the reference surface; designed for the `embeddings` table.
  *
  * All math uses higher-order Column functions (zip_with / aggregate), which
  * evaluate inside codegen without UDF boxing. Two tiers:
  *  - bruteForceTopK: exact top-k for a small query set — broadcast the
  *    queries, one pass over the corpus, per-query top-k via window rank.
  *    At 100 TB the corpus side stays partition-parallel with no shuffle on
  *    the corpus (only the final tiny top-k aggregation moves data).
  *  - lshTopK: the scale path for query sets too large to broadcast —
  *    random-hyperplane LSH buckets both sides, candidates only within a
  *    bucket (same pattern as Dedup.minhashPairs).
  */
object Similarity {

  /** Sequential left-fold dot product in double precision. Operands are cast
    * to double BEFORE the multiply (float→double widening is exact), and the
    * fold order is fixed, so the result is bit-identical on any engine that
    * folds left — which makes cosine scores, ranks, and thresholds
    * oracle-reproducible instead of ulp-flaky. Runs as a native codegen'd
    * kernel (graft.expressions.DotFold); the aggregate/zip_with Column form
    * evaluated interpreted, three tree-walks per cosine. */
  private[graft] def dot(a: Column, b: Column): Column =
    graft.expressions.VectorKernelExpressions.dotFold(a, b)

  /** Interpreted Column form of dot — VectorKernelSpec's bit-parity oracle
    * (it is what the DuckDB list_reduce oracle mirrors fold-for-fold). */
  private[graft] def dotColumnForm(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, v) => acc + v)

  private[graft] def norm(a: Column): Column = sqrt(dot(a, a))

  private[graft] def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Fail-loud size contract for a query side about to be BROADCAST: probe
    * at most cap+1 rows (`limit` bounds the scan — the check costs O(cap)
    * regardless of how big the slice actually is, never a full count) and
    * refuse with a diagnostic instead of letting an oversized audit slice
    * OOM the driver inside the broadcast build. The HotKeyTopN idiom:
    * "small" is a coded bound, not a docstring convention. */
  private def requireBroadcastable(queries: DataFrame, cap: Int,
                                   op: String): Unit = {
    require(cap > 0, s"$op: maxQueries must be positive, got $cap")
    val probed = queries.limit(cap + 1).count()
    require(probed <= cap,
      s"$op: query side holds more than maxQueries=$cap rows — it is " +
        "broadcast to every executor, so an unbounded slice is a driver " +
        "OOM, not a slow query. Hash-sample the audit slice (docSample), " +
        "route a full self-audit through the lshTopKMulti candidate join, " +
        "or raise maxQueries deliberately.")
  }

  /** Exact cosine top-k neighbors for each query vector. `queries` must be
    * small — it is broadcast, and the `maxQueries` cap enforces that as a
    * fail-loud diagnostic (bounded limit-probe, not a full count) instead
    * of a docstring convention; the corpus scan is embarrassingly parallel.
    * Ties broken by neighbor id; self-matches excluded by id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, id: String,
                     vec: String, k: Int,
                     maxQueries: Int = 16384): DataFrame = {
    requireBroadcastable(queries, maxQueries, "bruteForceTopK")
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val scored = corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** k-NN label disagreement — the noisy-label screen: for each audited
    * point, how many of its k nearest neighbors (exact cosine) carry a
    * DIFFERENT label? A high rate marks the point for relabel/drop review
    * before it poisons training. `queries` is the audit slice and must be
    * small (broadcast — pick it with the deterministic hash-sample
    * pattern, the docSample contract: the audit is a QA gauge, so a
    * seeded sample is the 100 TB shape; a FULL self-audit composes the
    * lshTopKMulti candidate join instead of this broadcast). Neighbor
    * ranking is bruteForceTopK's exactly: fold-exact cosine, score-desc
    * with id tiebreak, self-matches excluded. NULL-label query points
    * drop (nothing to disagree with); NULL-label NEIGHBORS count toward
    * k but not toward disagreement (unknown ≠ different — flagging on
    * missing labels would conflate two data bugs). `k_actual` ≤ k when
    * the corpus is small. Emits
    * (query_id, label, k_actual, n_disagree, disagree_rate). */
  def knnLabelDisagreement(corpus: DataFrame, queries: DataFrame,
                           id: String, vec: String, label: String,
                           k: Int, maxQueries: Int = 16384): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requireBroadcastable(queries, maxQueries, "knnLabelDisagreement")
    val q = queries.filter(col(label).isNotNull)
      .select(col(id).as("query_id"), col(vec).as("_qv"),
        col(label).as("_qlab"))
    val scored = corpus
      .select(col(id).as("neighbor_id"), col(vec).as("_cv"),
        col(label).as("_nlab"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("_score", cosine(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("_score").desc, col("neighbor_id"))
    scored.withColumn("_rank", row_number().over(w))
      .filter(col("_rank") <= k)
      .groupBy(col("query_id"))
      .agg(max(col("_qlab")).as("label"),
        count(lit(1)).as("k_actual"),
        count(when(col("_nlab") =!= col("_qlab"), lit(1)))
          .as("n_disagree"))
      .select(col("query_id"), col("label"), col("k_actual"),
        col("n_disagree"),
        (floor(col("n_disagree").cast("double")
          / col("k_actual").cast("double") * 1000000d) / 1000000d)
          .as("disagree_rate"))
  }

  /** Johnson–Lindenstrauss random projection: reduce `vec` to `m` dense
    * features `rp_0..rp_{m-1}`, each the exact sequential-fold dot against
    * a deterministic ±1 plane — the database-friendly JL matrix
    * (Achlioptas): with m = O(log n / ε²) planes, pairwise distances are
    * preserved within (1 ± ε) w.h.p. This is hyperplaneSig's dense
    * sibling: the signature keeps only the SIGN bits for bucketing, the
    * projection keeps the dot values so downstream exact/IVF search runs
    * in m dims instead of `dims` (project 768-dim embeddings to 64 before
    * the ANN tier — the standard 100 TB preamble). Map-only, zero shuffle;
    * each component is one codegen'd DotFold against a plan-literal plane,
    * and the ±1 entries derive from the same md5(plane:dim) recipe as the
    * LSH family, so any engine rebuilds the matrix bit-for-bit
    * (q_rand_project's oracle does). Raw dots are emitted — the 1/√m JL
    * scale is a constant that cancels in cosine; apply it downstream if
    * calibrated distances are needed. `planeOffset` selects an independent
    * matrix, disjoint from LSH's planes if both run on one corpus. */
  def randomProject(df: DataFrame, vec: String, dims: Int, m: Int,
                    planeOffset: Int = 0, prefix: String = "rp_"): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    require(m > 0, s"m (output dims) must be positive, got $m")
    val names = (0 until m).map(j => s"$prefix$j")
    val clash = df.columns.intersect(names)
    require(clash.isEmpty,
      s"randomProject emits ${prefix}0..$prefix${m - 1}; " +
        s"rename the input's ${clash.mkString(", ")}")
    df.select(df.columns.map(col) ++ (0 until m).map { j =>
      graft.expressions.VectorKernelExpressions
        .dotFold(col(vec), plane(planeOffset + j, dims)).as(names(j))
    }: _*)
  }

  /** Random-hyperplane signature: bit i = sign of dot(vec, plane_i), planes
    * derived deterministically from md5 of (plane index, dimension index).
    * Vectors with equal signatures are near-certain cosine neighbors. The
    * per-plane dot is the same exact sequential double fold as `dot`, so the
    * sign — and therefore the bucket — is engine-independent. `planeOffset`
    * selects an independent plane family (offset plane indices), the
    * multi-table recall knob used by lshTopKMulti. */
  private[graft] def hyperplaneSig(vec: Column, dims: Int, planes: Int,
                                   planeOffset: Int = 0): Column =
    graft.expressions.VectorKernelExpressions.hyperplaneSig(vec,
      planeMatrix(planeOffset, planes, dims))

  /** Interpreted Column form of hyperplaneSig — VectorKernelSpec oracle. */
  private[graft] def hyperplaneSigColumnForm(vec: Column, dims: Int, planes: Int,
                                             planeOffset: Int = 0): Column = {
    val bits = (0 until planes).map { p =>
      // plane vector components in {-1, +1} from a deterministic hash
      val s = aggregate(
        zip_with(vec, plane(planeOffset + p, dims), (x, h) => x.cast("double") * h),
        lit(0.0d), (a, v) => a + v)
      when(s >= 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** The full ±1 plane family as a driver-side matrix (row p = plane
    * planeOffset+p), same md5 derivation as `plane`. */
  private def planeMatrix(planeOffset: Int, planes: Int, dims: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until planes).map { p =>
      (0 until dims).map { d =>
        val dig = md.digest(s"${planeOffset + p}:$d".getBytes("UTF-8"))
        if ((dig(3) & 1) == 1) 1.0d else -1.0d
      }
    }
  }

  /** Plane p's ±1 components, derived from md5("p:d") exactly like the SQL
    * oracle (first-8-hex-chars value & 1 = low bit of digest byte 3) — but
    * computed ONCE driver-side and embedded as an array literal. The previous
    * in-plan form re-derived 64 md5s per plane per ROW, because higher-order
    * function subtrees are neither constant-folded nor codegen'd. */
  private def plane(p: Int, dims: Int): Column = {
    val md = java.security.MessageDigest.getInstance("MD5")
    typedLit((0 until dims).map { d =>
      val dig = md.digest(s"$p:$d".getBytes("UTF-8"))
      if ((dig(3) & 1) == 1) 1.0d else -1.0d
    })
  }

  /** LSH-bucketed approximate top-k: both sides hashed to `planes`-bit
    * signatures, exact cosine only within matching buckets. Recall grows with
    * fewer planes (bigger buckets) or more tables (lshTopKMulti). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              dims: Int, planes: Int, k: Int): DataFrame =
    rankCandidates(lshCandidates(corpus, queries, id, vec, dims, planes, 0), k)

  /** Multi-table LSH top-k — the standard recall amplifier: `tables`
    * independent plane families each propose bucket-mates, the union is
    * deduplicated, and exact cosine ranks the merged candidate set. A pair
    * missed by one family (split by an unlucky hyperplane) is found by
    * another; recall → 1 as tables grow while each family's buckets stay
    * tiny. Cost is linear in tables, still never all-pairs. */
  def lshTopKMulti(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                   dims: Int, planes: Int, k: Int, tables: Int): DataFrame = {
    val cands = (0 until tables).map { t =>
      lshCandidates(corpus, queries, id, vec, dims, planes, t * planes)
    }.reduce(_.unionByName(_))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("score")).as("score")) // same exact fold in every table
    rankCandidates(cands, k)
  }

  private def lshCandidates(corpus: DataFrame, queries: DataFrame, id: String,
                            vec: String, dims: Int, planes: Int,
                            planeOffset: Int): DataFrame = {
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"),
      hyperplaneSig(col(vec), dims, planes, planeOffset).as("bucket"))
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"),
      hyperplaneSig(col(vec), dims, planes, planeOffset).as("bucket"))
    c.join(q, Seq("bucket")).filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
  }

  private def rankCandidates(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diversified top-k — the retrieval re-rank that stops five paraphrases
    * of one document crowding the result list (RAG context building, dedup
    * aware few-shot selection): greedily pick
    * argmax λ·cos(q, c) − (1−λ)·max_{s∈picked} cos(c, s), so each pick
    * balances query relevance against redundancy with what's already
    * chosen. λ comes in as the rational lambdaNum/lambdaDen so the score
    * is ONE fixed double chain (num·rel − (den−num)·maxsim)/den — engine-
    * identical from the shared fold-exact cosines; ties break toward the
    * smaller candidate id (the bruteForceTopK rule).
    *
    * Fixed-iteration distributed shape (the kmeansCentroids discipline):
    * the candidate pool is bruteForceTopK's poolK list per query (queries
    * limit-probed via maxQueries, the pool materialized ONCE with vectors
    * attached and localCheckpointed); each of the k rounds is a bounded
    * pool×picked join (≤ poolK·i rows per query, plan constants), one
    * keyed argmax, zero driver traffic. Emits one row per pick
    * (query_id, pick_rank, doc_id, mmr_score) — pick_rank 1..k in greedy
    * order; lists shorter than k when the pool runs out. */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, id: String,
              vec: String, poolK: Int, k: Int,
              lambdaNum: Int = 1, lambdaDen: Int = 2,
              maxQueries: Int = 16384): DataFrame = {
    require(poolK >= k && k >= 1, s"need poolK >= k >= 1, got $poolK/$k")
    require(lambdaNum >= 0 && lambdaNum <= lambdaDen && lambdaDen > 0,
      s"need 0 <= lambdaNum <= lambdaDen, got $lambdaNum/$lambdaDen")
    val corpusVecs = corpus.select(col(id).as("neighbor_id"),
      col(vec).as("_nv"))
    val qVecs = queries.select(col(id).as("query_id"), col(vec).as("_qv"))
    val pool = bruteForceTopK(corpus, queries, id, vec, poolK, maxQueries)
      .join(corpusVecs, "neighbor_id")
      .join(broadcast(qVecs), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("_nv"),
        cosine(col("_qv"), col("_nv")).as("_rel"))
      .localCheckpoint(true) // one materialization feeds every round
    // min-struct over (negated score, id): max score, tie -> SMALLER id —
    // the bruteForceTopK tie rule — without negating the id, so string
    // (or any ordered) doc ids keep the documented tie-break.
    def argmaxPick(scored: DataFrame, rank: Int): DataFrame =
      scored.groupBy(col("query_id"))
        .agg(min(struct((-col("_score")).as("_s"),
          col("neighbor_id").as("_n"))).as("_b"))
        .select(col("query_id"), lit(rank.toLong).as("pick_rank"),
          col("_b._n").as("neighbor_id"), (-col("_b._s")).as("_score"))
    var picked = argmaxPick(pool.withColumn("_score",
      lit(lambdaNum.toDouble) * col("_rel") / lit(lambdaDen.toDouble)), 1)
      .join(pool.select(col("query_id"), col("neighbor_id"), col("_nv")),
        Seq("query_id", "neighbor_id"))
      .localCheckpoint(true)
    for (i <- 2 to k) {
      val remaining = pool.join(
        picked.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      val scored = remaining.join(
          picked.select(col("query_id"), col("_nv").as("_sv")), "query_id")
        .groupBy(col("query_id"), col("neighbor_id"))
        .agg(first(col("_rel")).as("_rel"), first(col("_nv")).as("_nv"),
          max(cosine(col("_nv"), col("_sv"))).as("_ms"))
        .withColumn("_score",
          (lit(lambdaNum.toDouble) * col("_rel")
            - lit((lambdaDen - lambdaNum).toDouble) * col("_ms"))
            / lit(lambdaDen.toDouble))
      picked = picked.unionByName(
          argmaxPick(scored, i)
            .join(pool.select(col("query_id"), col("neighbor_id"),
              col("_nv")), Seq("query_id", "neighbor_id"))
            .select(picked.columns.map(col): _*))
        .localCheckpoint(true)
    }
    picked.select(col("query_id"), col("pick_rank"), col("neighbor_id"),
      (floor(col("_score") * 1000000d) / 1000000d).as("mmr_score"))
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale path:
    * every corpus vector is assigned to its nearest centroid cell once, and a
    * query probes only its `nprobe` nearest cells, so search cost is
    * |query| × (nprobe/nlist) × |corpus| instead of all-pairs.
    *
    * Plan shape: centroids broadcast to both sides; corpus assignment is a
    * broadcast join + partial-aggregated max_by (one row per vector crosses
    * the shuffle — never the corpus × centroid product); the search joins
    * probed cells to assigned cells and ranks with a per-query group limit.
    *
    * `centroids` is any (id, vec) table — production trains k-means offline;
    * `seedCentroids` below gives the deterministic assignment-only variant
    * used for oracle checking. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
              id: String, vec: String, k: Int, nprobe: Int): DataFrame = {
    val cent = centroids.select(col(id).as("cell_id"), col(vec).as("cent_vec"))
    val assigned = corpus.select(col(id).as("neighbor_id"), col(vec).as("c_vec"))
      .join(broadcast(cent))
      .withColumn("cscore", cosine(col("c_vec"), col("cent_vec")))
      .groupBy(col("neighbor_id"))
      .agg(
        max_by(col("cell_id"), struct(col("cscore"), -col("cell_id"))).as("cell_id"),
        first(col("c_vec")).as("c_vec"))
    val probes = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
      .join(broadcast(cent))
      .withColumn("cscore", cosine(col("q_vec"), col("cent_vec")))
      .withColumn("crank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("cscore").desc, col("cell_id"))))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("q_vec"), col("cell_id"))
    val scored = probes.join(assigned, Seq("cell_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("q_vec"), col("c_vec")).as("score"))
    rankCandidates(scored, k)
  }

  /** Deterministic seed centroids: the `nlist` lowest-id vectors. Stands in
    * for trained centroids so the IVF path is reproducible and
    * oracle-checkable end-to-end. */
  def seedCentroids(emb: DataFrame, id: String, nlist: Int): DataFrame =
    emb.filter(col(id) < nlist)

  /** Deterministic Lloyd's k-means: seed-centroid init (lowest `nlist` ids),
    * `iters` rounds of cosine assignment + element-wise mean update. Output
    * columns are named (`id`, `vec`) so the result feeds ivfTopK directly.
    *
    * Determinism, the property that makes a float-vector trainer
    * oracle-checkable at all: assignment ties break toward the smaller cell
    * id, and each cell's mean folds its members' components in sorted-id
    * order (sort_array over the collected list), so every double is the same
    * IEEE value on every engine and every partitioning — cluster-parallel
    * unordered SUMs would be run-to-run nondeterministic. Seeds are corpus
    * vectors, so every cell retains at least its own seed and no
    * empty-cell rule is needed.
    *
    * Scale: assignment is the same broadcast-join shape as ivfTopK (one row
    * per vector through the shuffle); the update collects each cell's members
    * into one row, which bounds per-cell memory by corpus/nlist — standard
    * practice at 100 TB is to train on a sample (this is a coarse quantizer;
    * recall needs representative centroids, not exhaustive ones), then assign
    * the full corpus with the broadcast join. */
  def kmeansCentroids(emb: DataFrame, id: String, vec: String, dims: Int,
                      nlist: Int, iters: Int): DataFrame = {
    var cent = seedCentroids(emb, id, nlist)
      .select(col(id).as("cell_id"), col(vec).cast("array<double>").as("cent_vec"))
    for (_ <- 1 to iters) {
      val assigned = emb.select(col(id).as("_aid"), col(vec).as("_avec"))
        .join(broadcast(cent))
        .withColumn("cscore", cosine(col("_avec"), col("cent_vec")))
        .groupBy(col("_aid"))
        .agg(
          max_by(col("cell_id"), struct(col("cscore"), -col("cell_id"))).as("cell_id"),
          first(col("_avec")).as("_avec"))
      val members = assigned.groupBy(col("cell_id"))
        .agg(sort_array(collect_list(struct(col("_aid").as("i"), col("_avec").as("v"))))
          .as("ms"))
      val mean = transform(sequence(lit(0), lit(dims - 1)), d =>
        aggregate(col("ms"), lit(0.0d),
          (acc, m) => acc + element_at(m.getField("v"), d + 1).cast("double"))
          / size(col("ms")).cast("double"))
      // eager localCheckpoint truncates the lineage each round: without it
      // round t's plan re-derives rounds 1..t-1 (and broadcast(cent) is
      // re-evaluated per use), growing recompute superlinearly with iters.
      // Values are unchanged — only the plan is cut — so the trained doubles
      // stay bit-identical to the chained-CTE oracle.
      cent = members.select(col("cell_id"), mean.as("cent_vec"))
        .localCheckpoint(true)
    }
    cent.select(col("cell_id").as(id), col("cent_vec").as(vec))
  }

  /** The documented 100 TB training path: train the coarse quantizer on a
    * DETERMINISTIC sample (md5 of the id — engine-reproducible, unlike
    * Spark's `sample()` whose RNG is partitioning-dependent), then assign /
    * search the full corpus with the broadcast join. Keeps roughly 1/`mod`
    * of the corpus plus the seed rows (ids < nlist stay in so seeding is
    * unchanged); a recall-grade quantizer needs representative centroids,
    * not exhaustive ones. Oracle-checkable: the same filter is one WHERE
    * clause in the k-means CTE chain. */
  def kmeansCentroidsSampled(emb: DataFrame, id: String, vec: String, dims: Int,
                             nlist: Int, iters: Int, mod: Int): DataFrame = {
    val sampled = emb.filter(
      graft.expressions.Md5Expressions.md5Int(col(id).cast("string")) % mod === 0
        || col(id) < nlist)
    kmeansCentroids(sampled, id, vec, dims, nlist, iters)
  }

  /** Per-group element-wise mean embedding — class centroids for a labeled
    * dataset (classifier prototypes, cluster summaries, per-source style
    * vectors). Same determinism contract as the k-means trainer: members
    * fold in sorted-id order, so every centroid double is engine- and
    * partitioning-identical. The per-group collect bounds memory by group
    * size; at 100 TB trade the bit-exact fold for an unordered SUM-per-
    * dimension aggregate (associative, one shuffle, not oracle-exact). */
  def groupCentroids(emb: DataFrame, group: String, id: String, vec: String,
                     dims: Int): DataFrame = {
    val members = emb.groupBy(col(group))
      .agg(count(lit(1)).as("n_vecs"),
        sort_array(collect_list(struct(col(id).as("i"),
          col(vec).cast("array<double>").as("v")))).as("ms"))
    val mean = transform(sequence(lit(0), lit(dims - 1)), d =>
      aggregate(col("ms"), lit(0.0d),
        (acc, m) => acc + element_at(m.getField("v"), d + 1))
        / size(col("ms")).cast("double"))
    members.select(col(group), col("n_vecs"), mean.as("centroid"))
  }

  /** Simplified silhouette per cluster cell — the clustering-quality
    * gauge over a trained coarse quantizer ("are the IVF cells actually
    * separated, or did k-means smear one topic across three cells?").
    * The simplified form (Hruschka et al.; what sklearn large-scale
    * practice uses) replaces the classic all-pairs a/b with CENTROID
    * distances — a = d(x, own centroid), b = min d(x, other centroid),
    * s = (b − a)/max(a, b) — turning an O(N²) statistic into one
    * broadcast-join pass, the only silhouette that exists at 100 TB.
    *
    * Distances are cosine (1 − cos, matching the assignment metric);
    * assignment = max cosine with ties toward the smaller cell id,
    * EXACTLY the kmeansCentroids rule, so the audited partition is the
    * trainer's. Determinism: per-point cosines are the shared fold-exact
    * chain; the per-point s runs a fixed IEEE op sequence and enters the
    * sum as floor(s·10⁶) BIGINT — exact int64 sums, ONE double division
    * per cell out. With a single centroid b is undefined → the cell
    * emits mean_sil NULL (never a fake 0). Per-point state is the
    * O(nlist) collected score list — a plan constant, not data-sized.
    * Emits one row per cell (cell_id, n_points, sil_sum_scaled,
    * mean_sil). */
  def simplifiedSilhouette(corpus: DataFrame, id: String, vec: String,
                           centroids: DataFrame): DataFrame = {
    val cent = centroids.select(col(id).as("_cell"), col(vec).as("_cvec"))
    val top = corpus.select(col(id).as("_pid"), col(vec).as("_pvec"))
      .join(broadcast(cent))
      .withColumn("_cs", cosine(col("_pvec"), col("_cvec")))
      .groupBy(col("_pid"))
      .agg(sort_array(collect_list(struct((-col("_cs")).as("_d"),
        col("_cell").as("_c")))).as("_top"))
    val a = lit(1d) + element_at(col("_top"), 1).getField("_d")
    val b = lit(1d) + element_at(col("_top"), 2).getField("_d")
    val s = when(greatest(a, b) > 0d, (b - a) / greatest(a, b))
      .otherwise(lit(0d))
    top.select(
        element_at(col("_top"), 1).getField("_c").as("cell_id"),
        when(size(col("_top")) >= 2, floor(s * 1000000d).cast("long"))
          .as("_ss"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_points"),
        sum(col("_ss")).as("sil_sum_scaled"))
      .select(col("cell_id"), col("n_points"), col("sil_sum_scaled"),
        (col("sil_sum_scaled").cast("double")
          / (col("n_points").cast("double") * 1000000d)).as("mean_sil"))
  }

  /** Corpus embedding diversity — the data-card one-number for "how
    * varied is this corpus semantically": mean pairwise cosine DISTANCE
    * over a deterministic md5 sample (near-0 = templated/mode-collapsed,
    * higher = varied; track it per source or per crawl to catch a scraper
    * stuck on one site). All-pairs over the full corpus is O(N²) and
    * never runs at scale; the estimator is the theilSen contract instead
    * — a hash-stable sample (md5(id) % sampleMod == 0, the docSample
    * idiom: the same rows on every engine and every rerun) with a
    * fail-loud `maxPoints` limit-probe, because the sample is broadcast
    * for the self-join. Each pair enters as floor((1 − cos)·10⁶) BIGINT
    * (the shared fold-exact cosine chain), summed exactly; `mean_dist`
    * is ONE trunc6'd division. Fewer than 2 sampled points emit
    * n_pairs 0 with mean_dist NULL. Emits ONE row
    * (n_points, n_pairs, dist_sum_scaled, mean_dist). */
  def embeddingDiversity(emb: DataFrame, id: String, vec: String,
                         sampleMod: Int,
                         maxPoints: Int = 2048): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val sampled = emb
      .filter(graft.expressions.Md5Expressions
        .md5Int(col(id).cast("string")) % sampleMod === 0)
      .select(col(id).as("_sid"), col(vec).as("_sv"))
    requireBroadcastable(sampled, maxPoints, "embeddingDiversity")
    val pairs = sampled
      .join(broadcast(sampled.select(col("_sid").as("_tid"),
        col("_sv").as("_tv"))), col("_sid") < col("_tid"))
      .select(floor((lit(1d) - cosine(col("_sv"), col("_tv"))) * 1000000d)
        .cast("long").as("_d"))
    val nPts = sampled.agg(count(lit(1)).as("n_points"))
    pairs.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("_d")), lit(0L)).as("dist_sum_scaled"))
      .crossJoin(broadcast(nPts))
      .select(col("n_points"), col("n_pairs"), col("dist_sum_scaled"),
        when(col("n_pairs") > 0L,
          floor(col("dist_sum_scaled").cast("double")
            / col("n_pairs").cast("double")) / 1000000d).as("mean_dist"))
  }

  /** Embedding drift between two corpus slices, per label — "did this
    * class's embedding distribution move between last week's crawl and
    * this week's?", the ML-ops monitor that catches encoder upgrades,
    * topic shift, and poisoning before a model trains on it. Each
    * slice's per-label centroid is groupCentroids VERBATIM (the ordered
    * member fold keeps every component bit-reproducible), then ONE
    * fold-exact cosine between the two centroids per label, trunc6'd —
    * drift_cos near 1 means stable, lower means the class moved. Labels
    * present in only one slice drop (inner join — nothing to compare;
    * their arrival/departure is q_snapshot_diff's job). Scale shape: two
    * grouped collect-fold aggregates (O(labels·dims) state), a keyed
    * join on O(labels) rows, a map — nothing scales with corpus size
    * but the two scans. Emits (group, n_a, n_b, drift_cos). */
  def centroidDrift(a: DataFrame, b: DataFrame, group: String, id: String,
                    vec: String, dims: Int): DataFrame = {
    val ca = groupCentroids(a, group, id, vec, dims)
      .select(col(group), col("n_vecs").as("n_a"), col("centroid").as("_ca"))
    val cb = groupCentroids(b, group, id, vec, dims)
      .select(col(group), col("n_vecs").as("n_b"), col("centroid").as("_cb"))
    ca.join(cb, Seq(group))
      .select(col(group), col("n_a"), col("n_b"),
        (floor(cosine(col("_ca"), col("_cb")) * 1000000d) / 1000000d)
          .as("drift_cos"))
  }

  /** Reciprocal-rank fusion — merge two ranked retrieval lists into one
    * hybrid score: rrf(d) = Σ over lists containing d of 1/(k + rank_d),
    * the standard trick for fusing rankings whose raw scores are not
    * comparable (BM25 vs cosine, exact vs compressed search). Join on
    * (`keys`, `id`) — keys carry the query id so every fused list stays
    * PARTITIONED (no global sort, no unpartitioned window anywhere);
    * items present in only one list keep their one term (full-outer
    * join, absent rank contributes 0 — the canonical formulation).
    * The score is a fixed double chain (two divisions, one add,
    * mirrored operand-for-operand), trunc6'd; final ordering is the
    * consumer's ORDER BY (rrf_score DESC, id) — deliberately not a
    * window here so the operator composes into further per-query work
    * without forcing a sort. Emits (keys…, id, rank_a, rank_b,
    * rrf_score). */
  def rrfFuse(a: DataFrame, b: DataFrame, keys: Seq[String], id: String,
              rank: String, kRrf: Int): DataFrame = {
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    val emitted = Seq("rank_a", "rank_b", "rrf_score")
    val clash = (keys :+ id).intersect(emitted)
    require(clash.isEmpty,
      s"rrfFuse emits ${emitted.mkString(", ")}; rename ${clash.mkString(", ")}")
    val on = keys :+ id
    val ja = a.select((on.map(col) :+ col(rank).as("rank_a")): _*)
    val jb = b.select((on.map(col) :+ col(rank).as("rank_b")): _*)
    def term(r: Column): Column =
      when(r.isNotNull, lit(1.0d) / (lit(kRrf.toDouble) + r.cast("double")))
        .otherwise(lit(0.0d))
    ja.join(jb, on, "full_outer")
      .select(on.map(col) ++ Seq(col("rank_a"), col("rank_b"),
        (floor((term(col("rank_a")) + term(col("rank_b"))) * 1000000d)
          / 1000000d).as("rrf_score")): _*)
  }

  // ── scalar quantization: int8-per-dimension compression ────────────────

  /** Per-dimension [min, max] bounds over the corpus — the training pass of
    * scalar quantization. One partial-aggregated pass over the scan (2·dims
    * agg expressions); O(dims) doubles reach the driver. min/max are
    * order-insensitive, so the bounds are engine- and partitioning-exact. */
  private[graft] def sqBounds(corpus: DataFrame, vec: String,
                              dims: Int): (Seq[Double], Seq[Double]) = {
    val aggs = (0 until dims).flatMap { i =>
      Seq(min(element_at(col(vec), i + 1).cast("double")).as(s"_mn$i"),
        max(element_at(col(vec), i + 1).cast("double")).as(s"_mx$i"))
    }
    val r = corpus.agg(aggs.head, aggs.tail: _*).head()
    require(!r.isNullAt(0),
      "sqBounds: the corpus is empty (or the vector column is all-NULL) — " +
        "no quantization range exists")
    ((0 until dims).map(i => r.getDouble(2 * i)),
      (0 until dims).map(i => r.getDouble(2 * i + 1)))
  }

  /** int8 code per dimension: floor((v − mn)/(mx − mn) · 255) − 128, so the
    * full [mn, mx] range maps onto TINYINT [−128, 127] — 1 byte/dim at rest,
    * 4× smaller than the float32 input (8× vs double). Codes are clamped for
    * caller-supplied bounds; degenerate dimensions (mx = mn) code as −128.
    * All arithmetic is IEEE double with explicit parenthesization, so every
    * engine produces the identical byte. */
  private[graft] def sqEncode(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val mn = typedlit(mins); val mx = typedlit(maxs)
    transform(sequence(lit(0), lit(mins.size - 1)), i => {
      val v = element_at(vec, i + 1).cast("double")
      val lo = element_at(mn, i + 1)
      val span = element_at(mx, i + 1) - lo
      (when(span > 0,
        least(lit(255L), greatest(lit(0L), floor((v - lo) / span * 255))))
        .otherwise(lit(0L)) - 128).cast("tinyint")
    })
  }

  /** Dequantized reconstruction: mn + (code + 128) · (span/255) per
    * dimension — the decode side of sqEncode, again parenthesized for
    * engine-identical doubles. */
  private[graft] def sqDequant(code: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val mn = typedlit(mins); val mx = typedlit(maxs)
    transform(sequence(lit(0), lit(mins.size - 1)), i => {
      val lo = element_at(mn, i + 1)
      lo + (element_at(code, i + 1).cast("double") + 128.0d) *
        ((element_at(mx, i + 1) - lo) / 255.0d)
    })
  }

  /** Fused encode → int8 round trip → decode in ONE per-dimension lambda.
    * Composing sqDequant(sqEncode(...)) — even across two selects — is an
    * O(dims²) trap: CollapseProject merges the projections and the whole
    * 64-dim encode re-inlines under every element_at of the dequant lambda
    * (measured: 20× the fused form at sf0.1). Here each dimension's code is
    * computed and consumed once, with arithmetic IDENTICAL to the
    * sqEncode/sqDequant pair (same clamp, same TINYINT cast, same factor
    * order), so the oracle and the storage-facing pair stay in sync. */
  private[graft] def sqReconstruct(vec: Column, mins: Seq[Double], maxs: Seq[Double]): Column = {
    val mn = typedlit(mins); val mx = typedlit(maxs)
    transform(sequence(lit(0), lit(mins.size - 1)), i => {
      val v = element_at(vec, i + 1).cast("double")
      val lo = element_at(mn, i + 1)
      val span = element_at(mx, i + 1) - lo
      val code = (when(span > 0,
        least(lit(255L), greatest(lit(0L), floor((v - lo) / span * 255))))
        .otherwise(lit(0L)) - 128).cast("tinyint")
      lo + (code.cast("double") + 128.0d) * (span / 255.0d)
    })
  }

  /** Top-k search over the QUANTIZED corpus: the fused reconstruct runs as
    * its own projection below the join (once per corpus row), and the
    * per-pair score is the native DotFold kernel against the broadcast
    * query vectors. At 100 TB this is the memory-footprint path: the corpus
    * rides in RAM/cache at 1 byte per dimension (sqEncode) and dequantizes
    * on the fly, trading ~0.4% per-dim quantization error for 4× more
    * corpus per executor. Bounds come from one O(dims) training aggregate
    * at plan time (like runningSumAuto's profiling pass). */
  def sqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int, dims: Int): DataFrame = {
    val (mins, maxs) = sqBounds(corpus, vec, dims)
    val enc = corpus
      .select(col(id).as("neighbor_id"), sqReconstruct(col(vec), mins, maxs).as("deq"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    enc.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score", dot(col("deq"), col("q_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Recall@k of an approximate top-k result against the exact one — the
    * quality gauge every compressed/bucketed ANN tier should publish next
    * to its speed. Both inputs are (query, neighbor) frames (rank columns
    * ignored); output is one row per exact-side query with the fraction of
    * its exact neighbors the approximate search recovered. One equi-join on
    * (query, neighbor) + one tiny aggregate — O(queries · k) rows end to
    * end, independent of corpus size. */
  def recallAtK(approx: DataFrame, exact: DataFrame, query: String,
                neighbor: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(query != "_hit" && neighbor != "_hit",
      "recallAtK uses an internal '_hit' column; rename the key columns first")
    exact.select(col(query), col(neighbor))
      .join(approx.select(col(query), col(neighbor)).withColumn("_hit", lit(1)),
        Seq(query, neighbor), "left")
      .groupBy(col(query))
      .agg((sum(coalesce(col("_hit"), lit(0))).cast("double") / k).as("recall"))
  }

  /** Truncated rank-biased-overlap weights W_m = Σ_{i=m..d} (1−p)·pⁱ⁻¹/i,
    * scaled to integer 10⁻¹² units at PLAN TIME (one fixed double chain per
    * depth — the identical longs inline into the DuckDB oracle, so the
    * per-pair sum is exact integer arithmetic on both engines). */
  def rboWeightsScaled(d: Int, pNum: Int, pDen: Int): Seq[Long] = {
    val p = pNum.toDouble / pDen.toDouble
    val w = (1 to d).map(i => (1d - p) * math.pow(p, i - 1) / i)
    (1 to d).map(m => math.floor(w.drop(m - 1).sum * 1e12).toLong)
  }

  /** Rank-biased overlap (Webber et al. 2010, TOIS) between two ranked
    * lists per query, truncated at depth `d` — the LIST-level agreement
    * gauge beside recallAtK's set-level one: two surfaces can have equal
    * recall yet order the survivors differently, and RBO charges exactly
    * that (top-weighted: agreement at rank 1 counts most; p tunes how
    * fast attention decays). This is the truncated lower bound (no
    * extrapolated residual) — identical depth-d lists score
    * Σ_{i≤d}(1−p)·pⁱ⁻¹ < 1, disjoint lists 0.
    *
    * The standard prefix-overlap sum rearranges to
    * RBO_d = Σ_{docs in both lists} W_{max(rank_a, rank_b)} with
    * W_m = Σ_{i=m..d}(1−p)·pⁱ⁻¹/i — so the whole statistic is ONE
    * (query, doc) equi-join + one keyed agg, no per-depth pass. The d
    * weights are plan-time literals quantized to 10⁻¹² integer units
    * (rboWeightsScaled — the same longs inline into the oracle), summed
    * exactly; `rbo` is one double division. Queries present in `a` but
    * sharing NO top-d docs with `b` emit 0 (a real disagreement, unlike
    * the undefined cases elsewhere). Emits one row per query in `a`
    * (query, n_common, rbo_scaled, rbo). */
  def rboOverlap(a: DataFrame, b: DataFrame, query: String, rank: String,
                 id: String, d: Int,
                 pNum: Int = 1, pDen: Int = 2): DataFrame = {
    require(d >= 1, s"d must be >= 1, got $d")
    require(pNum > 0 && pNum < pDen, s"need 0 < p < 1, got $pNum/$pDen")
    val internal = Seq("n_common", "rbo_scaled", "rbo", "_ra", "_rb", "_w")
    require(!internal.contains(query) && !internal.contains(rank)
        && !internal.contains(id),
      s"rboOverlap emits/uses ${internal.mkString(", ")}; rename inputs")
    val weights = rboWeightsScaled(d, pNum, pDen)
    val wMap = typedlit(weights.zipWithIndex
      .map { case (w, i) => (i + 1).toLong -> w }.toMap)
    val aSide = a.filter(col(rank) <= d)
      .select(col(query), col(id), col(rank).cast("long").as("_ra"))
    val bSide = b.filter(col(rank) <= d)
      .select(col(query), col(id), col(rank).cast("long").as("_rb"))
    val perQuery = aSide.join(bSide, Seq(query, id))
      .select(col(query),
        element_at(wMap, greatest(col("_ra"), col("_rb"))).as("_w"))
      .groupBy(col(query))
      .agg(count(lit(1)).as("n_common"), sum(col("_w")).as("rbo_scaled"))
    a.select(col(query)).distinct()
      .join(perQuery, Seq(query), "left")
      .select(col(query),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        coalesce(col("rbo_scaled"), lit(0L)).as("rbo_scaled"))
      .withColumn("rbo", col("rbo_scaled").cast("double") / 1e12)
  }

  // ── product quantization: per-subspace codebook compression ────────────

  /** Train one codebook per subspace: the embedding is cut into `m`
    * contiguous slices of dims/m dimensions, and each slice space gets its
    * own deterministic Lloyd's run (the SAME kmeansCentroids every IVF
    * query uses, on a sliced projection — so the per-subspace chains are
    * oracle-reproducible CTE-for-CTE). Returns, per subspace, the surviving
    * centroids in ascending cell-id order (a cell can lose all members).
    * O(m · k · dims/m) doubles to the driver — the codebooks are the
    * point: m bytes per vector replace dims floats downstream. */
  private[graft] def pqCodebooks(emb: DataFrame, id: String, vec: String,
                                 dims: Int, m: Int, k: Int, iters: Int): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dims % m == 0, s"m=$m must divide dims=$dims")
    val sub = dims / m
    // Round-15 (the dup_clusters_all tagged-union trick applied to
    // training): ONE Lloyd's fixpoint runs all m subspaces at once —
    // every vector explodes into m sliced rows tagged with their
    // subspace index, assignment joins the broadcast codebooks on the
    // tag, and each round's argmax/collect/mean keys on (subspace, …).
    // The per-round fixed cost (broadcast build, checkpoint, scheduler
    // round) is paid `iters` times instead of m·iters, and the
    // per-subspace arithmetic is UNCHANGED: each (subspace, vector)
    // group sees exactly the candidate cells of its own subspace, ties
    // break toward the smaller cell id as before, and each cell's mean
    // still folds its members' components in sorted-id order — every
    // trained double is the IEEE value the per-subspace chains (and the
    // chained-CTE oracle) produce.
    val tagged = emb.select(col(id).as("_pid"),
        posexplode(transform(sequence(lit(0), lit(m - 1)),
          mi => slice(col(vec), mi * lit(sub) + 1, lit(sub))))
          .as(Seq("_pq", "_pv")))
    var cent = tagged.filter(col("_pid") < k) // seedCentroids, per subspace
      .select(col("_pq"), col("_pid").as("_cell"),
        col("_pv").cast("array<double>").as("_cv"))
    for (_ <- 1 to iters) {
      val assigned = tagged.join(broadcast(cent), Seq("_pq"))
        .withColumn("_cs", cosine(col("_pv"), col("_cv")))
        .groupBy(col("_pq"), col("_pid"))
        .agg(max_by(col("_cell"), struct(col("_cs"), -col("_cell")))
            .as("_cell"),
          first(col("_pv")).as("_pv"))
      val members = assigned.groupBy(col("_pq"), col("_cell"))
        .agg(sort_array(collect_list(struct(col("_pid").as("i"),
          col("_pv").as("v")))).as("ms"))
      val mean = transform(sequence(lit(0), lit(sub - 1)), d =>
        aggregate(col("ms"), lit(0.0d),
          (acc, mm) => acc + element_at(mm.getField("v"), d + 1).cast("double"))
          / size(col("ms")).cast("double"))
      // same per-round lineage cut as kmeansCentroids (see there)
      cent = members.select(col("_pq"), col("_cell"), mean.as("_cv"))
        .localCheckpoint(true)
    }
    // driver-bounded: O(m · k · dims/m) codebook floats (config constants)
    val rows = cent.orderBy(col("_pq"), col("_cell")).collect()
    (0 until m).map { mi =>
      rows.filter(_.getInt(0) == mi).map(_.getSeq[Double](2).toSeq).toSeq
    }
  }

  /** Top-k search over the PQ-RECONSTRUCTED corpus: each vector is replaced
    * by the concatenation of its nearest codebook centroid per subspace
    * (one fused kernel pass — encode and decode never materialize an
    * intermediate code column in the query; the `m`-byte codes are the
    * at-rest artifact), then scored with the native DotFold kernel against
    * the broadcast queries. At 100 TB this is the ANN memory ladder's next
    * rung below int8: m bytes per vector (e.g. 4 vs 64 floats = 64×) at the
    * cost of coarser score quantization. Training cost is m sliced Lloyd's
    * runs at plan time; use the md5-sampled trainer corpus for the 100 TB
    * path like q_ivf_trained_sample. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             k: Int, dims: Int, m: Int, kCent: Int, iters: Int): DataFrame =
    pqSearch(corpus, queries, id, vec, k,
      pqCodebooks(corpus, id, vec, dims, m, kCent, iters))

  /** The 100 TB PQ training path: codebooks from the deterministic md5
    * sample (≈1/mod of the corpus plus the seed rows, exactly like
    * kmeansCentroidsSampled), full corpus reconstructed and searched — the
    * sample filter is one WHERE clause per subspace chain in the oracle. */
  def pqTopKSampled(corpus: DataFrame, queries: DataFrame, id: String,
                    vec: String, k: Int, dims: Int, m: Int, kCent: Int,
                    iters: Int, mod: Int): DataFrame = {
    val sampled = corpus.filter(
      graft.expressions.Md5Expressions.md5Int(col(id).cast("string")) % mod === 0
        || col(id) < kCent)
    pqSearch(corpus, queries, id, vec, k,
      pqCodebooks(sampled, id, vec, dims, m, kCent, iters))
  }

  private def pqSearch(corpus: DataFrame, queries: DataFrame, id: String,
                       vec: String, k: Int,
                       cbs: Seq[Seq[Seq[Double]]]): DataFrame = {
    val enc = corpus.select(col(id).as("neighbor_id"),
      graft.expressions.VectorKernelExpressions
        .pqReconstruct(col(vec), cbs).as("recon"))
    val q = queries.select(col(id).as("query_id"), col(vec).as("q_vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    enc.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("score", dot(col("recon"), col("q_vec")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"))
  }

  /** Embedding-cosine near-duplicate pairs above a similarity threshold,
    * LSH-bucketed so only bucket-mates are compared. */
  def cosineDupPairs(emb: DataFrame, id: String, vec: String, dims: Int,
                     planes: Int, minCos: Double): DataFrame = {
    val sig = emb.select(col(id).as("d"), col(vec).as("v"),
      hyperplaneSig(col(vec), dims, planes).as("bucket"))
    sig.select(col("bucket"), col("d").as("doc_a"), col("v").as("va"))
      .join(sig.select(col("bucket"), col("d").as("doc_b"), col("v").as("vb")),
        Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cos", cosine(col("va"), col("vb")))
      .filter(col("cos") >= minCos)
      // floor-truncate: floor of an identical IEEE double is identical on
      // every engine, unlike round() at .xx5 representable boundaries
      .select(col("doc_a"), col("doc_b"),
        (floor(col("cos") * 1000000d) / 1000000d).as("cos_sim"))
  }

  /** Hard-negative mining — the contrastive-training data op: for each
    * audited anchor, the corpus vectors MOST similar to it that carry a
    * DIFFERENT label (the negatives that actually teach a margin;
    * random negatives are trivially separable and waste the batch).
    * Ranking is bruteForceTopK's exactly (fold-exact cosine, score
    * DESC with id tiebreak, self excluded) restricted to cross-label
    * pairs; NULL-label rows drop on BOTH sides (an unlabeled vector is
    * neither anchor nor negative — "unknown" must not be mined as
    * "different"). Anchor side broadcast + limit-probed; the corpus
    * side stays partition-parallel with no shuffle on the corpus. Emits
    * (query_id, rank, neighbor_id, neg_score) — neg_score trunc6'd so
    * the margin is visible beside the pick. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, id: String,
                    vec: String, label: String, k: Int,
                    maxQueries: Int = 16384): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    requireBroadcastable(queries, maxQueries, "hardNegatives")
    val q = queries.filter(col(label).isNotNull)
      .select(col(id).as("query_id"), col(vec).as("q_vec"),
        col(label).as("_ql"))
    val scored = corpus.filter(col(label).isNotNull)
      .select(col(id).as("neighbor_id"), col(vec).as("c_vec"),
        col(label).as("_nl"))
      .join(broadcast(q), col("neighbor_id") =!= col("query_id")
        && col("_nl") =!= col("_ql"))
      .withColumn("score", cosine(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        (floor(col("score") * 1000000d) / 1000000d).as("neg_score"))
  }

  /** Projection-outlier audit along the learned top principal axis —
    * the per-VECTOR reading of what pcaExplained reports in aggregate:
    * each embedding's exact-integer projection onto the
    * pcaPowerDirection axis (Σ floor(xᵢ·10⁶)·loadingᵢ — both factors
    * integers, the sum exact and order-independent), flagged when it
    * sits more than `zK` standard deviations from the corpus mean.
    * Along-axis extremes are the mode-collapse drivers and the
    * mislabeled/garbage vectors an embedding pipeline quarantines
    * first. Moments are exact decimal(38,0) sums; the flag is ONE
    * fixed double chain (μ = s/n, σ² = ss/n − μ·μ, |p−μ| > z·σ) —
    * identical IEEE on both engines. Shapes: one posexplode pass with
    * a broadcast d-row join, one per-id agg, a 1-row broadcast stats
    * crossJoin. Emits (id, proj_scaled, is_outlier). */
  def projectionOutliers(emb: DataFrame, id: String, vec: String,
                         direction: DataFrame, zK: Int): DataFrame = {
    require(zK >= 1, s"zK must be >= 1, got $zK")
    val emitted = Seq("proj_scaled", "is_outlier", "dim", "_x", "_s", "_ss",
      "_n")
    require(!emitted.contains(id) && !emitted.contains(vec),
      s"projectionOutliers emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    val proj = emb.filter(col(vec).isNotNull)
      .select(col(id), posexplode(col(vec).cast("array<double>"))
        .as(Seq("dim", "_x")))
      .withColumn("dim", col("dim").cast("long"))
      .join(broadcast(direction), Seq("dim"))
      .groupBy(col(id))
      .agg(sum(floor(col("_x") * 1000000d).cast("long")
        * col("loading_ppm")).as("proj_scaled"))
      .localCheckpoint(true) // shared: the stats row and the flag pass
    val stats = proj.agg(count(lit(1)).as("_n"),
      sum(col("proj_scaled").cast("decimal(38,0)")).as("_s"),
      sum(col("proj_scaled").cast("decimal(38,0)")
        * col("proj_scaled").cast("decimal(38,0)")).as("_ss"))
    val nd = col("_n").cast("double")
    val mu = col("_s").cast("double") / nd
    val varP = col("_ss").cast("double") / nd - mu * mu
    proj.crossJoin(broadcast(stats))
      .select(col(id), col("proj_scaled"),
        (varP > 0d && abs(col("proj_scaled").cast("double") - mu)
          > lit(zK.toDouble) * sqrt(varP)).as("is_outlier"))
  }

  /** Quantized sample covariance of the embedding corpus — the d×d matrix
    * every spectral diagnostic starts from. One corpus pass: per-dim
    * means first (floor(x·10⁶) BIGINT sums, exact and order-independent,
    * μ = sum div n replayed on any engine), then each row fans out to its
    * d² centered products, each QUANTIZED AT THE TERM
    * (floor((xᵢ−μᵢ)·(xⱼ−μⱼ)·10⁶) — the qlog discipline for products) so
    * the (i,j) sums are exact BIGINT no matter how Spark partitions.
    * Scale shape: the d² fan-out collapses INSIDE each task's partial
    * hash agg (d² ≤ 4096 cells — a plan constant), so the shuffle is
    * O(partitions·d²) rows, never O(n·d²); the corpus is read once.
    * Emits (i, j, n_rows, cov_scaled) for all d² cells — cov_scaled is
    * the RAW centered-product sum (micro-units), NOT divided by n−1:
    * downstream ratios (power iteration, explained variance) are
    * scale-invariant, and keeping the integer avoids a lossy division.
    * Rows with a NULL or wrong-length vector are rejected fail-loud
    * (a silently dropped row would skew μ). */
  def covarianceScaled(emb: DataFrame, vec: String, dims: Int): DataFrame = {
    val emitted = Seq("i", "j", "n_rows", "cov_scaled", "_v", "_xi", "_xj",
      "_mu", "_ms", "_n")
    require(!emitted.contains(vec),
      s"covarianceScaled emits/uses ${emitted.mkString(", ")}; rename '$vec'")
    val lenGuard = assert_true(col(vec).isNotNull && size(col(vec)) === dims,
      concat(lit(s"covarianceScaled: every vector must be non-NULL with " +
        s"exactly $dims dims; got size "),
        coalesce(size(col(vec)).cast("string"), lit("NULL"))))
    val v = emb.filter(lenGuard.isNull)
      .select(col(vec).cast("array<double>").as("_v"))
      .localCheckpoint(true) // shared: the mean pass and the product pass
    val means = v
      .select(posexplode(col("_v")).as(Seq("i", "_xi")))
      .groupBy(col("i"))
      .agg(sum(floor(col("_xi") * 1000000d).cast("long")).as("_ms"),
        count(lit(1)).as("_n"))
      .select(col("i"), expr("_ms div _n").as("_mu"), col("_n"))
    // Round-15: generate only the UPPER TRIANGLE (j >= i) — the second
    // explode runs over slice(_v, i+1, …), so each row fans out to
    // d·(d+1)/2 products instead of d², halving the one heavy pass. The
    // mirror is EXACT, not approximate: IEEE multiplication is
    // commutative, so floor((xᵢ−μᵢ)(xⱼ−μⱼ)·10⁶) is bit-equal to its
    // transposed term and the (j,i) cell is the (i,j) sum verbatim —
    // the emitted d² grid (and the oracle hash) is unchanged.
    val upper = v
      .select(col("_v"), posexplode(col("_v")).as(Seq("i", "_xi")))
      .select(col("_v"), col("i"), col("_xi"),
        posexplode(expr("slice(_v, i + 1, size(_v) - i)"))
          .as(Seq("_jo", "_xj")))
      .select(col("i"), col("_xi"), (col("i") + col("_jo")).as("j"),
        col("_xj"))
      .join(broadcast(means.select(col("i"), col("_mu").as("_mui"))), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("_mu").as("_muj"),
        col("_n"))), Seq("j"))
      .groupBy(col("i"), col("j"), col("_n"))
      .agg(sum(floor(
        (col("_xi") - col("_mui").cast("double") / 1000000d)
          * (col("_xj") - col("_muj").cast("double") / 1000000d)
          * 1000000d).cast("long")).as("cov_scaled"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        col("_n").as("n_rows"), col("cov_scaled"))
      .localCheckpoint(true) // two consumers below: itself + its mirror
    upper.unionByName(upper.filter(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("n_rows"),
        col("cov_scaled")))
  }

  /** Top principal direction by FIXED-ROUND power iteration over the
    * quantized covariance (the integer PageRank/LPA discipline: "after R
    * rounds" is the oracle-checkable semantics; R ~ 10 separates any
    * non-degenerate spectrum). The corpus is touched ONCE
    * (covarianceScaled); every round after is arithmetic on the d²-row
    * matrix frame — at 100 TB the iteration cost does not see the data.
    * Round algebra is EXACT: w = C·v in decimal(38,0) products of two
    * BIGINTs, L∞ normalization back to ±10⁶ by truncating div (the
    * engine-replayable norm — no sqrt in the loop), per-round
    * localCheckpoint. v₀ = uniform all-10⁶. Sign is pinned by the
    * iteration itself (deterministic given v₀); a dominant eigenvalue's
    * sign flips nothing (C is PSD). Emits d rows
    * (dim, loading_ppm) — the unit-∞ direction in ppm. */
  def pcaPowerDirection(cov: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1,50], got $iters")
    // Round-15 optimization (guide §1.2: fix the distributed algorithm
    // first): the iteration never touches the corpus — covarianceScaled
    // already reduced it to the d²-row quantized matrix — yet the old
    // per-round DataFrame form paid one localCheckpoint action, one
    // broadcast and ~6 scheduler jobs per round (61 jobs for 10 rounds,
    // pure fixed overhead at any scale). The matrix is BOUNDED (d² rows,
    // d = the embedding dimension — O(4096) here, never data-sized), so
    // the rounds run on the DRIVER in exact integer arithmetic instead:
    // one bounded collect (the documented-bound driver-collect rule —
    // O(d²) rows, never corpus), BigInteger products/sums, and the same
    // truncating `div` normalization. Every operation mirrors the old
    // Column algebra exactly (decimal(38,0) ≡ unbounded integer here;
    // Spark's decimal `div` and BigInteger.divide both truncate toward
    // zero; matmul sum order is exact integer addition, so associativity
    // cannot flip a bit) — the emitted frame is bit-identical, as the
    // unchanged DuckDB oracle checks.
    import java.math.BigInteger
    val rows = cov.select(col("i").cast("int"), col("j").cast("int"),
      col("cov_scaled").cast("decimal(38,0)"))
      .collect() // driver-bounded: O(dims·dims) covariance cells, never corpus
    val dims = rows.map(_.getInt(1)).distinct.sorted
    val idx = dims.zipWithIndex.toMap
    val d = dims.length
    // fail-loud bound on the driver matmul (the house style): memory is
    // O(d²) BigIntegers (~32 B each — d=1024 is ~32 MB) and time is
    // O(d²·iters) BigInteger multiplies (~10⁷ per round at d=1024, well
    // under a second; d=4096 would be ~1.7·10⁸ per round on a ~0.5 GB
    // matrix — the silent-melt case this guard names). A wider embedding
    // config must move the rounds back to the distributed Column form.
    require(d <= 1024,
      s"pcaPowerDirection's driver power iteration is bounded at d <= 1024 " +
        s"dims (O(d²) BigInteger cells, O(d²·iters) multiplies); got d=$d. " +
        "Re-plan the rounds distributed (the pre-round-15 Column algebra) " +
        "before raising this bound.")
    val c = Array.ofDim[BigInteger](d, d)
    for (x <- 0 until d; y <- 0 until d) c(x)(y) = BigInteger.ZERO
    rows.foreach { r =>
      c(idx(r.getInt(0)))(idx(r.getInt(1))) =
        r.getDecimal(2).toBigInteger
    }
    val scaleM = BigInteger.valueOf(1000000L)
    var v = Array.fill(d)(scaleM)
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d) { x =>
        var s = BigInteger.ZERO
        var y = 0
        while (y < d) { s = s.add(c(x)(y).multiply(v(y))); y += 1 }
        s
      }
      val m = w.map(_.abs).foldLeft(BigInteger.ZERO)(_.max(_))
      v =
        if (m.signum > 0) w.map(_.multiply(scaleM).divide(m))
        else Array.fill(d)(BigInteger.ZERO)
    }
    val spark = cov.sparkSession
    import spark.implicits._
    dims.zipWithIndex
      .map { case (dim, x) => (dim.toLong, v(x).longValueExact) }
      .toSeq.toDF("dim", "loading_ppm")
  }

  /** Explained-variance share of the pcaPowerDirection axis: the Rayleigh
    * quotient λ = (vᵀCv)/(vᵀv) over the quantized covariance, as a share
    * of trace(C) — "how much of the corpus's variance is ONE axis?" High
    * share = mode collapse (embeddings hugging a line); the gauge behind
    * q_embed_diversity's mean-distance number. All products exact
    * decimal(38,0); the two emitted ratios are integer-div ppm. Emits
    * one row (n_rows, lambda_scaled, trace_scaled, explained_ppm). */
  def pcaExplained(cov: DataFrame, direction: DataFrame): DataFrame = {
    val c = cov.select(col("i"), col("j"), col("n_rows"),
      col("cov_scaled").cast("decimal(38,0)").as("_c"))
    def dv(n: String) = col("loading_ppm").cast("decimal(38,0)").as(n)
    val vi = direction.select(col("dim").as("i"), dv("_vi"))
    val vj = direction.select(col("dim").as("j"), dv("_vj"))
    val num = c.join(broadcast(vi), Seq("i")).join(broadcast(vj), Seq("j"))
      .agg(sum(col("_c") * col("_vi") * col("_vj")).as("_num"),
        max(col("n_rows")).as("n_rows"))
    val den = direction
      .agg(sum(col("loading_ppm").cast("decimal(38,0)")
        * col("loading_ppm").cast("decimal(38,0)")).as("_den"))
    val tr = c.filter(col("i") === col("j"))
      .agg(sum(col("_c")).as("trace_scaled"))
    num.crossJoin(broadcast(den)).crossJoin(broadcast(tr))
      .select(col("n_rows"),
        when(col("_den") > 0, expr("_num div _den")).cast("long")
          .as("lambda_scaled"),
        col("trace_scaled").cast("long").as("trace_scaled"),
        when(col("_den") > 0 && col("trace_scaled") > 0,
          expr("((_num div _den) * CAST(1000000 AS DECIMAL(38,0))) " +
            "div trace_scaled").cast("long")).as("explained_ppm"))
  }
}
