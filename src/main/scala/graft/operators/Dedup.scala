package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (beyond the reference
  * surface). All hash material derives from md5 — bit-identical across
  * engines, so every stage is oracle-checkable — and every op is a
  * Column-expression pipeline: one map stage, then exactly one shuffle on the
  * dedup key (groupBy), which is the minimum any dedup can do.
  *
  * Scale notes (100 TB): exact dedup shuffles once on a 16-byte digest —
  * uniform keys, no skew. MinHash-LSH shuffles once per band on the band
  * signature; candidate pairs then join only within tiny buckets, avoiding the
  * O(n²) all-pairs comparison entirely.
  */
object Dedup {

  /** 32-bit variant of `Md5Expressions.md5Long` (first 8 hex chars,
    * < 2^32). Used wherever the hash is multiplied by another constant: the
    * product stays < 2^48, so the same arithmetic is exact int64 in every
    * engine (no silent Java wraparound, no DuckDB overflow error). Native
    * expression, same value as conv(substring(md5(c),1,8),16,10). */
  def md5Int(c: Column): Column = graft.expressions.Md5Expressions.md5Int(c)

  /** Exact dedup: group by the normalized-text fingerprint, keep the smallest
    * id as the canonical representative. Output one row per distinct content
    * with its duplicate count. */
  def exactDedup(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(TextOps.fingerprint(col(text)).as("fp"), col(id))
      .groupBy(col("fp"))
      .agg(min(col(id)).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Per-group duplication profile with EXACT distinct-fingerprint counts:
    * (group dims…, n_docs, n_distinct). Exact count-distinct expands to a
    * two-phase aggregate — shuffle on (dims, fp), then on dims — correct at
    * any scale but the fp-level shuffle carries one row per distinct
    * fingerprint per group. */
  def dedupProfile(docs: DataFrame, text: String, dims: Seq[String]): DataFrame =
    docs.select(dims.map(col) :+ TextOps.fingerprint(col(text)).as("fp"): _*)
      .groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), count_distinct(col("fp")).as("n_distinct"))

  /** Oracle-checkable sketch profile: exact n_distinct
    * (engine-independent) plus a boolean attesting the HLL++ estimate lies
    * within `tol` relative error of it. The estimate itself never leaves the
    * engine — only exact values and the verdict do — so a SQL oracle that
    * computes the exact side hash-matches the whole row. HyperLogLog++ is
    * fixed-size per group and merges associatively; `rsd` is its target
    * relative standard deviation (Spark default 0.05). Both aggregates run
    * in ONE groupBy (sketch and distinct-set merge map-side). `tol` defaults
    * to 3×rsd (three standard deviations) with an absolute floor of 16,
    * where HLL++'s sparse/linear-counting regime is effectively exact: rsd
    * is a standard deviation, not a hard bound, so the margin is what makes
    * the boolean deterministic-stable on a fixed corpus. */
  def dedupProfileChecked(docs: DataFrame, text: String, dims: Seq[String],
                          rsd: Double = 0.05, tol: Double = 0.15): DataFrame =
    docs.select(dims.map(col) :+ TextOps.fingerprint(col(text)).as("fp"): _*)
      .groupBy(dims.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        count_distinct(col("fp")).as("n_distinct"),
        (abs(approx_count_distinct(col("fp"), rsd) - count_distinct(col("fp")))
          <= greatest(count_distinct(col("fp")) * tol, lit(16.0)))
          .as("within_bound"))

  /** Word k-shingles of the normalized text: the standard MinHash input unit. */
  private[graft] def shingles(text: Column, k: Int): Column = {
    val norm = TextOps.normalized(text)
    val toks = split(norm, " ")
    // shingle starts 0..size-k (1-based slice below), size-k+1 shingles total
    val starts = sequence(lit(0), size(toks) - k)
    when(size(toks) >= k,
      transform(starts, i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
      .otherwise(array(norm))
  }

  /** md5Int of every k-shingle — the expensive half of MinHash. Runs as a
    * native single-pass kernel (graft.expressions.ShingleHashes) that hashes
    * each shingle straight off the normalized string's byte buffer inside
    * whole-stage codegen; the previous transform-over-slices Column form
    * evaluated in the interpreted HOF walker and dominated the round-2 bench.
    * Still exposed as its own column so multi-consumer pipelines (signature +
    * distinct-set) materialize it once. */
  def shingleHashes(text: Column, k: Int): Column =
    graft.expressions.HashKernelExpressions.shingleHashes(TextOps.normalized(text), k)

  /** Interpreted Column-expression form of shingleHashes — retained solely as
    * the bit-parity oracle for HashKernelSpec (it is what the DuckDB oracle
    * SQL mirrors shingle-for-shingle). */
  private[graft] def shingleHashesColumnForm(text: Column, k: Int): Column =
    transform(shingles(text, k), s => md5Int(s))

  /** MinHash signature over a previously-materialized `shingleHashes` column:
    * for each of `numHashes` permutations, min of (a_i * h + b_i) mod p,
    * p = 2^31-1. The permutation constants are deterministic functions of the
    * hash index, so Spark and the SQL oracle generate identical families;
    * h < 2^32 and a_i = 1117(i+1)+31 keep every product inside int64 for any
    * family below ~1.6M hash functions. Native one-pass kernel
    * (graft.expressions.MinhashSignature); the Column form walked the hash
    * array numHashes times through the interpreted evaluator. */
  def minhashFromHashes(hashes: Column, numHashes: Int): Column =
    graft.expressions.HashKernelExpressions.minhashSignature(hashes, numHashes)

  /** Interpreted Column form of minhashFromHashes — HashKernelSpec oracle. */
  private[graft] def minhashFromHashesColumnForm(hashes: Column, numHashes: Int): Column = {
    val p = 2147483647L // 2^31 - 1 (Mersenne prime)
    val sigs = (0 until numHashes).map { i =>
      val a = 1117 * (i + 1) + 31
      val b = 271828 * (i + 1) + 1828
      array_min(transform(hashes, h => (h * a + b) % p))
    }
    array(sigs: _*)
  }

  /** Winnowing document fingerprints (the MOSS rolling-hash scheme): one row
    * per selected k-gram hash, where selection takes each w-window's minimum
    * over the shingle-hash sequence (native kernel, codegen'd). Any two docs
    * sharing a word substring of length >= w+k-1 share a fingerprint row, so
    * an equi-join on fp_hash is the candidate generator — the same
    * bucket-join shape as every other approximate tier here (never
    * all-pairs). Output volume is ~|shingles|/w per doc. */
  def winnowFingerprints(docs: DataFrame, id: String, text: String,
                         k: Int, w: Int): DataFrame =
    docs.select(col(id), shingleHashes(col(text), k).as("hs"))
      .select(col(id),
        explode(graft.expressions.HashKernelExpressions.winnowSelect(col("hs"), w))
          .as("fp_hash"))

  /** Winnowing near-dup pairs — the MOSS pipeline end-to-end: shared
    * fingerprint ⇒ candidate pair (equi-join on fp_hash, the bucket-join
    * candidate generator winnowFingerprints documents), then exact
    * shingle-set Jaccard verification via jaccardPairs. Same
    * never-all-pairs shape as minhashPairs, but the guarantee is
    * substring-structural (any shared word run of length >= w+k-1 produces a
    * shared fingerprint) instead of probabilistic. A fingerprint shared by
    * many docs (boilerplate) expands quadratically inside its bucket — at
    * real scale apply the same too-common cutoff documented in SCALE.md
    * (drop fp_hash values above a doc-frequency cap) before the self-join. */
  def winnowPairs(docs: DataFrame, id: String, text: String, k: Int, w: Int,
                  minJaccard: Double, maxDocFreq: Int = 0): DataFrame = {
    // candidate pairs expand IN PLACE inside each fingerprint's collected
    // bucket (the minhashPairs pattern): one fingerprint pass and ONE
    // shuffle, where a fps-to-fps self-join would recompute the whole
    // shingle+winnow map for each side and shuffle both.
    // maxDocFreq > 0 enables the standard too-common cutoff: fingerprints
    // shared by more than that many docs (boilerplate) generate no
    // candidates. Measured at sf0.1: cap 8 cuts candidates 334k → 122k while
    // keeping 254 of 256 verified pairs — the knob that bounds candidate
    // volume at corpus scale, at a documented sliver of recall.
    val freqCap = if (maxDocFreq > 0) size(col("ds")) <= maxDocFreq else lit(true)
    val cands = winnowFingerprints(docs, id, text, k, w)
      .groupBy(col("fp_hash"))
      .agg(collect_list(col(id)).as("ds"))
      .filter(size(col("ds")) > 1 && freqCap)
      .select(explode(col("ds")).as("doc_a"), col("ds"))
      .select(col("doc_a"), explode(col("ds")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct() // pairs sharing several fingerprints verify once
    jaccardPairs(docs, id, text, k, cands, minJaccard)
  }

  /** MinHash-LSH near-duplicate pairs: band the signature (`numHashes` =
    * bands * rowsPerBand), bucket docs by (band index, band slice), and emit
    * candidate pairs that share a bucket, deduplicated, with their exact
    * estimated Jaccard = fraction of matching signature positions.
    *
    * Plan shape: map (signature, staged so the shingle hashing happens once)
    * → explode band keys (bands rows per doc, built by direct array indexing
    * so the whole band stage stays in codegen) → ONE shuffle on the bucket →
    * collect the tiny bucket membership and expand pairs in place. Grouping
    * instead of a self-join halves the work (a self-join recomputes the
    * signature subtree once per side) and never builds an all-pairs product.
    * Per-bucket memory is bounded by bucket size — tiny by construction; for
    * degenerate corpora (thousands of identical docs) cap bucket size
    * upstream, the standard LSH "too-common" cutoff (see SCALE.md). */
  def minhashPairs(docs: DataFrame, id: String, text: String, k: Int,
                   bands: Int, rowsPerBand: Int, minJaccard: Double): DataFrame = {
    val n = bands * rowsPerBand
    val withSig = spread(docs).select(col(id).as("doc"),
        shingleHashes(col(text), k).as("hs"))
      .select(col("doc"), minhashFromHashes(col("hs"), n).as("sig"))
    val bucketCols = (0 until bands).map { b =>
      concat(lit(s"${b}_"), concat_ws(",",
        (0 until rowsPerBand).map(j => col("sig")(b * rowsPerBand + j).cast("string")): _*))
    }
    val banded = withSig.select(col("doc"), col("sig"),
      explode(array(bucketCols: _*)).as("bucket"))
    banded.groupBy(col("bucket"))
      .agg(collect_list(struct(col("doc"), col("sig"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        (size(filter(zip_with(col("a.sig"), col("b.sig"), (x, y) => x === y),
          m => m)).cast("double") / n).as("est_jaccard"))
      .filter(col("est_jaccard") >= minJaccard) // before distinct: shrink the shuffle
      .distinct()
  }

  /** Edit-distance similarity self-join — fuzzy pairs of strings within
    * `maxDist` Levenshtein edits (entity resolution: near-identical titles,
    * URLs, names at corpus scale). Emits (doc_a, doc_b, dist), doc_a <
    * doc_b, each pair once, verified with a threshold-banded levenshtein
    * (O(d·len) per pair). Recall is exact by construction — the DuckDB
    * oracle for q_fuzzy_pairs is the brute-force all-pairs join, so a
    * missed pair is a hash mismatch, not a silent quality loss.
    *
    * Candidates come from the Pass-Join segment scheme (Li, Deng & Feng,
    * PVLDB 2011) rather than q-gram prefix filtering: each string splits
    * into maxDist+1 near-equal segments, and the pigeonhole principle says
    * `d` edits cannot touch all `d+1` segments — so for every true pair
    * some segment of one string survives VERBATIM in the other, shifted by
    * at most `d` positions (net indels before it). Candidates are exact
    * substring-equality hits on (target length, segment index, segment),
    * which on real text are far rarer than shared q-grams: at sf0.1 this
    * generated 81k candidates where 5-gram prefix filtering generated
    * 1.1M, for the same provably-complete pair set.
    *
    * Distributed shape: one tiny distinct-lengths aggregate (broadcast —
    * O(max string length) rows at ANY corpus size), then map-side segment
    * and probe-substring generation, ONE equi-join on the
    * (length, segment index, substring) key, a distinct, and the banded
    * levenshtein verify. No windows and no frequency table — the global
    * gram-frequency order and the per-string ranking windows a prefix
    * filter needs don't exist here.
    * Probe fan-out is bounded: ≤ (d+1) segments × (2d+1) target lengths ×
    * (2d+1) shifts per string, independent of string length or corpus
    * size. Index strings shorter than maxDist+1 chars FAIL LOUDLY (a
    * zero-length segment would match everywhere — recall holds but the
    * bucket degenerates); probe-side strings have no length bound: the
    * surviving segment is a substring of the probe by construction, so the
    * clipped shift window always covers it. NULL strings drop. */
  def segmentPairs(docs: DataFrame, id: String, str: String,
                   maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val segs = segmentIndex(docs, id, str, maxDist, "segmentPairs")
    val lens = segs.select(col("_lt")).distinct()
    val dist = levenshtein(col("_pst"), col("_ist"), maxDist)
    segmentProbes(docs, id, str, lens, maxDist)
      .join(segs, Seq("_lt", "_i", "_sub"))
      .filter(col("_pdoc") < col("_idoc"))
      .select(col("_pdoc").as("doc_a"), col("_idoc").as("doc_b"),
        col("_pst"), col("_ist"))
      .distinct() // candidates are rare enough to dedupe BEFORE the verify
      .select(col("doc_a"), col("doc_b"), dist.cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Cross-corpus form of segmentPairs — resolve `left` strings against
    * `right` within `maxDist` edits (the entity-resolution join: raw
    * records vs a canonical registry). Emits (left_id, right_id, dist),
    * every qualifying pair once — including exact hits at dist 0 — with
    * the same exact recall and brute-force-oracle checkability. The
    * pigeonhole guarantee is directional and this uses the direction that
    * needs no shared global state at all: a surviving segment of the RIGHT
    * string appears verbatim in the LEFT string, so `right` is segmented
    * (the registry — typically the smaller, deduplicated side) and `left`
    * only generates probe substrings against the registry's distinct
    * lengths. Unlike a q-gram prefix filter there is no union-frequency
    * aggregate over both corpora — the only shared state is the broadcast
    * length list. */
  def segmentJoin(left: DataFrame, right: DataFrame,
                  idL: String, strL: String, idR: String, strR: String,
                  maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val segs = segmentIndex(right, idR, strR, maxDist, "segmentJoin(right)")
    val lens = segs.select(col("_lt")).distinct()
    val dist = levenshtein(col("_pst"), col("_ist"), maxDist)
    segmentProbes(left, idL, strL, lens, maxDist)
      .join(segs, Seq("_lt", "_i", "_sub"))
      .select(col("_pdoc").as("left_id"), col("_idoc").as("right_id"),
        col("_pst"), col("_ist"))
      .distinct()
      .select(col("left_id"), col("right_id"), dist.cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Even partition of each index-side string into maxDist+1 segments:
    * (_lt = owner length, _i = segment index, _sub = segment, _idoc, _ist)
    * rows. Segment i of a length-l string starts at 1 + i·⌊l/(d+1)⌋ +
    * min(i, l mod (d+1)) and spans ⌊l/(d+1)⌋ (+1 for the first l mod (d+1)
    * segments) chars — the boundaries are a pure function of (l, i), which
    * is what lets the probe side reconstruct them without seeing the
    * strings. */
  private def segmentIndex(docs: DataFrame, id: String, str: String,
                           maxDist: Int, opName: String): DataFrame = {
    val parts = maxDist + 1
    val s = col(str)
    val guard = assert_true(s.isNull || length(s) >= parts,
      concat(lit(s"$opName: length('$str') must be >= $parts (= maxDist+1) " +
        "so every pigeonhole segment is non-empty; got '"), s, lit("'")))
    val q = expr(s"_lt div $parts")
    val r = expr(s"_lt % $parts")
    docs.select(col(id).as("_idoc"), s.as("_ist"))
      .filter(guard.isNull).filter(col("_ist").isNotNull)
      .withColumn("_lt", length(col("_ist")))
      .select(col("_idoc"), col("_ist"), col("_lt"),
        explode(sequence(lit(0), lit(maxDist))).as("_i"))
      .withColumn("_p", lit(1) + col("_i") * q + least(col("_i"), r))
      .withColumn("_m", q + when(col("_i") < r, lit(1)).otherwise(lit(0)))
      .select(col("_idoc"), col("_ist"), col("_lt"), col("_i"),
        col("_ist").substr(col("_p"), col("_m")).as("_sub"))
  }

  /** Probe substrings of one frame against the index side's distinct
    * lengths: for each target length within ±d of the probe's own length,
    * each segment index, and each valid start within ±d of that segment's
    * position, one (_lt, _i, _sub, _pdoc, _pst) row. All map-side; `lens`
    * is broadcast. */
  private def segmentProbes(docs: DataFrame, id: String, str: String,
                            lens: DataFrame, maxDist: Int): DataFrame = {
    val parts = maxDist + 1
    val q = expr(s"_lt div $parts")
    val r = expr(s"_lt % $parts")
    docs.select(col(id).as("_pdoc"), col(str).as("_pst"))
      .filter(col("_pst").isNotNull)
      .withColumn("_pl", length(col("_pst")))
      .join(broadcast(lens),
        col("_lt").between(col("_pl") - maxDist, col("_pl") + maxDist))
      .select(col("_pdoc"), col("_pst"), col("_pl"), col("_lt"),
        explode(sequence(lit(0), lit(maxDist))).as("_i"))
      .withColumn("_p", lit(1) + col("_i") * q + least(col("_i"), r))
      .withColumn("_m", q + when(col("_i") < r, lit(1)).otherwise(lit(0)))
      .withColumn("_lo", greatest(lit(1), col("_p") - maxDist))
      .withColumn("_hi",
        least(col("_p") + maxDist, col("_pl") - col("_m") + 1))
      .filter(col("_lo") <= col("_hi"))
      .select(col("_pdoc"), col("_pst"), col("_lt"), col("_i"), col("_m"),
        explode(sequence(col("_lo"), col("_hi"))).as("_pp"))
      .select(col("_pdoc"), col("_pst"), col("_lt"), col("_i"),
        col("_pst").substr(col("_pp"), col("_m")).as("_sub"))
  }

  /** Round-robin repartition when the incoming scan has fewer partitions
    * than the session's parallelism — tiny files arrive as one split, which
    * would serialize the (interpreted, per-row-expensive) signature maps onto
    * one core. At real scale the scan already supplies enough partitions and
    * this is a no-op. */
  private[operators] def spread(df: DataFrame): DataFrame = {
    // partition introspection materializes an RDD, which a streaming frame
    // cannot do — streaming callers keep the source's own parallelism
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Connected components over an undirected near-dup pair graph: every doc
    * that appears in a pair is assigned cluster_id = the smallest doc id in
    * its component — the canonical-representative assignment a dedup
    * pipeline needs AFTER candidate pairs are verified (keep cluster_id,
    * drop the rest). Transitivity matters: near-dup is not transitive, but
    * retention decisions must be, or A~B, B~C keeps both A,C.
    *
    * Min-label propagation WITH pointer jumping: labels start as the node
    * id; each round every node takes the min of its own label, its
    * neighbors' labels, and its label's label (the pointer jump — label
    * chains halve every round, so convergence is O(log diameter) rounds,
    * not O(diameter): a million-node chain converges in ~20 rounds where
    * plain propagation would need a million). Labels only decrease, so
    * sum(labels) strictly decreases until the fixpoint — the convergence
    * test is one O(1) aggregate per round (the loop's only driver traffic).
    * Each round is two joins + a partial-agg'd min on uniform id keys —
    * O(|edges| + |nodes|) through its shuffles — and localCheckpoint(eager)
    * cuts the lineage like the k-means trainer. */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  maxIters: Int = 30): DataFrame =
    dupClustersTagged(pairs.withColumn("_ctag", lit(0)), "_ctag", aCol,
      bCol, maxIters).select(col("doc_id"), col("cluster_id"))

  /** Transitive closure of SEVERAL independent pair graphs in ONE
    * pointer-jumping loop: `tagCol` separates the graphs (node ids may
    * repeat across tags — every join keys on (tag, node), so components
    * can never merge across graphs); returns (tag, doc_id, cluster_id)
    * with cluster_id = the component's min doc id WITHIN its tag,
    * exactly dupClusters' contract per graph. The point is the bench
    * bill: each pointer-jumping round pays two joins, an eager
    * checkpoint, and a convergence action — three cluster builds as
    * three loops paid that fixed cost three times over graphs that are
    * each a few hundred edges; one loop over the tagged union pays it
    * once, converging in max-over-graphs rounds. */
  def dupClustersTagged(pairs: DataFrame, tagCol: String, aCol: String,
                        bCol: String, maxIters: Int = 30): DataFrame = {
    val tag = col(tagCol).as("_g")
    val edges = pairs.select(tag, col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(pairs.select(tag, col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .localCheckpoint(true) // reused every round: never recompute the pair source
    // seed labels at min(node, min neighbor) — round 1's neighbor-min
    // fused into initialization: the node list needs a hash aggregate
    // either way (distinct), so taking min(dst) alongside is free and
    // the loop starts one propagation round ahead
    val labels = edges.groupBy(col("_g"), col("src").as("node"))
      .agg(min(col("dst")).as("_mn"))
      .select(col("_g"), col("node"),
        least(col("node"), col("_mn")).as("cluster_id"))
      .localCheckpoint(true)
    // Stats-reset round trip (kept from the pointer-jumping form): a
    // localCheckpoint keeps its ORIGIN plan's estimated stats, and a
    // convergence loop multiplies them round over round until the
    // BigInteger size products dominate DRIVER time (found at sf0.1 on
    // the image-dup graph). Re-entering through a fresh LogicalRDD gives
    // default leaf stats; frames are O(nodes)/O(edges) rows, so the Row
    // round trip is noise.
    def rddReset(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(df.rdd, df.schema)
    // CONTRACTION rounds, not label-chasing (round-15 optimization):
    // min-label propagation with pointer jumping needs O(graph diameter)
    // rounds whenever the label map goes FLAT (every node already points
    // at a local-min root, so label(label(n)) = label(n) and the global
    // min can only enter one edge per round — measured 17 rounds at
    // sf0.1 on a frame-sequence chain component, pointer jumps never
    // firing). Contraction instead RELABELS THE EDGE SET through the
    // current map each round: edges (u,v) become (lab(u), lab(v)), loops
    // drop, duplicates collapse — every round at least merges each label
    // class with its min neighbor class, so the quotient graph (and the
    // remaining round count) shrinks geometrically: O(log n) rounds on
    // ANY id layout, and the per-round edge frame only gets smaller
    // (same sf0.1 union: 5 rounds). Invariants proving the UNCHANGED
    // output: lab(n) is always a node id inside n's own component and
    // only decreases; the component's global min m always keeps lab(m) =
    // m (nothing in its component is smaller); the loop ends when the
    // contracted edge set is EMPTY ⇔ lab is constant on every component,
    // and that constant is ≤ m and a member id, hence exactly m — the
    // same (doc_id, cluster_id = component min) frame the pointer-
    // jumping form emitted, just in geometrically fewer rounds.
    // relabel a quotient edge frame through a representative map `m`
    // ((_g, cluster_id) → _nl): every endpoint of `q` is a representative
    // with at least one edge, and the frame is bidirected, so both inner
    // map joins always hit; loops drop, duplicates collapse. The frame's
    // row count — the outer loop's emptiness gauge — rides the
    // checkpoint job itself (Gauges.checkpointObserved, round-16):
    // contract + convergence test = ONE job, not two.
    def contract(q: DataFrame, m: DataFrame): (DataFrame, Long) = {
      val (ck, row) = Gauges.checkpointObserved(q
        .join(m.select(col("_g"), col("cluster_id").as("src"),
          col("_nl").as("_ls")), Seq("_g", "src"))
        .join(m.select(col("_g"), col("cluster_id").as("dst"),
          col("_nl").as("_ld")), Seq("_g", "dst"))
        .select(col("_g"), col("_ls").as("src"), col("_ld").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct(), count(lit(1)))
      (rddReset(ck), row.map(_.getLong(0)).getOrElse(ck.count()))
    }
    def sumOf(m: DataFrame, c: String): java.math.BigDecimal = {
      val r = m.agg(sum(col(c).cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    // the root-sum gauge as an observed metric row (NULL sum = empty map)
    def obsSum(r: Row): java.math.BigDecimal =
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    val rootSum = sum(col("root").cast("decimal(38,0)"))
    var lab = labels
    // round 0's quotient: the original edges under the init partition
    // (the init map is keyed by node — same shape as a rep map)
    var (e, eCount) = contract(edges, labels.select(col("_g"),
      col("node").as("cluster_id"), col("cluster_id").as("_nl")))
    var it = 0
    var done = eCount == 0L
    while (!done && it < maxIters) {
      // hook: every representative points at min(self, min neighbor)
      // over the CURRENT quotient edges. The raw hook map can be a long
      // pointer CHAIN (a monotone-id chain graph hooks k → k−1, an
      // injective map that merges nothing), so contracting through it
      // directly degenerates to one node per round — it must first be
      // COMPRESSED TO A STAR.
      val (l0Ck, l0Row) = Gauges.checkpointObserved(
        e.groupBy(col("_g"), col("src").as("node"))
          .agg(min(col("dst")).as("_mn"))
          .select(col("_g"), col("node"),
            least(col("node"), col("_mn")).as("root")), rootSum)
      var l = rddReset(l0Ck)
      // compress: pointer-double root(n) ← root(root(n)) until
      // idempotent. Root values only decrease, so the row-sum is a
      // monotone convergence gauge (the labelSum idiom) — observed on
      // each doubling's OWN checkpoint job (one job per doubling, the
      // round-15 form paid a second one-row sum job each); each doubling
      // is one self-join of the O(current reps) map — the map frame,
      // not the edge frame — and chain depth halves per doubling.
      var prevSum = l0Row.map(obsSum).getOrElse(sumOf(l, "root"))
      var flat = false
      var innerGuard = 0
      while (!flat && innerGuard < 64) {
        val (l2Ck, l2Row) = Gauges.checkpointObserved(l.join(
            l.select(col("_g"), col("node").as("root"),
              col("root").as("_r2")),
            Seq("_g", "root"), "left")
          .select(col("_g"), col("node"),
            coalesce(col("_r2"), col("root")).as("root")), rootSum)
        val l2 = rddReset(l2Ck)
        val s = l2Row.map(obsSum).getOrElse(sumOf(l2, "root"))
        flat = s.compareTo(prevSum) == 0
        prevSum = s
        l = l2
        innerGuard += 1
      }
      // apply the STAR map to members (lab'(n) = l(lab(n))) and to the
      // quotient edges (endpoints are representatives, so they relabel
      // through l itself — relabeling them through the member map was
      // the subtle wrong move: once a representative is itself merged
      // away, member map and representative map disagree and the
      // partition silently splits)
      lab = rddReset(lab
        .join(l.select(col("_g"), col("node").as("cluster_id"),
          col("root").as("_nl")), Seq("_g", "cluster_id"), "left")
        .select(col("_g"), col("node"),
          coalesce(col("_nl"), col("cluster_id")).as("cluster_id"))
        .localCheckpoint(true))
      val (e2, n2) = contract(e, l.select(col("_g"),
        col("node").as("cluster_id"), col("root").as("_nl")))
      e = e2
      done = n2 == 0L
      it += 1
    }
    // contraction halves+ the quotient graph per round, so hitting the
    // cap means maxIters << log2(n) — labels are then only partially
    // collapsed and downstream canonical-keep would under-drop
    if (!done)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dupClusters stopped at maxIters=$maxIters before contraction " +
          "emptied the quotient graph; cluster ids are partially " +
          "propagated and downstream canonical-keep will under-collapse. " +
          "Raise maxIters.")
    lab.select(col("_g"), col("node").as("doc_id"), col("cluster_id"))
  }

  /** The retained corpus after near-dup clustering: drop every cluster
    * member except its canonical representative (cluster_id == own id);
    * docs in no cluster survive untouched. `clusters` is dupClusters
    * output. Anti-join on the id — one shuffle, no payload movement. */
  def keepCanonical(docs: DataFrame, id: String, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("cluster_id") =!= col("doc_id"))
        .select(col("doc_id").as(id)),
      Seq(id), "left_anti")

  /** Priority retention over near-dup clusters: keep each cluster's BEST
    * member by (`priority` DESC, id ASC) instead of keepCanonical's min-id
    * representative — "of every duplicate cluster keep the longest /
    * highest-quality doc", the retention policy production corpus pipelines
    * actually want (the canonical form is the cheap default; this one costs
    * one extra window over cluster MEMBERS only). Docs in no cluster
    * survive untouched. Distributed shape: `priority` is evaluated on the
    * docs scan, the per-cluster ranking windows over O(cluster-member) rows
    * (never the corpus — the inner join with `clusters` prunes first), and
    * the losers anti-join ships ids only. Determinism: pass an integer or
    * floor-truncated priority (the 1e6 grid the quality ratios live on) so
    * cross-engine ordering has no float ambiguity; ties break by id ASC.
    * `clusters` is dupClusters output ((doc_id, cluster_id) rows). */
  def keepBest(docs: DataFrame, id: String, clusters: DataFrame,
               priority: Column): DataFrame = {
    val internal = Seq("_prio", "_rn")
    val clash = docs.columns.intersect(internal)
    require(clash.isEmpty,
      s"keepBest uses internal columns ${internal.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    require(clusters.columns.contains("doc_id") &&
        clusters.columns.contains("cluster_id"),
      "keepBest expects dupClusters output: (doc_id, cluster_id)")
    val members = docs.select(col(id), priority.as("_prio"))
      .join(clusters.select(col("doc_id").as(id), col("cluster_id")), Seq(id))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("_prio").desc, col(id))
    val losers = members.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") > 1).select(col(id))
    docs.join(losers, Seq(id), "left_anti")
  }

  /** Per-dimension dedup report — the corpus-health summary a curation run
    * ends with: for each value of `dim` (source, language, date…), how
    * many docs arrived, how many survive canonical near-dup retention, and
    * the duplicate rate. `clusters` is dupClusters output; a doc is
    * dropped iff its cluster id is some OTHER doc (keepCanonical's rule).
    *
    * Distributed shape: the dropped set ships ids only (the cluster frame
    * is already id-sized), ONE id-keyed join tags docs, ONE partial-agg'd
    * groupBy on `dim` collapses to O(distinct dims) rows. dup_rate =
    * 1 − kept/total, floor-truncated to 6 decimals — the int64 counts are
    * exact, the one double division is IEEE-identical cross-engine. */
  def dedupReport(docs: DataFrame, id: String, clusters: DataFrame,
                  dim: String): DataFrame = {
    val emitted = Seq("n_docs", "n_kept", "dup_rate", "_dropped")
    val clash = docs.columns.intersect(emitted)
    require(clash.isEmpty,
      s"dedupReport emits ${emitted.mkString(", ")}; " +
        s"rename the input's ${clash.mkString(", ")} first")
    require(clusters.columns.contains("doc_id") &&
        clusters.columns.contains("cluster_id"),
      "dedupReport expects dupClusters output: (doc_id, cluster_id)")
    val dropped = clusters.filter(col("cluster_id") =!= col("doc_id"))
      .select(col("doc_id").as(id), lit(true).as("_dropped"))
    docs.select(col(id), col(dim))
      .join(dropped, Seq(id), "left")
      .groupBy(col(dim))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_dropped").isNull, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("dup_rate",
        floor((lit(1.0) - col("n_kept").cast("double") /
          col("n_docs").cast("double")) * 1000000d) / 1000000d)
  }

  /** md5Long of every whitespace token — native single-pass kernel
    * (graft.expressions.TokenHashes); staged separately so multi-consumer
    * pipelines materialize it once. */
  def tokenHashes(text: Column): Column =
    graft.expressions.HashKernelExpressions.tokenHashes(text)

  /** Interpreted Column form of tokenHashes — HashKernelSpec oracle. */
  private[graft] def tokenHashesColumnForm(text: Column): Column =
    transform(TextOps.tokens(text),
      t => graft.expressions.Md5Expressions.md5Long(t))

  /** SimHash from a materialized token-hash array: bit j of the output is
    * the sign of the sum over tokens of (+1 if bit j of the hash else -1).
    * Native one-pass kernel (graft.expressions.SimhashVote); the Column form
    * re-walked the token-hash array 60 times interpreted. */
  def simhashFromHashes(hashes: Column): Column =
    graft.expressions.HashKernelExpressions.simhashVote(hashes)

  /** Interpreted Column form of simhashFromHashes — HashKernelSpec oracle. */
  private[graft] def simhashFromHashesColumnForm(hashes: Column): Column = {
    val bits = (0 until 60).map { j =>
      val vote = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(shiftright(h, j).bitwiseAND(1) === 1, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << j)).otherwise(0L)
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** n-gram Jaccard similarity of two already-tokenized arrays of any
    * element type. The int64 verification paths below use the one-pass
    * native kernel `jaccardHashes` instead — this generic Column form
    * builds three hash sets per pair (array_union evaluated in both the
    * condition and the else branch, plus array_intersect) and doubles as
    * HashKernelSpec's bit-parity oracle for it. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(array_union(a, b)).cast("double"))

  /** Jaccard over DISTINCT-element shingle-hash (int64) arrays as a native
    * one-pass kernel (graft.expressions.JaccardDistinct): one set build +
    * one probe pass per pair, |∪| = |a|+|b|−|∩|. Inputs must be
    * element-distinct (array_distinct upstream) — exactly what every
    * caller here produces. */
  private[graft] def jaccardHashes(a: Column, b: Column): Column =
    graft.expressions.HashKernelExpressions.jaccardDistinct(a, b)

  /** Containment |a∩b| / |b| over distinct shingle-hash arrays (native
    * kernel) — the decontamination metric: a short benchmark item fully
    * embedded in a long document scores 1.0 where Jaccard stays near 0. */
  private[graft] def containmentHashes(a: Column, b: Column): Column =
    graft.expressions.HashKernelExpressions.containmentDistinct(a, b)

  /** Interpreted Column form of containmentHashes — HashKernelSpec oracle. */
  private[graft] def containmentColumnForm(a: Column, b: Column): Column =
    when(size(b) === 0, 0.0)
      .otherwise(size(array_intersect(a, b)).cast("double") /
        size(b).cast("double"))

  /** Benchmark decontamination: flag corpus docs containing a benchmark
    * document's content. Candidates come from the winnowing fingerprint
    * equi-join (any shared word run of length >= w+k-1 produces a shared
    * fingerprint, so a verbatim benchmark inclusion is guaranteed to become
    * a candidate); verification scores shingle-set CONTAINMENT of the
    * benchmark side in the corpus doc. Plan shape: both fingerprint maps
    * are codegen'd single passes, the candidate join keys on fp_hash (the
    * usual bucket join — never corpus × benchmark), and only candidate
    * pairs carry shingle sets. The benchmark side is typically tiny; the
    * corpus side never shuffles more than its flagged candidates. */
  def contaminationPairs(corpus: DataFrame, bench: DataFrame, id: String,
                         text: String, k: Int, w: Int,
                         minContainment: Double): DataFrame = {
    val cfp = winnowFingerprints(corpus, id, text, k, w)
      .select(col(id).as("doc_id"), col("fp_hash"))
    val bfp = winnowFingerprints(bench, id, text, k, w)
      .select(col(id).as("bench_id"), col("fp_hash"))
    val cands = cfp.join(bfp, Seq("fp_hash"))
      .select(col("doc_id"), col("bench_id")).distinct()
    val csh = spread(corpus).select(col(id).as("doc_id"),
      array_distinct(shingleHashes(col(text), k)).as("c_sh"))
    val bsh = bench.select(col(id).as("bench_id"),
      array_distinct(shingleHashes(col(text), k)).as("b_sh"))
    cands.join(csh, Seq("doc_id")).join(bsh, Seq("bench_id"))
      .select(col("doc_id"), col("bench_id"),
        containmentHashes(col("c_sh"), col("b_sh")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Fused exact-Jaccard over LSH buckets: one pass — signature, banding,
    * bucket grouping, in-place pair expansion, exact Jaccard on the distinct
    * shingle-hash sets carried through the shuffle. Output is identical to
    * jaccardPairs(minhashPairs(minJaccard = 0), …) but with ONE shuffle and
    * no candidate re-join: the bucket payload carries each doc's hash set
    * (min over duplicates equals min over distinct, so the same array feeds
    * both the signature and the set math). */
  def lshJaccardPairs(docs: DataFrame, id: String, text: String, k: Int,
                      bands: Int, rowsPerBand: Int, minJaccard: Double): DataFrame = {
    val n = bands * rowsPerBand
    val staged = spread(docs).select(col(id).as("doc"),
        shingleHashes(col(text), k).as("hs"))
      .select(col("doc"), array_distinct(col("hs")).as("sh"),
        minhashFromHashes(col("hs"), n).as("sig"))
    val bucketCols = (0 until bands).map { b =>
      concat(lit(s"${b}_"), concat_ws(",",
        (0 until rowsPerBand).map(j => col("sig")(b * rowsPerBand + j).cast("string")): _*))
    }
    staged.select(col("doc"), col("sh"), explode(array(bucketCols: _*)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(collect_list(struct(col("doc"), col("sh"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("a"), col("ms"))
      .select(col("a"), explode(col("ms")).as("b"))
      .filter(col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        jaccardHashes(col("a.sh"), col("b.sh")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard) // before distinct: shrink the shuffle
      .distinct()
  }

  /** Cross-corpus MinHash-LSH near-dup join — match an incoming batch
    * (`left`) against an existing corpus (`right`) above `minJaccard`,
    * WITHOUT comparing the batch to itself: the ingest-time dedup gate a
    * growing corpus runs on every new crawl slice. Same signature pipeline
    * as lshJaccardPairs on each side — the md5-derived hash family is a
    * pure function of the text, so unlike a prefix filter's union-
    * frequency order there is NO shared state to compute across the corpora; the
    * two sides only meet at the band-bucket equi-join. Verification is
    * the exact distinct-shingle-hash Jaccard, fused before `distinct` so
    * multi-band hits shrink in the same shuffle. Emits
    * (left_id, right_id, jaccard) — every qualifying cross pair once.
    * Scale shape: one bucket-keyed hash join (candidates only ever expand
    * inside shared buckets — never corpus × batch), then the verify is a
    * map stage over candidate rows. The standard too-common-bucket cutoff
    * applies upstream for degenerate corpora (see SCALE.md). */
  def lshJaccardJoin(left: DataFrame, right: DataFrame,
                     idL: String, textL: String, idR: String, textR: String,
                     k: Int, bands: Int, rowsPerBand: Int,
                     minJaccard: Double): DataFrame = {
    val n = bands * rowsPerBand
    def staged(df: DataFrame, id: String, text: String) =
      spread(df).select(col(id).as("doc"),
          shingleHashes(col(text), k).as("hs"))
        .select(col("doc"), array_distinct(col("hs")).as("sh"),
          minhashFromHashes(col("hs"), n).as("sig"))
    def banded(df: DataFrame) = {
      val bucketCols = (0 until bands).map { b =>
        concat(lit(s"${b}_"), concat_ws(",",
          (0 until rowsPerBand).map(j =>
            col("sig")(b * rowsPerBand + j).cast("string")): _*))
      }
      df.select(col("doc"), col("sh"),
        explode(array(bucketCols: _*)).as("bucket"))
    }
    banded(staged(left, idL, textL))
      .select(col("bucket"), col("doc").as("left_id"), col("sh").as("sh_l"))
      .join(banded(staged(right, idR, textR))
        .select(col("bucket"), col("doc").as("right_id"),
          col("sh").as("sh_r")),
        Seq("bucket"))
      .select(col("left_id"), col("right_id"),
        jaccardHashes(col("sh_l"), col("sh_r")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard) // before distinct: shrink the shuffle
      .distinct()
  }

  /** Exact n-gram Jaccard near-dup pairs over a caller-supplied candidate
    * set (any pair source). For LSH candidates prefer lshJaccardPairs, which
    * fuses candidate generation and verification into one shuffle. The set
    * math runs over distinct shingle HASHES rather than shingle strings:
    * identical results on any engine (both sides hash with the same
    * md5-derived family, so even a collision affects both identically),
    * int64 set ops instead of string set ops, and a far smaller payload. */
  /** Exact-Jaccard self-join with PROVABLE recall — every pair of
    * documents whose distinct-shingle-hash Jaccard is ≥ tNum/tDen, found
    * WITHOUT trusting a probabilistic blocker. Candidate generation is
    * the AllPairs/PPJoin prefix filter (Bayardo, Ma & Srikant WWW'07;
    * Xiao et al. TODS'11, both public literature) on a GLOBAL
    * (document-frequency ASC, hash ASC) token order:
    *
    *   J(A,B) ≥ t ⇒ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ = α, and two sets sharing
    *   α elements MUST share one among their first |s|−α+1 tokens in any
    *   common total order — so each set indexes only its first
    *   |s|−⌈t·|s|⌉+1 tokens (a superset of the needed prefix, since
    *   ⌈t·|s|⌉ ≤ α), the RAREST shingles under the frequency order.
    *
    * The prefix length is computed in INTEGER arithmetic
    * ((len·tNum + tDen−1) div tDen), so candidate generation is
    * engine-exact; the verify is one jaccardHashes kernel per distinct
    * candidate pair. Recall is exact by construction — the DuckDB oracle
    * is the brute-force all-pairs join, so a missed pair is a hash
    * mismatch, not a silent quality loss (the segmentPairs contract,
    * transplanted from edit distance to set similarity).
    *
    * `maxBucket` is the FAIL-LOUD bound on one prefix-token bucket (the
    * rangeJoin `maxCellsPerInterval` / basketLift `maxBasketSize` idiom):
    * the prefix holds the RAREST shingles, which keeps buckets small on
    * real text, but nothing in the math enforces it — a templated corpus
    * (thousands of documents sharing one otherwise-rare shingle) would
    * make one bucket quadratic. Dropping hot tokens instead would VOID
    * the recall lemma (a dropped token can be the ONLY shared prefix
    * token of a true pair), so the guard names the token and the bucket
    * size: raise `maxBucket` deliberately or pre-split the templated
    * documents — a named diagnostic, never a quadratic stall or a silent
    * drop. Shuffles: shingle explode + frequency agg, one
    * per-doc ranking window, the token-bucket group, the verify join —
    * all bounded; never a corpus self-join. NULL ids/texts drop. Emits
    * (doc_a, doc_b, jaccard), doc_a < doc_b, each pair once. */
  def jaccardAllPairs(docs: DataFrame, id: String, text: String, k: Int,
                      tNum: Int, tDen: Int,
                      maxBucket: Int = 10000): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(tNum > 0 && tNum <= tDen,
      s"need 0 < tNum <= tDen, got $tNum/$tDen")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val sh = spread(docs).select(col(id).as("doc"),
      array_distinct(shingleHashes(col(text), k)).as("_sh"))
    val tokens = sh.select(col("doc"), size(col("_sh")).as("_len"),
      explode(col("_sh")).as("_tok"))
    val freq = tokens.groupBy(col("_tok")).agg(count(lit(1)).as("_freq"))
    val rank = Window.partitionBy(col("doc"))
      .orderBy(col("_freq"), col("_tok"))
    val prefix = tokens.join(freq, Seq("_tok"))
      .withColumn("_rn", row_number().over(rank))
      .filter(col("_rn") <=
        col("_len") - expr(s"(_len * $tNum + ${tDen - 1}) div $tDen") + 1)
    val capGuard = assert_true(size(col("ms")) <= maxBucket,
      concat(lit("jaccardAllPairs: prefix-token bucket '"),
        col("_tok").cast("string"), lit("' holds "),
        size(col("ms")).cast("string"),
        lit(s" docs (> maxBucket=$maxBucket) — pair expansion would be " +
          "quadratic. Raise maxBucket deliberately or pre-split " +
          "templated/low-entropy documents; dropping the token would " +
          "lose recall, so this operator refuses instead.")))
    val candidates = prefix.groupBy(col("_tok"))
      .agg(collect_list(col("doc")).as("ms"))
      .filter(capGuard.isNull)
      .filter(size(col("ms")) > 1)
      .select(explode(col("ms")).as("doc_a"), col("ms"))
      .select(col("doc_a"), explode(col("ms")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
      .distinct()
    jaccardPairs(docs, id, text, k, candidates, tNum.toDouble / tDen)
  }

  /** Blocking-quality audit of the MinHash-LSH blocker against GROUND
    * TRUTH — the two numbers a dedup pipeline owner reads before
    * trusting banding parameters at 100 TB:
    *
    *   pairs_completeness = |candidates ∩ true pairs| / |true pairs|
    *     (recall of the blocker: which true near-dups ever reach a
    *      verifier), and
    *   reduction_ratio = 1 − |candidates| / C(n,2)
    *     (how much of the quadratic pair space the blocker prunes).
    *
    * `truth0` is the exact pair frame (doc_a, doc_b) from jaccardAllPairs
    * — provable recall, so the audit never grades the blocker against
    * itself (a MinHash-derived "truth" would hide exactly the pairs the
    * blocker loses). The caller owns its materialization: this reads it
    * twice (n_true + the caught join). Candidates are the RAW banding
    * collisions (minhashPairs at minJaccard 0 — before any
    * signature-estimate filter, because that filter is part of the
    * blocker being audited). Counts are exact int64; the two ratios are
    * trunc6'd single divisions; n_possible_pairs = n·(n−1) div 2 exact.
    * Groups with zero true pairs emit NULL completeness rather than a
    * fake 1.0. ONE summary row; all totals ride 1-row broadcast
    * crossJoins — zero driver traffic. At scale the all-pairs truth is
    * the expensive side; blockingQualitySampledFrom audits a hash-sampled
    * slice instead. */
  def blockingQualityFrom(truth0: DataFrame, docs: DataFrame, id: String,
                          text: String, k: Int, bands: Int,
                          rowsPerBand: Int): DataFrame = {
    val truth = truth0.select(col("doc_a"), col("doc_b"))
    val cand = minhashPairs(docs, id, text, k, bands, rowsPerBand, 0.0)
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(true) // two consumers: n_candidates and caught
    val nd = spread(docs).filter(col(id).isNotNull)
      .groupBy().agg(count(lit(1)).as("n_docs"))
    val nc = cand.groupBy().agg(count(lit(1)).as("n_candidates"))
    val nt = truth.groupBy().agg(count(lit(1)).as("n_true_pairs"))
    val caught = truth.join(cand, Seq("doc_a", "doc_b"), "left_semi")
      .groupBy().agg(count(lit(1)).as("n_caught"))
    nd.crossJoin(broadcast(nc)).crossJoin(broadcast(nt))
      .crossJoin(broadcast(caught))
      .select(col("n_docs"),
        expr("(n_docs * (n_docs - CAST(1 AS BIGINT))) div CAST(2 AS BIGINT)")
          .as("n_possible_pairs"),
        col("n_candidates"), col("n_true_pairs"), col("n_caught"))
      .withColumn("reduction_ratio",
        when(col("n_possible_pairs") > 0,
          floor((lit(1d) - col("n_candidates").cast("double")
            / col("n_possible_pairs").cast("double")) * 1000000d) / 1000000d))
      .withColumn("pairs_completeness",
        when(col("n_true_pairs") > 0,
          floor(col("n_caught").cast("double")
            / col("n_true_pairs").cast("double") * 1000000d) / 1000000d))
  }

  /** blockingQualityFrom over a DETERMINISTIC hash sample — the audit
    * that runs at scale: the exact all-pairs truth side is inherent to a
    * recall audit and unrunnable on the full corpus, so this grades the
    * blocker on the md5(id) % sampleMod == 0 slice (the q_doc_sample
    * idiom: reproducible, partitioning-independent, engine-identical —
    * never Spark's RNG sample()). `truth` must be the
    * jaccardAllPairsSampled output for the SAME sampleMod (the caller's
    * contract); the slice is re-derived here from the identical md5
    * filter, so the candidate side and n_docs see exactly the docs the
    * truth side graded and pairs_completeness remains an unbiased recall
    * estimate of the banding parameters, while reduction_ratio is the
    * slice's own pruning figure. Same output row as blockingQualityFrom
    * plus `sample_den` (the kept fraction's denominator); sampleMod 1
    * degenerates to the exact audit. All-pairs cost shrinks by
    * ~sampleMod². */
  def blockingQualitySampledFrom(truth: DataFrame, docs: DataFrame,
                                 id: String, text: String, k: Int,
                                 bands: Int, rowsPerBand: Int,
                                 sampleMod: Int): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val slice = docs.filter(
      pmod(md5Int(col(id).cast("string")), lit(sampleMod.toLong)) === 0L)
    blockingQualityFrom(truth, slice, id, text, k, bands, rowsPerBand)
      .withColumn("sample_den", lit(sampleMod.toLong))
  }

  /** Exact duplicated-SUBSTRING spans per document (Lee et al. 2022,
    * arXiv 2107.06499 "Deduplicating Training Data Makes Language Models
    * Better" — the ExactSubstr operator, re-expressed relationally): a
    * token k-gram occurring >= minOccurrences times ANYWHERE in the
    * corpus marks its covered token range as duplicated; per document,
    * overlapping-or-touching marked ranges merge into maximal spans.
    * Where the pair operators answer "which DOCUMENTS are near-dups",
    * this answers "which PARTS of every document are boilerplate" — the
    * gauge behind span-level cut lists (licence headers, navigation
    * chrome, quoted tweets) that doc-level dedup cannot see.
    *
    * Semantics, identical on both engines: grams and positions come from
    * the shared normalized shingle pipeline (gram j covers tokens
    * j..j+L-1, L = min(k, n_tokens) — sub-k docs carry one whole-text
    * pseudo-gram); occurrence counts are global EXACT multiset counts
    * (within-doc repeats count, like the reference implementation's
    * suffix-array duplicates); ranges merge when j2 <= j1 + L
    * (overlap-or-touch), so a span's covered-token count is exactly
    * last_j - first_j + L. Counts int64; dup_share one trunc6'd
    * division, NULL for zero-token docs.
    *
    * Distributed shape: ONE gram-keyed count shuffle (map-side combine —
    * the suffix array this replaces is famously NOT distributable), one
    * semi-join back on the gram key, doc-PARTITIONED lag + running-sum
    * windows over the marked positions (never unpartitioned), one doc
    * agg. The shingle frame is localCheckpoint'd for its two consumers.
    * Emits (id, n_tokens, n_grams, n_dup_grams, n_spans, n_dup_tokens,
    * max_span_tokens, dup_share). */
  def dupSpans(docs: DataFrame, id: String, text: String, k: Int,
               minOccurrences: Int = 2): DataFrame = {
    val emitted = Seq("n_tokens", "n_grams", "n_dup_grams", "n_spans",
      "n_dup_tokens", "max_span_tokens", "dup_share")
    require(!emitted.contains(id),
      s"dupSpans emits ${emitted.mkString(", ")}; rename the input's")
    val (base, spans) = dupSpanFrames(docs, id, text, k, minOccurrences)
    val agg = spans.groupBy(col("_doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("_lj") - col("_fj") + col("_sl")).as("n_dup_tokens"),
        max(col("_lj") - col("_fj") + col("_sl")).as("max_span_tokens"),
        sum(col("_ng")).as("n_dup_grams"))
    base.select(col("_doc"), col("_nt").as("n_tokens"),
        size(col("_hs")).cast("long").as("n_grams"))
      .join(agg, Seq("_doc"), "left")
      .select(col("_doc").as(id), col("n_tokens"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        when(col("n_tokens") > 0L,
          floor(coalesce(col("n_dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double") * 1000000d) / 1000000d)
          .as("dup_share"))
  }

  /** The duplicated-span CUT LIST — dupSpans' actionable artifact: one
    * row per maximal duplicated span with its token boundaries, the
    * input a span-trimming rewrite actually consumes (dupSpans only says
    * HOW MUCH of each doc is boilerplate; this says WHERE). Same
    * machinery, same semantics; span_idx numbers spans 1..n in token
    * order within each doc. Emits (id, span_idx, first_token,
    * last_token, n_tokens_covered, n_grams) — token indices 0-based over
    * the normalized token sequence. */
  def dupSpanList(docs: DataFrame, id: String, text: String, k: Int,
                  minOccurrences: Int = 2): DataFrame = {
    val emitted = Seq("span_idx", "first_token", "last_token",
      "n_tokens_covered", "n_grams")
    require(!emitted.contains(id),
      s"dupSpanList emits ${emitted.mkString(", ")}; rename the input's")
    val (_, spans) = dupSpanFrames(docs, id, text, k, minOccurrences)
    spans.select(col("_doc").as(id), col("_isle").as("span_idx"),
      col("_fj").cast("long").as("first_token"),
      (col("_lj") + col("_sl") - 1L).cast("long").as("last_token"),
      (col("_lj") - col("_fj") + col("_sl")).as("n_tokens_covered"),
      col("_ng").as("n_grams"))
  }

  /** Shared dup-span machinery: (base docs frame with _doc/_nt/_hs/_L,
    * merged spans frame with _doc/_isle/_fj/_lj/_sl/_ng). See dupSpans
    * for the semantics and the distributed-shape argument. */
  private def dupSpanFrames(docs: DataFrame, id: String, text: String,
                            k: Int, minOccurrences: Int)
      : (DataFrame, DataFrame) = {
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2 (1 marks every gram), got " +
        s"$minOccurrences")
    val (base, grams) = gramPositions(docs, id, text, k)
    val dupGrams = grams.groupBy(col("_h"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minOccurrences.toLong)
    (base, spanIslands(grams.join(dupGrams, Seq("_h"), "left_semi")))
  }

  /** Positional gram frames: (base with _doc/_nt/_hs/_L, exploded grams
    * with _doc/_L/_j/_h). The shared front of every span operator. */
  private def gramPositions(docs: DataFrame, id: String, text: String,
                            k: Int): (DataFrame, DataFrame) = {
    require(k > 0, s"k must be positive, got $k")
    val norm = graft.operators.TextOps.normalized(col(text))
    val ntok = size(filter(split(norm, " "), t => t =!= "")).cast("long")
    val base = spread(docs).select(col(id).as("_doc"), ntok.as("_nt"),
        shingleHashes(col(text), k).as("_hs"))
      .withColumn("_L",
        when(col("_nt") >= k.toLong, k.toLong).otherwise(col("_nt")))
      .localCheckpoint(true) // two consumers: totals + the gram explode
    (base, base.select(col("_doc"), col("_L"),
      posexplode(col("_hs")).as(Seq("_j", "_h"))))
  }

  /** Overlap-or-touch island merge over MARKED gram positions
    * (_doc/_L/_j): doc-partitioned lag + running-sum windows, one span
    * row per island (_doc/_isle/_fj/_lj/_sl/_ng). */
  private def spanIslands(marked: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("_doc")).orderBy(col("_j"))
    marked
      .withColumn("_ni",
        when(lag(col("_j"), 1).over(w).isNull
          || col("_j") - lag(col("_j"), 1).over(w) > col("_L"), 1L)
          .otherwise(0L))
      .withColumn("_isle", sum(col("_ni")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("_doc"), col("_isle"))
      .agg(min(col("_j")).as("_fj"), max(col("_j")).as("_lj"),
        first(col("_L")).as("_sl"), count(lit(1)).as("_ng"))
  }

  /** APPLY the duplicated-span cut list — the rewrite dupSpanList plans:
    * every document's normalized token sequence with its corpus-
    * duplicated spans removed. NO copy of a duplicated span survives
    * (the conservative ExactSubstr rewrite — a span duplicated anywhere
    * is cut everywhere; pair with q_dedup_keep when one canonical copy
    * should survive instead). Output text is the kept tokens
    * space-joined (normalization is inherent to the token pipeline —
    * the emitted corpus is the training-ready form, not a byte-faithful
    * original). Wholly-duplicated docs emit kept_text '' with
    * n_kept_tokens 0 — the row is kept so the caller sees WHAT was
    * dropped; zero-token docs pass through untouched.
    *
    * Shape: the dupSpans marking (one gram-count shuffle + semi-join),
    * then per doc ONE aggregation collecting the marked POSITIONS (the
    * bounded gram fan-out — never the corpus) and one codegen'd HOF
    * filter over the token array; no windows beyond the span machinery,
    * no driver traffic. Emits (id, n_tokens, n_kept_tokens,
    * kept_text). */
  def trimSpans(docs: DataFrame, id: String, text: String, k: Int,
                minOccurrences: Int = 2): DataFrame = {
    require(minOccurrences >= 2,
      s"minOccurrences must be >= 2 (1 marks every gram), got " +
        s"$minOccurrences")
    trimByMarks(docs, id, text, k, "trimSpans") { grams =>
      val dupGrams = grams.groupBy(col("_h"))
        .agg(count(lit(1)).as("_c"))
        .filter(col("_c") >= minOccurrences.toLong)
      grams.join(dupGrams, Seq("_h"), "left_semi")
    }
  }

  /** contaminationSpans APPLIED — the surgical decontamination rewrite
    * its docstring promises: each corpus document's normalized tokens
    * with every benchmark-covered span cut, the quoted eval passage gone
    * and the surrounding prose kept (q_decontaminate drops the whole
    * document; this keeps what is actually clean). Same marking as
    * contaminationSpans, same emit as trimSpans: (id, n_tokens,
    * n_kept_tokens, kept_text). */
  def trimContamination(corpus: DataFrame, bench: DataFrame, id: String,
                        text: String, k: Int): DataFrame = {
    val benchGrams = bench
      .select(explode(array_distinct(shingleHashes(col(text), k)))
        .as("_h"))
      .distinct()
    trimByMarks(corpus, id, text, k, "trimContamination")(
      _.join(benchGrams, Seq("_h"), "left_semi"))
  }

  /** Shared trim core: mark grams via `marker`, cut every covered token
    * (start j covers j..j+L−1) with one per-doc marked-positions agg and
    * a codegen'd indexed HOF filter over the token array. */
  private def trimByMarks(docs: DataFrame, id: String, text: String,
                          k: Int, opName: String)
                         (marker: DataFrame => DataFrame): DataFrame = {
    val emitted = Seq("n_tokens", "n_kept_tokens", "kept_text")
    require(!emitted.contains(id),
      s"$opName emits ${emitted.mkString(", ")}; rename the input's")
    val (base, grams) = gramPositions(docs, id, text, k)
    val markedStarts = marker(grams)
      .groupBy(col("_doc"))
      .agg(array_sort(collect_list(col("_j"))).as("_js"))
    val norm = graft.operators.TextOps.normalized(col(text))
    val toks = filter(split(norm, " "), t => t =!= "")
    base.select(col("_doc"), col("_nt"), col("_L"))
      .join(spread(docs).select(col(id).as("_doc"), toks.as("_tk")),
        Seq("_doc"))
      .join(markedStarts, Seq("_doc"), "left")
      .select(col("_doc").as(id), col("_nt").as("n_tokens"),
        when(col("_js").isNull, col("_tk")).otherwise(
          filter(col("_tk"), (t, i) =>
            !exists(col("_js"), j =>
              j <= i.cast("long") &&
                i.cast("long") <= j + col("_L") - 1L))).as("_kept"))
      .select(col(id), col("n_tokens"),
        size(col("_kept")).cast("long").as("n_kept_tokens"),
        array_join(col("_kept"), " ").as("kept_text"))
  }

  /** Benchmark-CONTAMINATION spans — WHERE the eval-set leakage sits in
    * each corpus document (contaminationRate says how much; this gives
    * the surgical cut list): a corpus gram is marked iff it appears
    * ANYWHERE in the benchmark's distinct gram set, and marked ranges
    * merge into maximal spans exactly like dupSpans. The output is what
    * a decontamination rewrite consumes when dropping the whole document
    * (q_decontaminate) is too blunt — cut the quoted benchmark passage,
    * keep the surrounding prose. Same shapes: one bench distinct-gram
    * build (small by construction — it is the protected set), one
    * semi-join on the gram key, doc-partitioned windows. Emits
    * (id, span_idx, first_token, last_token, n_tokens_covered,
    * n_grams). */
  def contaminationSpans(corpus: DataFrame, bench: DataFrame, id: String,
                         text: String, k: Int): DataFrame = {
    val emitted = Seq("span_idx", "first_token", "last_token",
      "n_tokens_covered", "n_grams")
    require(!emitted.contains(id),
      s"contaminationSpans emits ${emitted.mkString(", ")}; rename the " +
        "input's")
    val (_, grams) = gramPositions(corpus, id, text, k)
    val benchGrams = bench
      .select(explode(array_distinct(shingleHashes(col(text), k)))
        .as("_h"))
      .distinct()
    val spans = spanIslands(grams.join(benchGrams, Seq("_h"), "left_semi"))
    spans.select(col("_doc").as(id), col("_isle").as("span_idx"),
      col("_fj").cast("long").as("first_token"),
      (col("_lj") + col("_sl") - 1L).cast("long").as("last_token"),
      (col("_lj") - col("_fj") + col("_sl")).as("n_tokens_covered"),
      col("_ng").as("n_grams"))
  }

  /** jaccardAllPairs over a DETERMINISTIC hash sample — the 100 TB form
    * of the exact-truth audit (the blockingQualitySampledFrom idiom): the
    * AllPairs prefix filter is provably-complete but still super-linear
    * in cluster density, so the deployable corpus-scale estimate runs on
    * the md5(id) % sampleMod == 0 slice, shrinking the candidate volume
    * ~sampleMod² while each surviving pair's Jaccard stays EXACT (both
    * docs' full shingle sets — sampling selects documents, never
    * shingles, so a kept pair's similarity is identical to the full-
    * corpus run). Same output as jaccardAllPairs plus `sample_den`;
    * sampleMod 1 degenerates to the exact form, which stays pinned as
    * truth at bench scale. */
  def jaccardAllPairsSampled(docs: DataFrame, id: String, text: String,
                             k: Int, tNum: Int, tDen: Int, sampleMod: Int,
                             maxBucket: Int = 10000): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val slice = docs.filter(
      pmod(md5Int(col(id).cast("string")), lit(sampleMod.toLong)) === 0L)
    jaccardAllPairs(slice, id, text, k, tNum, tDen, maxBucket)
      .withColumn("sample_den", lit(sampleMod.toLong))
  }

  def jaccardPairs(docs: DataFrame, id: String, text: String, k: Int,
                   candidates: DataFrame, minJaccard: Double): DataFrame = {
    val sh = spread(docs).select(col(id).as("d"),
      array_distinct(shingleHashes(col(text), k)).as("sh"))
    candidates
      .join(sh.select(col("d").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("d").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        jaccardHashes(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Field-level survivorship merge — the MDM "golden record": per
    * duplicate cluster, ONE synthesized row whose fields come from
    * different members under per-field policies, where keepBest keeps one
    * WHOLE row. Policies (the standard trio): `longest` — the value (and
    * owning id, emitted as rep_id) of the member with the longest value,
    * ties toward the smallest id; `majority` — the most frequent value,
    * ties toward the smallest value; `minimum` — the plain minimum.
    * Singleton docs (absent from `clusters`) form their own cluster
    * under their id, so every doc is represented exactly once.
    *
    * Deterministic by construction: every policy is a total-order argmin/
    * argmax over exact counts/lengths — partitioning cannot change a
    * winner. NULL field values lose every contest (min/max skip NULLs;
    * a NULL-valued majority candidate is not counted) but the member
    * still counts in n_members.
    *
    * Distributed shape: one id-keyed join tags members, ONE cluster-keyed
    * hash agg computes the longest/min fields, ONE (cluster, value) agg +
    * cluster agg computes the majority — all output frames are
    * O(clusters); no windows over the corpus, no driver traffic. Emits
    * (cluster_id, n_members, rep_id, longest_val, majority_val,
    * min_val). */
  def goldenRecord(docs: DataFrame, id: String, clusters: DataFrame,
                   longest: String, majority: String,
                   minimum: String): DataFrame = {
    val internal = Seq("_cl", "_b", "_mv", "_c", "cluster_id", "n_members",
      "rep_id", "longest_val", "majority_val", "min_val")
    val clash = (Seq(id, longest, majority, minimum)).filter(internal.contains)
    require(clash.isEmpty,
      s"goldenRecord emits/uses ${internal.mkString(", ")}; rename " +
        s"column(s) ${clash.mkString(", ")}")
    require(clusters.columns.contains("doc_id") &&
        clusters.columns.contains("cluster_id"),
      "goldenRecord expects dupClusters output: (doc_id, cluster_id)")
    val members = docs
      .join(clusters.select(col("doc_id").as(id), col("cluster_id")),
        Seq(id), "left")
      .withColumn("_cl", coalesce(col("cluster_id"), col(id)))
      .localCheckpoint(true) // feeds the field aggs AND the majority pass
    val fields = members.groupBy(col("_cl"))
      .agg(count(lit(1)).as("n_members"),
        // argmax by (length desc, id asc), value carried in the struct
        min(when(col(longest).isNotNull,
          struct((-length(col(longest))).as("_a"), col(id).as("_b"),
            col(longest).as("_v")))).as("_lg"),
        min(col(minimum)).as("min_val"))
    val majorityVal = members.filter(col(majority).isNotNull)
      .groupBy(col("_cl"), col(majority).as("_mv"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col("_cl"))
      .agg(min(struct((-col("_c")).as("_a"), col("_mv").as("_v")))
        .as("_mj"))
    fields.join(majorityVal, Seq("_cl"), "left")
      .select(col("_cl").as("cluster_id"), col("n_members"),
        col("_lg._b").as("rep_id"), col("_lg._v").as("longest_val"),
        col("_mj._v").as("majority_val"), col("min_val"))
  }

  /** Per-document benchmark-contamination RATE — the gauge form of
    * contaminationPairs: every corpus doc reports what share of its
    * distinct k-gram shingles appear ANYWHERE in the benchmark, including
    * the zero-overlap majority (contaminationPairs emits only suspect
    * pairs above a winnow-candidate threshold; this profiles the whole
    * corpus, the number a data card quotes). The GPT-3/PaLM
    * decontamination reports use exactly this n-gram overlap statistic.
    *
    * Shape: corpus doc-grams (exploded distinct shingle hashes) LEFT-join
    * the benchmark's DISTINCT gram set on the gram key — one shuffle
    * join, both sides data-sized but never broadcast, never all-pairs;
    * per-doc counts are one keyed agg. Short texts shingle to the
    * normalized text itself (the shingleHashes convention), so n_grams
    * ≥ 1 and the trunc6'd rate is always defined. Emits one row per
    * corpus doc (id, n_grams, n_contaminated, contamination_rate). */
  def contaminationRate(corpus: DataFrame, bench: DataFrame, id: String,
                        text: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val grams = spread(corpus).select(col(id),
      explode(array_distinct(shingleHashes(col(text), k))).as("_g"))
    val benchGrams = bench
      .select(explode(array_distinct(shingleHashes(col(text), k))).as("_g"))
      .distinct().withColumn("_hit", lit(1L))
    grams.join(benchGrams, Seq("_g"), "left")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_contaminated"))
      .select(col(id), col("n_grams"), col("n_contaminated"),
        (floor(col("n_contaminated").cast("double")
           / col("n_grams").cast("double") * 1000000d) / 1000000d)
          .as("contamination_rate"))
  }

  /** contaminationRate over a DETERMINISTIC hash sample of the CORPUS —
    * the 100 TB form: the full gram join's shuffle volume is corpus-
    * grams-sized (the bench side is small; the corpus side is not), so
    * the deployable audit scores only the md5(id) % sampleMod == 0
    * corpus slice. The BENCHMARK side stays WHOLE — it is the thing
    * being protected and is tiny by construction — so each sampled
    * document's contamination_rate is IDENTICAL to its full-run value
    * (sampling selects which docs get scored, never which grams count);
    * the corpus-level rate estimate is then unbiased under the uniform
    * md5 slice. Same output plus `sample_den`; sampleMod 1 degenerates
    * to the exact form, which stays pinned at bench scale. */
  def contaminationRateSampled(corpus: DataFrame, bench: DataFrame,
                               id: String, text: String, k: Int,
                               sampleMod: Int): DataFrame = {
    require(sampleMod >= 1, s"sampleMod must be >= 1, got $sampleMod")
    val slice = corpus.filter(
      pmod(md5Int(col(id).cast("string")), lit(sampleMod.toLong)) === 0L)
    contaminationRate(slice, bench, id, text, k)
      .withColumn("sample_den", lit(sampleMod.toLong))
  }

  /** Fellegi-Sunter probabilistic linkage scores over CANDIDATE pairs —
    * the classical record-linkage model (Fellegi & Sunter 1969, JASA;
    * the Splink/dedupe formulation) on top of whatever bounded blocking
    * produced the pairs (segmentPairs, minhash bands, …): each field's
    * agreement contributes ln(m/u), each disagreement ln((1−m)/(1−u)),
    * and the pair's total log-odds ranks match likelihood — principled
    * evidence weighting where rare-value agreement (low u) counts for
    * more than agreeing on a majority value.
    *
    * u per field is ESTIMATED FROM THE DATA as the random-pair agreement
    * probability Σ_v c_v·(c_v−1) / (N·(N−1)) over non-NULL values —
    * exact integer numerator/denominator — then Laplace-smoothed
    * (u' = (U+1)/(D+2)) so single-valued and all-distinct fields stay
    * finite. m is the plan parameter mNum/mDen (match-pair agreement
    * probability, default 19/20). Weights enter ONCE per field as exact
    * BIGINTs: w_agree = qlog(mNum·(D+2)) − qlog(mDen·(U+1)),
    * w_dis = qlog((mDen−mNum)·(D+2)) − qlog(mDen·(D−U+1)); a NULL on
    * either side contributes 0 (absent ≠ different — no evidence).
    * N·(N−1) converts to double exactly below 2⁵³ (N ≲ 9·10⁷ records;
    * the long multiply fails loud under ANSI past 2⁶³). Per-pair sums
    * are exact int64; the emitted `score` (log-odds in nats) is one
    * double division.
    *
    * Shape: one O(distinct)-shuffle per field folded to a 1-ROW stats
    * frame (broadcast — O(fields) values, never data-sized); candidate
    * pairs re-join `records` twice on the id key (plain shuffle joins,
    * pair count already bounded by the caller's blocking). Emits
    * (aCol, bCol, n_agree, n_known, score_scaled, score). */
  def linkageScore(records: DataFrame, id: String, fields: Seq[String],
                   pairs: DataFrame, aCol: String, bCol: String,
                   mNum: Long = 19L, mDen: Long = 20L): DataFrame = {
    require(fields.nonEmpty, "linkageScore needs >= 1 field")
    require(mNum > 0 && mNum < mDen,
      s"need 0 < mNum < mDen, got $mNum/$mDen")
    val reserved = Seq("n_agree", "n_known", "score_scaled", "score")
    require(!fields.exists(reserved.contains) && !reserved.contains(aCol)
        && !reserved.contains(bCol),
      s"linkageScore emits ${reserved.mkString(", ")}; rename inputs")
    // one 1-row (U, D) aggregate per field, crossed into a single stats row
    val statRow = fields.map { f =>
      records.filter(col(f).isNotNull)
        .groupBy(col(f)).agg(count(lit(1)).as("_c"))
        .agg(coalesce(sum(col("_c") * (col("_c") - 1L)), lit(0L))
          .as(s"_u_$f"),
          coalesce(sum(col("_c")), lit(0L)).as(s"_n_$f"))
    }.reduce(_.crossJoin(_))
    val aSide = records.select(
      col(id).as(aCol) +: fields.map(f => col(f).as(s"_a_$f")): _*)
    val bSide = records.select(
      col(id).as(bCol) +: fields.map(f => col(f).as(s"_b_$f")): _*)
    def qlog(c: Column) = InfoTheory.qlog(c)
    val contribs = fields.map { f =>
      val d = col(s"_n_$f") * (col(s"_n_$f") - 1L)
      val u = col(s"_u_$f")
      val wAgree = qlog(lit(mNum) * (d + 2L)) - qlog(lit(mDen) * (u + 1L))
      val wDis = qlog(lit(mDen - mNum) * (d + 2L)) -
        qlog(lit(mDen) * (d - u + 1L))
      val known = col(s"_a_$f").isNotNull && col(s"_b_$f").isNotNull
      (when(known, when(col(s"_a_$f") === col(s"_b_$f"), wAgree)
         .otherwise(wDis)).otherwise(lit(0L)),
       when(known && col(s"_a_$f") === col(s"_b_$f"), 1L).otherwise(0L),
       when(known, 1L).otherwise(0L))
    }
    pairs.select(col(aCol), col(bCol))
      .join(aSide, aCol).join(bSide, bCol)
      .crossJoin(broadcast(statRow))
      .select(col(aCol), col(bCol),
        contribs.map(_._2).reduce(_ + _).as("n_agree"),
        contribs.map(_._3).reduce(_ + _).as("n_known"),
        contribs.map(_._1).reduce(_ + _).as("score_scaled"))
      .withColumn("score", col("score_scaled").cast("double") / 1000000d)
  }
}
