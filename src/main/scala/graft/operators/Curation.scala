package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composition the individual tiers exist
  * for, in ONE declarative plan: quality gate → language gate → exact-dedup
  * canonical keep. Because every stage is a Column pipeline over the same
  * scan, Catalyst fuses the three text passes' scans, prunes to the two
  * columns they read, and AQE sizes the dedup join — the whole pass is two
  * shuffles (the fingerprint groupBy and the canonical join), not a chain of
  * materialized intermediate tables like a script-per-stage pipeline.
  */
object Curation {

  /** Keep docs that (a) are their content fingerprint's canonical
    * representative (smallest id), (b) classify as `lang`, and (c) pass the
    * token-count window and minimum stopword ratio (the classic
    * gibberish/boilerplate gate). Emits (id, n_tokens) per kept doc — the
    * minimal retention manifest downstream token-budget planning needs. */
  def curate(docs: DataFrame, id: String, text: String,
             stopwords: Seq[String], profiles: Map[String, Seq[String]],
             lang: String, minTokens: Long, maxTokens: Long,
             minStopRatio: Double): DataFrame = {
    val quality = TextOps.qualityScore(docs, id, text, stopwords)
      .select(col(id), col("n_tokens"), col("stopword_ratio"))
    val language = TextOps.languageId(docs, id, text, profiles)
      .select(col(id), col("lang_pred"))
    val canonical = Dedup.exactDedup(docs, id, text)
      .select(col("canonical_id").as(id))
    canonical
      .join(quality, Seq(id))
      .join(language, Seq(id))
      .filter(col("lang_pred") === lang &&
        col("n_tokens").between(minTokens, maxTokens) &&
        col("stopword_ratio") >= minStopRatio)
      .select(col(id), col("n_tokens"))
  }

  /** Token-budget selection: keep the highest-`priority` docs whose running
    * token total stays within `budget` — "fill a 10B-token training budget
    * with the best documents" as one plan. Order is (priority DESC, id ASC),
    * made engine-exact by the caller passing an already floor-truncated
    * priority (e.g. qualityScore's stopword_ratio); the global cumulative
    * sum runs through CoreOps.orderedPrefixSum, so no single-task window
    * exists at any scale. Emits the manifest (id, n_tokens, cum_tokens). */
  def tokenBudget(scored: DataFrame, id: String, tokensCol: String,
                  priorityCol: String, budget: Long): DataFrame = {
    // DESC priority as an ASC int64 range key: negate the micro-truncated
    // score (the same 1e6 grid the quality ratios already live on)
    val ord = -floor(col(priorityCol) * 1e6).cast("long")
    CoreOps.orderedPrefixSum(scored, ord, id, tokensCol, "cum_tokens")
      .filter(col("cum_tokens") <= budget)
      .select(col(id), col(tokensCol), col("cum_tokens"))
  }

  /** Length-bucketed micro-batching — the padding-minimizing batcher: rows
    * are grouped into fixed-size batches of similar token length, so a
    * fixed-shape inference/training step pads each row only to its BATCH
    * max instead of the corpus max. `boundaries` are ascending exclusive
    * upper bounds; a row's bucket is the first boundary above its token
    * count (an overflow bucket catches the rest). Within a bucket, rows
    * order by (tokens, id) and chunk into `batchSize` batches; emits
    * `bucket`, `batch` (per-bucket index) and `batch_pos`.
    *
    * Scale shape: the naive form is a row_number window partitioned by
    * bucket — a handful of buckets means a handful of TASKS, the classic
    * serialization. This uses runningSumSalted's scheme instead: rows
    * sub-bucket by a deterministic token-range split (equal token counts
    * share a sub-bucket, so the (tokens, id) order is preserved across
    * boundaries), each (bucket, sub-bucket) slice numbers its rows in
    * parallel, and slice offsets come from a second window over the tiny
    * (bucket, sub-bucket) COUNTS — O(buckets × slices) rows, never the
    * data. Assignment is a pure function of the sorted order — integer
    * arithmetic end to end, engine-exact. Fails loud on NULL/negative
    * token counts like concatPack. */
  def batchByLength(df: DataFrame, id: String, tokensCol: String,
                    boundaries: Seq[Long], batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(boundaries.nonEmpty && boundaries == boundaries.sorted &&
      boundaries.distinct == boundaries,
      s"boundaries must be ascending and distinct, got $boundaries")
    val emitted = Seq("bucket", "batch", "batch_pos")
    val internal = Seq("_b", "_lrn", "_cnt", "_off", "_rn0")
    val clash = df.columns.intersect(emitted ++ internal)
    require(clash.isEmpty,
      s"batchByLength emits ${emitted.mkString(", ")} and uses " +
        s"${internal.mkString(", ")}; rename the input's ${clash.mkString(", ")}")
    val bad = col(tokensCol).isNull || col(tokensCol) < 0
    val guard = assert_true(!bad,
      concat(lit(s"batchByLength: '$tokensCol' must be non-NULL and >= 0, got "),
        coalesce(col(tokensCol).cast("string"), lit("NULL"))))
    val clean = df.filter(guard.isNull)
    val bucketExpr = boundaries.zipWithIndex.foldRight(
      lit(boundaries.size).cast("int")) { case ((bound, i), rest) =>
      when(col(tokensCol) < bound, lit(i).cast("int")).otherwise(rest)
    }
    val spark = df.sparkSession
    val n = math.max(spark.sessionState.conf.numShufflePartitions, 1)
    // sub-bucket is a function of the token count alone → equal counts share
    // a slice and the (tokens, id) order survives slice boundaries
    val (cut, sub) = CoreOps.cutWithRangeBucket(
      clean.withColumn("bucket", bucketExpr), col(tokensCol).cast("long"), n)
    val b = cut.withColumn("_b", sub)
    val wLocal = Window.partitionBy(col("bucket"), col("_b"))
      .orderBy(col(tokensCol), col(id))
    val wPrefix = Window.partitionBy(col("bucket")).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col("bucket"), col("_b"))
      .agg(count(lit(1)).as("_cnt"))
      .withColumn("_off", sum(col("_cnt")).over(wPrefix))
      .select(col("bucket"), col("_b"), col("_off"))
    b.withColumn("_lrn", row_number().over(wLocal).cast("long"))
      .join(broadcast(offsets), Seq("bucket", "_b"))
      .withColumn("_rn0", coalesce(col("_off"), lit(0L)) + col("_lrn") - 1)
      .withColumn("batch", expr(s"_rn0 div ${batchSize}L"))
      .withColumn("batch_pos", pmod(col("_rn0"), lit(batchSize.toLong)))
      .select(df.columns.map(col).toSeq ++
        Seq(col("bucket"), col("batch"), col("batch_pos")): _*)
  }

  /** Concat-and-chunk sequence packing — the step that turns a curated
    * corpus into fixed-length training examples: documents are laid out in
    * (`ord`, `id`) order as one virtual token stream and sliced every
    * `packTokens` tokens; each doc gets the pack range it lands in. Emits
    * `pack_first`/`pack_last` (a doc longer than the residual pack space
    * spans `(offset + tokens - 1) / packTokens` slices — the standard
    * concat-then-chunk semantics, where examples cross document boundaries
    * and long docs split) and `offset_in_pack` (the doc's first token's
    * position inside its first pack — what an example-builder needs to cut
    * attention-mask segments). A zero-token doc occupies no space: it maps
    * to the pack where the stream currently stands.
    *
    * Scale shape: the global cumulative position comes from
    * CoreOps.orderedPrefixSum's bucketed prefix scan (never a single-task
    * window), and everything after it is a pure int64 map stage — packing
    * 100 TB is exactly one prefix scan. Determinism: pack assignment is a
    * function of the (ord, id) total order and token counts alone — integer
    * arithmetic end to end, so any engine agrees bit-for-bit. Fails loud on
    * NULL or negative token counts (a packing manifest with holes is a
    * training-data bug, not a warning): the executor-side guard names the
    * offending value. */
  def concatPack(docs: DataFrame, ord: org.apache.spark.sql.Column,
                 id: String, tokensCol: String, packTokens: Long): DataFrame = {
    require(packTokens > 0, s"packTokens must be positive, got $packTokens")
    val emitted = Seq("pack_first", "pack_last", "offset_in_pack")
    val internal = Seq("_cum", "_excl")
    val clash = docs.columns.intersect(emitted ++ internal)
    require(clash.isEmpty,
      s"concatPack emits ${emitted.mkString(", ")} and uses " +
        s"${internal.mkString(", ")}; rename the input's ${clash.mkString(", ")}")
    // NULL-safe fail-loud guard, same shape as rangeJoin's: assert_true
    // returns NULL on success, so .isNull keeps it in the plan un-pruned
    val bad = col(tokensCol).isNull || col(tokensCol) < 0
    val guard = assert_true(!bad,
      concat(lit(s"concatPack: '$tokensCol' must be non-NULL and >= 0, got "),
        coalesce(col(tokensCol).cast("string"), lit("NULL"))))
    val clean = docs.filter(guard.isNull)
    CoreOps.orderedPrefixSum(clean, ord, id, tokensCol, "_cum")
      .withColumn("_excl", col("_cum") - col(tokensCol))
      .withColumn("pack_first", expr(s"_excl div ${packTokens}L"))
      .withColumn("pack_last",
        when(col(tokensCol) > 0,
          expr(s"(_excl + `$tokensCol` - 1) div ${packTokens}L"))
          .otherwise(col("pack_first")))
      .withColumn("offset_in_pack", pmod(col("_excl"), lit(packTokens)))
      .select(docs.columns.map(col).toSeq ++ emitted.map(col): _*)
  }

  /** k-anonymity audit over a set of quasi-identifier columns — the
    * re-identification risk gauge a dataset release runs BEFORE shipping:
    * every row whose quasi-identifier equivalence class holds fewer than
    * `k` rows is linkable to a small group of individuals. Emits one row
    * per equivalence class (quasi columns verbatim, n, risky) — the
    * release decision needs the classes, not just a count; compose with
    * an anti-join on the risky classes to suppress them. NULL
    * quasi-values form their own classes (NULL is a value an attacker
    * sees too). One partial-agg'd shuffle on the quasi key; O(classes)
    * output. Pure integer counts — engine-exact. */
  def kAnonymityClasses(df: DataFrame, quasi: Seq[String],
                        k: Long): DataFrame = {
    require(quasi.nonEmpty, "kAnonymityClasses needs >= 1 quasi column")
    require(k >= 2, s"k must be >= 2, got $k")
    val emitted = Seq("n", "risky")
    require(!quasi.exists(emitted.contains),
      s"kAnonymityClasses emits ${emitted.mkString(", ")}; rename inputs")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("risky", col("n") < k)
  }

  /** The one-row release gate over kAnonymityClasses: class counts, the
    * rows at risk, and the smallest class — "is this cut of the data
    * k-anonymous, and if not, how far off?". All exact int64. */
  def kAnonymitySummary(df: DataFrame, quasi: Seq[String],
                        k: Long): DataFrame =
    kAnonymityClasses(df, quasi, k).groupBy()
      .agg(count(lit(1)).as("n_classes"),
        coalesce(sum(when(col("risky"), 1L).otherwise(0L)), lit(0L))
          .as("n_risky_classes"),
        coalesce(sum(when(col("risky"), col("n")).otherwise(0L)), lit(0L))
          .as("n_risky_rows"),
        min(col("n")).as("min_class_size"))

  /** l-diversity audit — k-anonymity's necessary complement: a class can
    * hold many ROWS yet expose everyone in it if the SENSITIVE column
    * takes only one value there ("all 40 rows in this class belong to
    * the same user"). Per quasi-identifier class, the count of DISTINCT
    * sensitive values; classes below `l` are flagged. NULL sensitive
    * values are ignored by the distinct (an absent attribute reveals
    * nothing); classes whose every sensitive value is NULL report 0.
    * One partial-agg'd shuffle; exact counts. Emits (quasi..., n,
    * n_sensitive, risky). */
  def lDiversityClasses(df: DataFrame, quasi: Seq[String],
                        sensitive: String, l: Long): DataFrame = {
    require(quasi.nonEmpty, "lDiversityClasses needs >= 1 quasi column")
    require(l >= 2, s"l must be >= 2, got $l")
    val emitted = Seq("n", "n_sensitive", "risky")
    require(!quasi.exists(emitted.contains) && !emitted.contains(sensitive),
      s"lDiversityClasses emits ${emitted.mkString(", ")}; rename inputs")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("n"),
        count_distinct(col(sensitive)).as("n_sensitive"))
      .withColumn("risky", col("n_sensitive") < l)
  }

  /** t-closeness audit (Li et al., ICDE 2007) — the release gate that
    * k-anonymity and l-diversity both miss: a class can be large (k ok)
    * and diverse (l ok) yet still LEAK because its sensitive-value MIX
    * differs sharply from the global one ("90% of this class bought
    * alcohol vs 10% overall"). Per quasi-identifier class, the total
    * variation distance between the class's sensitive distribution and
    * the corpus-wide one; classes with tvd > t are flagged.
    *
    * Exactness: TVD = Σ_s |c_s·N − g_s·n| / (2·n·N) with the absent-
    * category tail folded in CLOSED FORM (Σ over sensitive values not in
    * the class = n·(N − Σ_present g_s) — no union explosion); numerators
    * are exact decimals, `tvd` is one trunc6'd division, and `risky`
    * compares the trunc6'd value against the plan literal. NULL
    * sensitive values drop entirely (they reveal nothing and belong to
    * no distribution). Shape: one (quasi, sensitive) count shuffle;
    * per-class margins are PARTITIONED window sums and per-sensitive
    * globals a partitioned window over the O(cells) table; N is a 1-row
    * broadcast. Emits (quasi..., n, n_sensitive, tvd, risky). */
  def tClosenessClasses(df: DataFrame, quasi: Seq[String],
                        sensitive: String, t: Double): DataFrame = {
    require(quasi.nonEmpty, "tClosenessClasses needs >= 1 quasi column")
    require(t > 0d && t < 1d, s"t must be in (0, 1), got $t")
    val emitted = Seq("n", "n_sensitive", "tvd", "risky", "_c", "_g",
      "_n", "_tot", "_gp", "_t", "_sg")
    require(!quasi.exists(emitted.contains) && !emitted.contains(sensitive),
      s"tClosenessClasses emits/uses ${emitted.mkString(", ")}; " +
        "rename inputs")
    val qc = quasi.map(col)
    val wClass = Window.partitionBy(qc: _*)
    val dec = "decimal(38,0)"
    val cellCounts = df.filter(col(sensitive).isNotNull)
      .groupBy(qc :+ col(sensitive): _*)
      .agg(count(lit(1)).as("_c"))
      .localCheckpoint(true) // feeds the class window AND the totals join
    // per-sensitive-value totals by a grouped agg re-joined, NOT a window
    // partitioned by the sensitive column: its cardinality is a handful of
    // categories, so that window would one-task-sort the whole quasi-class
    // grid per category at scale. The quasi-CLASS window stays: class
    // cardinality grows with the data (that is what k-anonymity measures).
    val sensTotals = cellCounts.groupBy(col(sensitive).as("_sg"))
      .agg(sum(col("_c")).as("_g"))
    val cells = cellCounts
      .withColumn("_n", sum(col("_c")).over(wClass))
      .join(sensTotals, col(sensitive) === col("_sg")).drop("_sg")
    val total = df.filter(col(sensitive).isNotNull)
      .agg(count(lit(1)).as("_tot")) // 1 row
    cells.crossJoin(broadcast(total))
      .groupBy(qc :+ col("_n") :+ col("_tot"): _*)
      .agg(count(lit(1)).as("n_sensitive"),
        sum(abs(col("_c").cast(dec) * col("_tot").cast(dec)
          - col("_g").cast(dec) * col("_n").cast(dec))).as("_t"),
        sum(col("_g")).as("_gp"))
      .select({
        val num = (col("_t") + col("_n").cast(dec)
            * (col("_tot").cast(dec) - col("_gp").cast(dec))).cast("double")
        val den = lit(2d) * col("_n").cast("double") *
          col("_tot").cast("double")
        val tvd = floor(num / den * 1000000d) / 1000000d
        qc ++ Seq(col("_n").as("n"), col("n_sensitive"), tvd.as("tvd"))
      }: _*)
      .withColumn("risky", col("tvd") > t)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling" — public arXiv 2302.03169):
    * score each RAW document by how much more likely its tokens are under
    * the TARGET corpus's unigram LM than under the raw corpus's own —
    * the principled "make the crawl look like the quality slice" curation
    * weight (positive = target-like, negative = crawl-typical), feeding
    * threshold keeps or hashSampleWeighted resampling downstream.
    *
    * llr(d) = Σ_{tok ∈ d} ln p̂_T(tok) − ln p̂_R(tok), add-one smoothed
    * over the UNION vocabulary (the klDrift convention — a token unseen
    * in the target shifts the ratio instead of −∞). Determinism: the
    * per-token weight enters ONCE as the exact BIGINT
    * qlog((c_T+1)·(N_R+K)) − qlog((c_R+1)·(N_T+K)) (products under 2⁵³
    * for exactness — ~9·10⁷ tokens per side worst case; ANSI fails the
    * long multiply loudly past 2⁶³), per-doc sums are exact int64
    * (|w| ≤ ~4·10⁷ per occurrence — 2⁶³ needs a 10¹¹-token document),
    * and the emitted per-token mean is ONE double division.
    *
    * Shape: one token-count shuffle builds both LMs in the same row
    * (sideCounts' layout), totals as a 1-row broadcast; raw docs' token
    * occurrences then re-join the O(vocab) weight table on the token key
    * — a plain shuffle join that never broadcasts the vocabulary (at
    * 100 TB the vocab table is itself large). Raw docs with ZERO tokens
    * don't appear (no occurrences to weight — screen empties upstream
    * with qualityScore). Emits one row per raw doc
    * (id, n_tokens, llr_scaled, llr_per_token). */
  /** TOKEN-movement rollup of a two-snapshot corpus diff — the approval
    * page behind CoreOps.snapshotDiff's per-id status stream: per status
    * (added / removed / changed / unchanged — content identity = md5 of
    * the text, NULL text under its own sentinel), the doc count, old/new
    * token totals and the signed token delta, so a data lead reads "the
    * v2 swap adds X tokens, churns Y, drops Z" in four rows.
    * snapshotDiff deliberately DROPS unchanged rows (corpus-sized at
    * crawl scale); this rollup keeps them as one aggregate line, which
    * is exactly where they belong. ONE full-outer hash join on the id —
    * both sides pre-collapsed to (id, hash, token count) map-side —
    * into one O(4) agg; no windows, no driver traffic. Emits
    * (status, n_docs, n_tokens_old, n_tokens_new, token_delta). */
  def snapshotTokenDelta(oldSnap: DataFrame, newSnap: DataFrame,
                         id: String, text: String): DataFrame = {
    val internal = Seq("status", "n_docs", "n_tokens_old", "n_tokens_new",
      "token_delta", "_ho", "_hn", "_to", "_tn", "_tko", "_tkn")
    require(!internal.contains(id) && !internal.contains(text),
      s"snapshotTokenDelta emits/uses ${internal.mkString(", ")}; " +
        "rename inputs")
    def side(df: DataFrame, h: String, t: String) =
      df.select(col(id),
        coalesce(md5(col(text)), lit("__NULL_TEXT__")).as(h),
        coalesce(size(TextOps.tokens(col(text))).cast("long"), lit(0L))
          .as(t))
    side(oldSnap, "_ho", "_to")
      .join(side(newSnap, "_hn", "_tn"), Seq(id), "full_outer")
      .select(
        when(col("_ho").isNull, "added")
          .when(col("_hn").isNull, "removed")
          .when(col("_ho") =!= col("_hn"), "changed")
          .otherwise("unchanged").as("status"),
        coalesce(col("_to"), lit(0L)).as("_tko"),
        coalesce(col("_tn"), lit(0L)).as("_tkn"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tko")).as("n_tokens_old"),
        sum(col("_tkn")).as("n_tokens_new"),
        sum(col("_tkn") - col("_tko")).as("token_delta"))
  }

  def dsirWeights(docs: DataFrame, id: String, text: String,
                  isTarget: Column): DataFrame = {
    val emitted = Seq("n_tokens", "llr_scaled", "llr_per_token",
      "_t", "_tok", "_ct", "_cr", "_k", "_tt", "_tr", "_w")
    require(!emitted.contains(id) && !emitted.contains(text),
      s"dsirWeights emits/uses ${emitted.mkString(", ")}; rename inputs")
    val toks = docs
      .select(col(id), isTarget.as("_t"),
        explode(TextOps.tokens(col(text))).as("_tok"))
    val counts = toks.groupBy(col("_tok"))
      .agg(sum(when(col("_t"), 1L).otherwise(0L)).as("_ct"),
        sum(when(col("_t"), 0L).otherwise(1L)).as("_cr"))
    val totals = counts.groupBy()
      .agg(count(lit(1)).as("_k"), sum(col("_ct")).as("_tt"),
        sum(col("_cr")).as("_tr")) // 1 row
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("_tok"),
        (InfoTheory.qlog((col("_ct") + 1L) * (col("_tr") + col("_k")))
          - InfoTheory.qlog((col("_cr") + 1L) * (col("_tt") + col("_k"))))
          .as("_w"))
    toks.filter(!col("_t")).select(col(id), col("_tok"))
      .join(weights, "_tok")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"), sum(col("_w")).as("llr_scaled"))
      .select(col(id), col("n_tokens"), col("llr_scaled"),
        (col("llr_scaled").cast("double")
          / (col("n_tokens").cast("double") * 1000000d))
          .as("llr_per_token"))
  }
}
