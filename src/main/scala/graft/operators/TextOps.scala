package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, built
  * entirely from codegen'd Column expressions (no UDFs) so they stay inside
  * whole-stage codegen and scale linearly with input partitions — a pure map
  * stage with zero shuffles until the caller aggregates.
  *
  * Beyond the reference surface (the reference has no text ops); designed for
  * the `documents` table (doc_id, text, lang, source, n_chars).
  */
object TextOps {

  /** Truncate to 6 decimals via floor — unlike round(), floor of an identical
    * IEEE double is identical on every engine (no HALF_UP vs HALF_EVEN skew
    * at representable boundaries), so ratio outputs hash-match the oracle. */
  private def trunc6(c: Column): Column = floor(c * 1000000d) / 1000000d

  /** Whitespace tokenizer: trims, splits on runs of whitespace, drops empty
    * tokens (so "" → [] and leading/trailing space is harmless). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  /** BPE-ish subword-count proxy: word pieces = runs of letters, digits, or
    * single punctuation marks — a deterministic, library-free stand-in for a
    * real BPE vocab that still tracks token-count scaling. */
  def wordPieces(text: Column): Column =
    filter(split(text, "(?<=[^A-Za-z0-9])|(?=[^A-Za-z0-9])"), t => trim(t) =!= "")

  /** Per-document token statistics: token count, char count, avg token length. */
  def tokenStats(docs: DataFrame, id: String, text: String): DataFrame = {
    val toks = tokens(col(text))
    docs.select(
      col(id),
      size(toks).cast("long").as("n_tokens"),
      length(col(text)).cast("long").as("n_chars_measured"),
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("n_token_chars"))
  }

  /** Per-document lexical diversity: type-token ratio and hapax rate —
    * the vocabulary-richness signals that separate natural prose (high
    * TTR, many once-used words) from template/boilerplate/spam text
    * (low TTR) where length and punctuation heuristics pass. Shape: one
    * explode to (doc, token), a partial-agg'd (doc, token) count (the
    * only row-count-sized exchange — map-side combine collapses repeats
    * before the shuffle), one per-doc agg. All counts exact int64;
    * ratios are trunc6'd single divisions. Documents with zero tokens
    * are ABSENT from the output (no vocabulary to measure — same
    * convention both engines reach naturally). Emits (id, n_tokens,
    * n_types, n_hapax, ttr, hapax_rate). */
  def lexicalDiversity(docs: DataFrame, id: String, text: String): DataFrame = {
    val emitted = Seq("n_tokens", "n_types", "n_hapax", "ttr", "hapax_rate",
      "_tok", "_c")
    require(!emitted.contains(id),
      s"lexicalDiversity emits/uses ${emitted.mkString(", ")}; rename inputs")
    docs.select(col(id), explode(tokens(col(text))).as("_tok"))
      .groupBy(col(id), col("_tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col(id))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col(id), col("n_tokens"), col("n_types"), col("n_hapax"),
        trunc6(col("n_types").cast("double") / col("n_tokens").cast("double"))
          .as("ttr"),
        trunc6(col("n_hapax").cast("double") / col("n_tokens").cast("double"))
          .as("hapax_rate"))
  }

  /** Pairwise exact Jaccard overlap between GROUPS' n-gram shingle sets
    * (which sources mirror each other's content?) — corpus governance at
    * the source level, where the doc-level dedup pipelines are overkill.
    * Shingles (the winnowing unit, n normalized tokens) discriminate
    * where single tokens saturate — a shared vocabulary makes every
    * token ubiquitous while n-grams still separate sources. Shingles
    * appearing in MORE than `maxDfGroups` groups are excluded BEFORE the
    * pair expansion: that is simultaneously the scale bound (per-shingle
    * pair fan-out is |groups(shingle)|², and a boilerplate phrase present
    * everywhere would go quadratic in the group count) and the signal
    * choice (ubiquitous content carries no overlap information) — the
    * basket-lift cap argument, as a filter because exclusion is the
    * SEMANTICS here, not an error. Group sizes count the SAME filtered
    * universe, so jaccard = inter/(nₐ+n_b−inter) is consistent over it.
    * Shapes: one distinct to (group, shingle), a shingle-keyed df count
    * + filter join, the shingle-bucketed pair self-join (never all-pairs
    * of rows), two size joins — O(groups²) output. Exact integers + one
    * trunc6'd division. Emits (source_a, source_b, n_a, n_b, n_common,
    * jaccard), a < b; pairs sharing NO kept shingle are absent (their
    * jaccard is 0 by definition — emitting groups² zero rows would
    * defeat the point). */
  def sourceOverlap(docs: DataFrame, group: String, text: String,
                    n: Int, maxDfGroups: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    require(maxDfGroups >= 1, s"maxDfGroups must be >= 1, got $maxDfGroups")
    val st = docs.filter(col(group).isNotNull)
      .select(col(group), explode(graft.expressions.HashKernelExpressions
        .shingleStrings(normalized(col(text)), n)).as("_tok"))
      .distinct()
      .localCheckpoint(true) // shared: df filter, sizes, both pair sides
    val kept = st.join(
        st.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxDfGroups).drop("_df"),
        Seq("_tok"))
      .localCheckpoint(true)
    val sizes = kept.groupBy(col(group)).agg(count(lit(1)).as("_n"))
    val pairs = kept.select(col(group).as("source_a"), col("_tok"))
      .join(kept.select(col(group).as("source_b"), col("_tok")), Seq("_tok"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col(group).as("source_a"), col("_n").as("n_a")),
        Seq("source_a"))
      .join(sizes.select(col(group).as("source_b"), col("_n").as("n_b")),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_common"),
        trunc6(col("n_common").cast("double")
          / (col("n_a") + col("n_b") - col("n_common")).cast("double"))
          .as("jaccard"))
  }

  /** Quality scoring: length, punctuation ratio, stopword ratio, mean word
    * length — the standard cheap heuristics used to pre-filter web corpora.
    * All ratios are exact integer-count fractions so any engine agrees. */
  def qualityScore(docs: DataFrame, id: String, text: String,
                   stopwords: Seq[String]): DataFrame = {
    val toks = tokens(col(text))
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin(stopwords.map(lit): _*))).cast("long")
    val nPunct = (length(col(text)) -
      length(regexp_replace(col(text), "[\\p{Punct}]", ""))).cast("long")
    docs.select(
      col(id),
      nTok.as("n_tokens"),
      nStop.as("n_stopwords"),
      nPunct.as("n_punct"),
      when(nTok > 0, trunc6(nStop.cast("double") / nTok.cast("double")))
        .otherwise(lit(0.0)).as("stopword_ratio"),
      when(length(col(text)) > 0,
        trunc6(nPunct.cast("double") / length(col(text)).cast("double")))
        .otherwise(lit(0.0)).as("punct_ratio"))
  }

  /** Flesch-style readability profile — the grade-level screen a curation
    * pipeline runs next to qualityScore (templated SEO spam and OCR
    * garbage both land at implausible readability extremes). Library-free
    * deterministic proxies: words = whitespace tokens, sentences = runs
    * of [.!?], syllables = vowel-group runs [aeiouy]+ in the lowercased
    * text (the standard heuristic; no hyphenation dictionary exists at
    * corpus scale). The three counts are exact integers; `flesch` =
    * 206.835 − 1.015·(W/S) − 84.6·(Syl/W) is ONE fixed left-associated
    * double chain on those integers, trunc6'd — engine-identical.
    * Zero words or zero sentences → flesch NULL (the formula is
    * undefined, not infinitely readable). Pure per-row projection — no
    * shuffle at all. Emits (id, n_words, n_sentences, n_syllables,
    * flesch). */
  def readability(docs: DataFrame, id: String, text: String): DataFrame = {
    val nWords = size(tokens(col(text))).cast("long")
    val nSent = size(regexp_extract_all(col(text), lit("[.!?]+"), lit(0)))
      .cast("long")
    val nSyl = size(regexp_extract_all(lower(col(text)), lit("[aeiouy]+"),
      lit(0))).cast("long")
    docs.select(
      col(id),
      nWords.as("n_words"),
      nSent.as("n_sentences"),
      nSyl.as("n_syllables"),
      when(nWords > 0L && nSent > 0L,
        trunc6(lit(206.835d)
          - lit(1.015d) * (nWords.cast("double") / nSent.cast("double"))
          - lit(84.6d) * (nSyl.cast("double") / nWords.cast("double"))))
        .as("flesch"))
  }

  /** Mixed-language document screen — languageId applied PER CHUNK and
    * re-aggregated per doc: a code-switched page, a boilerplate frame
    * around foreign content, or a bad crawl merge all show up as chunks
    * that disagree about the language even when the whole-doc vote looks
    * confident. Chunks come from the house overlapping tokenizer
    * (`chunk`); each chunk votes with languageId's exact argmax (ties
    * toward the lexicographically largest code — the array_max rule);
    * the majority chunk language breaks count ties the same direction
    * as modeByGroup (smaller... here: most chunks, then SMALLEST code —
    * the min-struct rule, deterministic). Two partitioned grouped aggs
    * over the chunk-vote frame — O(docs·langs) rows, no window. Docs
    * with zero tokens have no chunks and don't appear. Emits
    * (id, n_chunks, n_langs, majority_lang, majority_share, mixed). */
  def langMixture(docs: DataFrame, id: String, text: String,
                  profiles: Map[String, Seq[String]],
                  window: Int, stride: Int): DataFrame = {
    val emitted = Seq("n_chunks", "n_langs", "majority_lang",
      "majority_share", "mixed", "_c", "_mj", "lang_pred", "chunk_text")
    require(!emitted.contains(id) && !emitted.contains(text),
      s"langMixture emits/uses ${emitted.mkString(", ")}; rename inputs")
    val votes = languageId(
      chunk(docs, id, text, window, stride)
        .select(col(id), col("chunk_text")),
      id, "chunk_text", profiles)
    votes.groupBy(col(id), col("lang_pred"))
      .agg(count(lit(1)).as("_c"))
      .groupBy(col(id))
      .agg(sum(col("_c")).as("n_chunks"), count(lit(1)).as("n_langs"),
        min(struct((-col("_c")).as("_n"), col("lang_pred").as("_l")))
          .as("_mj"))
      .select(col(id), col("n_chunks"), col("n_langs"),
        col("_mj._l").as("majority_lang"),
        (floor((-col("_mj._n")).cast("double")
           / col("n_chunks").cast("double") * 1000000d) / 1000000d)
          .as("majority_share"),
        (col("n_langs") > 1L).as("mixed"))
  }

  /** Tokenizer fertility per group — the cost gauge a multilingual
    * pipeline reads before fixing a token budget: pieces-per-word
    * ("fertility", the standard subword metric) and characters-per-piece
    * by language/source. A language with fertility 2.4 burns 2.4× the
    * context of a 1.0 language for the same words — this is the number
    * that decides per-language token budgets and flags scripts the
    * tokenizer handles badly. Uses the house wordPieces proxy (runs of
    * letters/digits/punct — deterministic, library-free). All three
    * counts are exact integer sums in ONE grouped pass; each ratio is
    * one floored division. Groups with zero words emit NULL fertility
    * (not a fake 0). NULL groups drop. Emits one row per group
    * (group, n_docs, total_words, total_pieces, total_chars, fertility,
    * chars_per_piece). */
  def tokenizerFertility(docs: DataFrame, group: String,
                         text: String): DataFrame = {
    val emitted = Seq("n_docs", "total_words", "total_pieces",
      "total_chars", "fertility", "chars_per_piece")
    require(!emitted.contains(group) && !emitted.contains(text),
      s"tokenizerFertility emits ${emitted.mkString(", ")}; rename inputs")
    def t6(x: Column) = floor(x * 1000000d) / 1000000d
    docs.filter(col(group).isNotNull)
      .groupBy(col(group))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col(text))).cast("long")).as("total_words"),
        sum(size(wordPieces(col(text))).cast("long")).as("total_pieces"),
        sum(length(col(text)).cast("long")).as("total_chars"))
      .select(col(group), col("n_docs"), col("total_words"),
        col("total_pieces"), col("total_chars"),
        when(col("total_words") > 0L,
          t6(col("total_pieces").cast("double")
            / col("total_words").cast("double"))).as("fertility"),
        when(col("total_pieces") > 0L,
          t6(col("total_chars").cast("double")
            / col("total_pieces").cast("double"))).as("chars_per_piece"))
  }

  /** BM25 relevance of every document against a fixed term list — the
    * retrieval-quality scoring a curation pipeline uses to mine topical
    * subsets out of a web corpus. Distributed shape: one corpus-stats
    * aggregate (N, Σdl, per-term document frequency — a single partial-agg'd
    * pass collapsing to ONE row), broadcast back via crossJoin, then a pure
    * map stage computes per-doc scores — no per-term shuffle, no inverted
    * index build, linear in corpus size. Crossover: per-doc cost is
    * O(|terms| × doc length) because each term rescans the token array, and
    * the plan widens by two expressions per term — right up to a few dozen
    * probe terms; past ~a hundred use `bm25Explode`, which pays two keyed
    * shuffles to stay O(doc length) per doc.
    *
    * Uses the rational Robertson idf `(N - df + 0.5) / (df + 0.5)` rather
    * than its logarithm: every arithmetic step is then an IEEE-754 basic op
    * (+,*,/), which any engine rounds identically, so scores are
    * bit-reproducible cross-engine (ln is NOT specified to the ulp and
    * would make results engine-dependent). Ranking is unchanged for a
    * single term and near-identical in practice; swapping `ln(...)` in is a
    * one-line change where reproducibility matters less than the classic
    * scale. Term-absent docs contribute tf=0 → 0, so scores are defined for
    * every doc. */
  def bm25(docs: DataFrame, id: String, text: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.distinct == terms,
      "bm25 needs a non-empty, duplicate-free term list")
    val internal = Seq("_toks", "_dl", "_n", "_sumdl", "dl", "bm25") ++
      terms.indices.map(i => s"_df_$i")
    val clash = (docs.columns :+ id).distinct.intersect(internal)
    require(clash.isEmpty,
      s"bm25 uses internal columns and emits dl/bm25; rename ${clash.mkString(", ")}")
    val toks = tokens(lower(col(text)))
    val base = docs.select(col(id), toks.as("_toks"),
      size(toks).cast("long").as("_dl"))
    val dfAggs = terms.zipWithIndex.map { case (t, i) =>
      sum(when(array_contains(col("_toks"), t), 1L).otherwise(0L)).as(s"_df_$i")
    }
    val stats = base.agg(count(lit(1)).as("_n"),
      (sum(col("_dl")).as("_sumdl") +: dfAggs): _*)
    val avgdl = col("_sumdl").cast("double") / col("_n").cast("double")
    val dlNorm = lit(k1) * (lit(1 - b) + lit(b) * (col("_dl").cast("double") / avgdl))
    val score = terms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("_toks"), x => x === t)).cast("double")
      val idf = ((col("_n") - col(s"_df_$i")).cast("double") + lit(0.5)) /
        (col(s"_df_$i").cast("double") + lit(0.5))
      idf * ((tf * lit(k1 + 1)) / (tf + dlNorm))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col(id), col("_dl").as("dl"), trunc6(score).as("bm25"))
  }

  /** Explode-and-join BM25 for LARGE term lists — the crossover form of
    * `bm25`. The fixed-column form scans each document's token array once
    * per term (O(|terms| × doc length) per doc) and widens the plan by two
    * expressions per term: right for a handful of probe terms, quadratic
    * waste by a few hundred. This form explodes tokens ONCE, keeps term
    * matches via a broadcast join against the term table (which can itself
    * be an ngramVocab output), and aggregates tf over (doc, term) rows —
    * O(doc length) per doc regardless of term count. Corpus-scale
    * shuffles: the (doc, term) tf aggregate and the per-doc score
    * aggregate; document frequencies collapse to O(|terms|) rows and
    * broadcast back, and the 1-row corpus stats broadcast like `bm25`'s.
    * The post-agg tf frame is checkpointed so its two consumers (scores,
    * document frequencies) cost ONE corpus pass, not two.
    *
    * Determinism: per-doc contributions are summed by a left-fold over the
    * term-ASC-sorted contribution list (bounded by |terms| elements, so
    * per-group state is bounded), NOT a float `sum()` whose addition order
    * would follow partitioning. Same rational Robertson idf; called with
    * an ascending term list, `bm25` produces bit-identical scores
    * (TextAndDedupSpec pins this). Docs matching no term score 0. */
  def bm25Explode(docs: DataFrame, id: String, text: String,
                  terms: DataFrame, k1: Double = 1.2,
                  b: Double = 0.75): DataFrame = {
    require(terms.columns.contains("term"),
      "bm25Explode expects the term list as a 'term' column")
    val internal = Seq("term", "_toks", "_dl", "_n", "_sumdl", "_tf", "_df",
      "_c", "_score", "dl", "bm25")
    val clash = (docs.columns :+ id).distinct.intersect(internal)
    require(clash.isEmpty,
      s"bm25Explode uses internal columns and emits dl/bm25; " +
        s"rename ${clash.mkString(", ")}")
    val toks = tokens(lower(col(text)))
    val base = docs.select(col(id), toks.as("_toks"),
      size(toks).cast("long").as("_dl"))
    val stats = base.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sumdl"))
    // tf feeds BOTH the per-doc scores and the document frequencies; without
    // the checkpoint Catalyst plans the corpus explode+join+agg subtree
    // twice (no exchange reuse across the two consumers — verified on the
    // formatted plan), i.e. two full corpus passes at scale. The checkpoint
    // holds only the post-agg (doc, term, tf) rows — bounded by matching
    // doc-term pairs, far smaller than the corpus it saves re-scanning.
    val tf = base.select(col(id), col("_dl"), explode(col("_toks")).as("term"))
      .join(broadcast(terms.select(col("term")).filter(col("term").isNotNull)
        .distinct()), Seq("term"))
      .groupBy(col(id), col("term"))
      // _dl rides through the aggregate (constant per doc) so the scoring
      // side never has to re-scan the corpus for it
      .agg(count(lit(1)).cast("double").as("_tf"), max(col("_dl")).as("_dl"))
      .localCheckpoint(true)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val avgdl = col("_sumdl").cast("double") / col("_n").cast("double")
    val dlNorm = lit(k1) * (lit(1 - b) + lit(b) * (col("_dl").cast("double") / avgdl))
    val idf = ((col("_n") - col("_df")).cast("double") + lit(0.5)) /
      (col("_df").cast("double") + lit(0.5))
    val contrib = idf * ((col("_tf") * lit(k1 + 1)) / (col("_tf") + dlNorm))
    val perDoc = tf.join(broadcast(dfT), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(id), struct(col("term"), contrib.as("_c")).as("_c"))
      .groupBy(col(id))
      .agg(aggregate(array_sort(collect_list(col("_c"))), lit(0.0d),
        (acc, x) => acc + x.getField("_c")).as("_score"))
    base.select(col(id), col("_dl"))
      .join(perDoc, Seq(id), "left")
      .select(col(id), col("_dl").as("dl"),
        trunc6(coalesce(col("_score"), lit(0.0d))).as("bm25"))
  }

  /** Per-document top-K terms by TF-IDF — the keyword/feature extraction
    * every corpus indexing or topic-labeling pass needs. Uses the same
    * rational Robertson idf as bm25 ((N − df + 0.5)/(df + 0.5) — only
    * `+ * /` with one fixed association order, so scores are bit-identical
    * cross-engine; ln is not ulp-specified) and score = tf · idf.
    *
    * Distributed shape: tokens explode ONCE; the (doc, term, tf) aggregate
    * is checkpointed because it feeds BOTH the document-frequency table
    * and the scores (the bm25Explode one-corpus-pass argument verbatim);
    * document frequencies join back on the term key — a SHUFFLE join, not
    * a broadcast, because unlike bm25Explode's bounded probe-term list
    * this table is the full corpus vocabulary, which at web scale does not
    * fit a broadcast. Only the 1-row doc count broadcasts. The per-doc
    * top-K is a rank window
    * partitioned by doc — WindowGroupLimit pushes the K cutoff below the
    * sort, so each task keeps ≤ K rows per doc. Ties break by term ASC
    * (identical tf and df ⇒ bit-identical score on both engines, so the
    * tiebreak is engine-exact). Emits (id, term, rank, score) with score
    * floor-truncated to 6 decimals; rank and term come from the EXACT
    * score. Docs with no tokens emit nothing. */
  def tfidfTop(docs: DataFrame, id: String, text: String,
               topK: Int): DataFrame = {
    require(topK > 0, s"topK must be positive, got $topK")
    val internal = Seq("term", "rank", "score", "_tf", "_df", "_n", "_score")
    val clash = Seq(id).intersect(internal)
    require(clash.isEmpty,
      s"tfidfTop emits term/rank/score; rename the id column '$id'")
    val toks = tokens(lower(col(text)))
    val base = docs.select(col(id), toks.as("_toks"))
    val n = base.agg(count(lit(1)).as("_n"))
    val tf = base.select(col(id), explode(col("_toks")).as("term"))
      .groupBy(col(id), col("term"))
      .agg(count(lit(1)).as("_tf"))
      .localCheckpoint(true)
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("_df"))
    val idf = ((col("_n") - col("_df")).cast("double") + lit(0.5)) /
      (col("_df").cast("double") + lit(0.5))
    val score = col("_tf").cast("double") * idf
    val w = Window.partitionBy(col(id))
      .orderBy(col("_score").desc, col("term"))
    tf.join(dfT, Seq("term"))
      .crossJoin(broadcast(n))
      .select(col(id), col("term"), score.as("_score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col(id), col("term"), col("rank"),
        trunc6(col("_score")).as("score"))
  }

  /** Language ID via stopword-hit counting: the classic cheap n-gram/function-
    * word heuristic. `profiles` maps language code → its function words; the
    * language with the most token hits wins (ties broken by language code).
    * One wide map stage + no shuffle; profiles are compiled into the plan as
    * literals (broadcast-free). */
  def languageId(docs: DataFrame, id: String, text: String,
                 profiles: Map[String, Seq[String]]): DataFrame = {
    val toks = tokens(lower(col(text)))
    val scored = profiles.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(size(filter(toks, t => t.isin(words.map(lit): _*))).as("hits"),
        lit(langCode).as("lang"))
    }
    // array_max on (hits, lang) structs compares fields in order: most hits
    // wins, ties broken toward the lexicographically largest language code.
    val best = array_max(array(scored: _*))
    docs.select(col(id), best.getField("lang").as("lang_pred"),
      best.getField("hits").cast("long").as("lang_hits"))
  }

  /** Code-switching detector — languageId's two-candidate form: per doc
    * the TOP TWO stopword-evidence languages and a `mixed` flag when the
    * runner-up holds at least mixNum/mixDen of the winner's evidence
    * (integer cross-multiplication — no ratio, no float). Mixed-language
    * documents poison monolingual training shards and LID-based routing;
    * this surfaces them where a single argmax silently picks a side.
    * Ordering is total: (hits DESC, lang ASC), so ties are deterministic
    * (note: toward the SMALLEST code — languageId's array_max ties the
    * other way; both documented). Pure map stage, zero shuffles. NULL
    * texts are ABSENT (no evidence either way); zero-evidence docs emit
    * with n_best 0 and mixed false. Emits (id, best_lang, n_best,
    * second_lang, n_second, mixed). */
  def languageMix(docs: DataFrame, id: String, text: String,
                  profiles: Map[String, Seq[String]],
                  mixNum: Int = 3, mixDen: Int = 10): DataFrame = {
    require(profiles.size >= 2, "languageMix needs >= 2 language profiles")
    require(mixNum >= 1 && mixDen >= mixNum,
      s"need 1 <= mixNum <= mixDen, got $mixNum/$mixDen")
    val toks = tokens(lower(col(text)))
    val scored = profiles.toSeq.sortBy(_._1).map { case (lc, ws) =>
      struct(
        (-size(filter(toks, t => t.isin(ws.map(lit): _*)))).cast("long")
          .as("neg"),
        lit(lc).as("lang"))
    }
    // ascending struct sort on (−hits, lang): most evidence first, ties
    // toward the smallest language code
    val sorted = sort_array(array(scored: _*))
    val best = element_at(sorted, 1); val second = element_at(sorted, 2)
    docs.filter(col(text).isNotNull)
      .select(col(id),
        best.getField("lang").as("best_lang"),
        (-best.getField("neg")).as("n_best"),
        second.getField("lang").as("second_lang"),
        (-second.getField("neg")).as("n_second"),
        (best.getField("neg") < 0 &&
          (-second.getField("neg")) * mixDen >=
            (-best.getField("neg")) * mixNum).as("mixed"))
  }

  /** Corpus n-gram vocabulary: the `topN` most frequent word n-grams of the
    * normalized text across all documents, with deterministic (count desc,
    * gram asc) ordering — the vocabulary-building step of a training
    * pipeline. Explode is map-side; the count is a partial-aggregated single
    * shuffle on the gram; top-N compiles to TakeOrderedAndProject (each
    * partition keeps only its local top N). Documents shorter than n words
    * contribute nothing (a vocab wants real n-grams, not padded stubs). */
  def ngramVocab(docs: DataFrame, text: String, n: Int, topN: Int): DataFrame =
    docs.select(explode(graft.expressions.HashKernelExpressions
        .shingleStrings(normalized(col(text)), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("gram"))
      .limit(topN)

  /** Corpus bigram language-model table: for the `topN` most frequent word
    * bigrams, the conditional probability p(w2 | w1) = bigram count over the
    * first word's total continuation count — the n-gram LM / next-token
    * statistic a data pipeline mines for perplexity filtering and synthetic
    * detection. One partial-agg'd shuffle counts the grams (same explode
    * shape as ngramVocab); the prefix totals are a window sum over the
    * POST-aggregation gram rows partitioned by w1 — O(vocab²) rows at most,
    * never the corpus. p is a single exact-integer division so any engine
    * agrees bit-for-bit (floor-truncated to 6 decimals like every ratio). */
  def bigramLm(docs: DataFrame, text: String, topN: Int): DataFrame = {
    val counts = docs.select(explode(graft.expressions.HashKernelExpressions
        .shingleStrings(normalized(col(text)), 2)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("n_gram"))
    counts
      .withColumn("w1", substring_index(col("gram"), " ", 1))
      .withColumn("n_prefix",
        sum(col("n_gram")).over(Window.partitionBy(col("w1"))))
      .select(col("gram"), col("n_gram"), col("n_prefix"),
        trunc6(col("n_gram").cast("double") / col("n_prefix").cast("double"))
          .as("p"))
      .orderBy(col("n_gram").desc, col("gram"))
      .limit(topN)
  }

  /** Score documents under a bigram language model — the fluency/
    * typicality signal a curation pass ranks docs by: per doc, how many
    * bigrams it has, how many the LM knows, and the average model
    * probability over the known ones. `lm` is bigramLm output (gram, p) —
    * a TOP-N table, so it is bounded and the join against it stays
    * broadcastable at any corpus size (AQE picks that up; the doc side
    * only ever explodes map-side).
    *
    * Determinism without ln: probabilities are already 6-dp floor
    * truncations, so casting to DECIMAL(18,6) recovers the exact rational
    * and the per-doc sum is order-independent under any partitioning; the
    * single closing division runs over exact operands and trunc6s. Docs
    * with fewer than two tokens emit (0, 0, NULL) — absent evidence is not
    * a zero score. */
  def lmScore(docs: DataFrame, id: String, text: String,
              lm: DataFrame): DataFrame = {
    require(lm.columns.contains("gram") && lm.columns.contains("p"),
      "lmScore expects bigramLm output with 'gram' and 'p' columns")
    val emitted = Seq("gram", "n_bigrams", "n_known", "avg_p", "_sp")
    val clash = Seq(id).intersect(emitted)
    require(clash.isEmpty,
      s"lmScore emits ${emitted.mkString(", ")}; rename the id column")
    val grams = docs.select(col(id),
      explode_outer(graft.expressions.HashKernelExpressions
        .shingleStrings(normalized(col(text)), 2)).as("gram"))
    grams.join(lm.select(col("gram"), col("p")), Seq("gram"), "left")
      .groupBy(col(id))
      .agg(count(col("gram")).as("n_bigrams"),
        count(col("p")).as("n_known"),
        sum(col("p").cast("decimal(18,6)")).as("_sp"))
      .withColumn("avg_p", when(col("n_known") > 0,
        floor(col("_sp").cast("double") / col("n_known").cast("double")
          * 1000000d) / 1000000d))
      .select(col(id), col("n_bigrams"), col("n_known"), col("avg_p"))
  }

  /** Corpus character histogram — the input a byte/char-level tokenizer
    * trainer (or a charset/mojibake audit) starts from: the `topN` most
    * frequent characters with counts, deterministically ordered
    * (count desc, char asc). Explode is map-side, the count is one
    * partial-agg'd shuffle on the character, top-N compiles to
    * TakeOrderedAndProject. Characters are Unicode CODE POINTS, not
    * UTF-16 code units: java.util.regex matches `.` against a full code
    * point, so a supplementary-plane character (emoji) stays one row
    * instead of shattering into surrogate halves — the same unit DuckDB's
    * codepoint split counts, so the oracle parity holds for ANY corpus,
    * and the count-desc/char-asc tiebreak compares well-formed UTF-8 on
    * both engines. regexp_extract_all runs inside codegen. */
  def charHistogram(docs: DataFrame, text: String, topN: Int): DataFrame =
    docs.select(explode(regexp_extract_all(col(text), lit("(?s)."), lit(0)))
        .as("ch"))
      .groupBy(col("ch")).agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ch"))
      .limit(topN)

  /** Out-of-vocabulary rate: per document, the share of its word n-grams
    * NOT in the corpus's top-`topN` n-gram vocabulary — high OOV flags
    * novel-or-garbage text that per-token quality scores miss (the novelty
    * signal next to repetitionProfile's boilerplate signal). Shape: the
    * vocabulary is one ngramVocab pass (already bounded to topN rows) and
    * broadcast; per-doc grams explode map-side and collapse in ONE
    * partial-agg'd shuffle on the uniform doc id, counting vocab hits via
    * the broadcast join — the corpus never joins itself. The rate is one
    * exact integer division (floor-truncated); documents shorter than n
    * words have no grams and emit NULL (novelty is undefined, not zero). */
  def oovRate(docs: DataFrame, id: String, text: String, n: Int,
              topN: Int): DataFrame = {
    require(!Seq("gram", "_hit", "n_grams", "n_in_vocab", "oov_rate")
        .contains(id),
      "oovRate uses 'gram'/'_hit' internally and emits n_grams/n_in_vocab/" +
        "oov_rate; rename the id column")
    val vocab = ngramVocab(docs, text, n, topN)
      .select(col("gram"), lit(1L).as("_hit"))
    val grams = docs.select(col(id), explode_outer(
      graft.expressions.HashKernelExpressions
        .shingleStrings(normalized(col(text)), n)).as("gram"))
    grams.join(broadcast(vocab), Seq("gram"), "left")
      .groupBy(col(id))
      .agg(count(col("gram")).as("n_grams"),
        count(col("_hit")).as("n_in_vocab"))
      .withColumn("oov_rate",
        when(col("n_grams") > 0,
          trunc6((col("n_grams") - col("n_in_vocab")).cast("double") /
            col("n_grams").cast("double"))))
  }

  /** Interpreted Column form of the gram extraction — HashKernelSpec's
    * parity oracle for ShingleStrings (it mirrors the DuckDB oracle SQL). */
  private[graft] def ngramsColumnForm(text: Column, n: Int): Column = {
    val toks = tokens(normalized(text))
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Repetition profile — the Gopher-style repetitiousness heuristics used
    * to drop boilerplate/spam from web corpora, at the token level (the
    * corpus is single-line): per document, the share of n-gram slots covered
    * by the single most frequent n-gram, and the distinct-token ratio. A
    * high top-gram share or a low distinct ratio flags machine-generated
    * repetition that per-token quality scores miss.
    *
    * Shape: one staged tokenize projection (native ShingleStrings kernel for
    * the grams), explode, then two partial-aggregated shuffles both keyed on
    * the uniform doc id — no per-doc window, no skew. The top gram's
    * deterministic tiebreak (most frequent, then lexicographically smallest)
    * is a `min(struct(-count, gram))` aggregate, so each partition keeps one
    * candidate per doc before the shuffle. Docs with fewer than n tokens
    * emit a NULL top gram and zero counts (explode_outer keeps them). */
  def repetitionProfile(docs: DataFrame, id: String, text: String,
                        n: Int = 2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val st = docs.select(col(id),
      graft.expressions.HashKernelExpressions
        .repetitionStats(normalized(col(text)), n).as("_r"))
    val nTokens = col("_r.n_tokens")
    val slots = greatest(nTokens - (n - 1), lit(0L))
    st.select(col(id), nTokens.as("n_tokens"), slots.as("n_grams"),
      col("_r.top_gram").as("top_gram"),
      col("_r.top_count").as("top_gram_count"),
      when(slots > 0,
        trunc6(col("_r.top_count").cast("double") / slots.cast("double")))
        .otherwise(lit(0.0)).as("top_gram_share"),
      when(nTokens > 0,
        trunc6(col("_r.n_distinct").cast("double") / nTokens.cast("double")))
        .otherwise(lit(0.0)).as("distinct_ratio"))
  }

  /** Interpreted explode + two-shuffle groupBy form of repetitionProfile —
    * the RepetitionStats kernel's parity oracle (it mirrors the DuckDB
    * oracle SQL's window shape). Kept private: the kernel form is a
    * zero-shuffle map stage, this one ships every gram through an exchange. */
  private[graft] def repetitionProfileColumnForm(docs: DataFrame, id: String,
                                                text: String, n: Int): DataFrame = {
    val tk = docs.select(col(id),
      graft.expressions.HashKernelExpressions
        .shingleStrings(normalized(col(text)), n).as("_grams"),
      tokens(normalized(col(text))).as("_toks"))
    val exploded = tk.select(col(id),
      size(col("_toks")).cast("long").as("n_tokens"),
      size(array_distinct(col("_toks"))).cast("long").as("n_distinct"),
      explode_outer(col("_grams")).as("gram"))
    val slots = greatest(col("n_tokens") - (n - 1), lit(0L))
    exploded
      .groupBy(col(id), col("n_tokens"), col("n_distinct"), col("gram"))
      .agg(count(col("gram")).as("c")) // count(gram): the NULL outer row → 0
      .groupBy(col(id), col("n_tokens"), col("n_distinct"))
      .agg(min(struct((-col("c")).as("nc"), col("gram").as("g"))).as("_top"))
      .select(col(id), col("n_tokens"), slots.as("n_grams"),
        col("_top.g").as("top_gram"),
        (-col("_top.nc")).as("top_gram_count"),
        when(slots > 0,
          trunc6((-col("_top.nc")).cast("double") / slots.cast("double")))
          .otherwise(lit(0.0)).as("top_gram_share"),
        when(col("n_tokens") > 0,
          trunc6(col("n_distinct").cast("double") / col("n_tokens").cast("double")))
          .otherwise(lit(0.0)).as("distinct_ratio"))
  }

  /** Overlapping token-window chunking: split each document's token stream
    * into windows of `window` tokens starting every `stride` tokens — the
    * context-length packing step between curation and tokenization. Emits
    * (id, chunk_id, n_chunk_tokens, chunk_text); the final chunk may be
    * short (a packer wants the tail, not silent truncation). Empty docs
    * emit nothing.
    *
    * Pure map stage: the token array is staged once per row, chunk starts
    * come from `sequence` (codegen'd), and each output row slices the staged
    * array — no shuffle, output volume decided row-locally, so the operator
    * scales with input partitions like any projection. */
  def chunk(docs: DataFrame, id: String, text: String,
            window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1,
      s"window and stride must be >= 1, got window=$window stride=$stride")
    docs.select(col(id), tokens(col(text)).as("_toks"))
      .select(col(id), col("_toks"),
        explode(when(size(col("_toks")) > 0,
          sequence(lit(0), size(col("_toks")) - 1, lit(stride)))
          .otherwise(array().cast("array<int>"))).as("_start"))
      .select(col(id),
        (col("_start") / stride).cast("long").as("chunk_id"),
        least(lit(window), size(col("_toks")) - col("_start"))
          .cast("long").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("_toks"), col("_start") + 1, lit(window)))
          .as("chunk_text"))
  }

  /** Email-looking spans: local@domain.tld with the common local/domain
    * character classes — deliberately simple so the Java and RE2 regex
    * engines agree (no backtracking-only constructs). */
  val EmailPattern: String = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-looking spans: an optional +, then 8+ digits/dashes bounded by
    * digits — matches +1-555-0042 without swallowing short numerics. */
  val PhonePattern: String = "\\+?\\d[\\d-]{6,}\\d"

  /** PII-style redaction: count and mask email- and phone-shaped spans —
    * the scrubbing pass a training corpus gets before packing. Counts are
    * taken on the raw text, then emails are masked before phones (the
    * placeholders contain no digits, so the passes cannot interact). One
    * codegen'd map stage, no shuffle. */
  def redactPii(docs: DataFrame, id: String, text: String): DataFrame =
    docs.select(col(id),
      regexp_count(col(text), lit(EmailPattern)).cast("long").as("n_emails"),
      regexp_count(col(text), lit(PhonePattern)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col(text), EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>").as("redacted"))

  /** Document fingerprint: md5 of the normalized text (lowercased, whitespace
    * collapsed, punctuation stripped) — the exact-dedup key used by
    * Dedup.exactDedup. md5 is bit-identical across engines. */
  def fingerprint(text: Column): Column =
    md5(normalized(text))

  /** Normalization used for near/exact dedup. */
  def normalized(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[\\p{Punct}]", " "), "\\s+", " "))

  /** Vocabulary growth curve — the Heaps-law saturation gauge a corpus
    * curator reads before deciding whether more crawl adds new language or
    * just more of the same: at each doc-id checkpoint, how many docs and
    * token occurrences have been ingested and how large the DISTINCT
    * vocabulary has grown. A flattening vocab column means saturation; a
    * still-linear one means the corpus is far from covering its domain.
    *
    * Exact and engine-reproducible: vocabulary at checkpoint c counts
    * tokens whose FIRST document id ≤ c (one min-aggregate per token —
    * the only vocabulary-sized stage, partial-agg'd), and all cumulative
    * sums run over the ≤|checkpoints| bucket rows via a broadcast
    * triangular self-join — never an unpartitioned window, never a
    * driver-side scan. Plan shape: one explode + (token) hash agg + one
    * per-doc map agg, then constant-size arithmetic; at 100 TB the token
    * agg is the same single shuffle every dedup pass pays. Checkpoints
    * must be strictly increasing; docs beyond the last checkpoint don't
    * contribute (extend the list to cover them). NULL ids drop; NULL
    * texts count as zero-token docs. Emits one row per checkpoint:
    * (checkpoint, n_docs, n_tokens, vocab). */
  /** Per-document NOVELTY — vocabGrowth's row-level face: for each doc,
    * how many of its distinct token types appear here FIRST (no earlier
    * doc id used them), and what fraction of its type set that is. The
    * curation read: near-zero novelty marks template/boilerplate clones
    * worth down-sampling even when no dedup pair fired; high novelty
    * marks domain-expanding material. "First" is by the id order —
    * deterministic, engine-exact (min over int ids), no arrival-time
    * ambiguity. Plan shape: distinct (doc, type) pairs, ONE token-keyed
    * min agg (the dedup-pass-sized stage), join back on the token key,
    * one per-doc agg — all hash, no windows. Zero-type docs are absent
    * (no type set to score — the lexicalDiversity convention). NULL ids
    * drop. Emits (doc_id-named id, n_types, n_new_types, novelty). */
  def docNovelty(docs: DataFrame, id: String, text: String): DataFrame = {
    val internal = Seq("_t", "_fd", "n_types", "n_new_types", "novelty")
    require(!internal.contains(id) && !docs.columns.exists(internal.contains),
      s"docNovelty emits/uses ${internal.mkString(", ")}; rename inputs")
    val dt = docs.filter(col(id).isNotNull)
      .select(col(id), explode(tokens(col(text))).as("_t"))
      .distinct()
    val ft = dt.groupBy(col("_t")).agg(min(col(id)).as("_fd"))
    dt.join(ft, Seq("_t"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_types"),
        count(when(col("_fd") === col(id), lit(1))).as("n_new_types"))
      .select(col(id), col("n_types"), col("n_new_types"),
        (floor(col("n_new_types").cast("double")
          / col("n_types").cast("double") * 1000000d) / 1000000d)
          .as("novelty"))
  }

  def vocabGrowth(docs: DataFrame, id: String, text: String,
                  checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "vocabGrowth needs >= 1 checkpoint")
    require(checkpoints == checkpoints.sorted &&
        checkpoints.distinct == checkpoints,
      s"checkpoints must be strictly increasing, got $checkpoints")
    val spark = docs.sparkSession
    import spark.implicits._
    val cps = checkpoints.zipWithIndex
    // smallest checkpoint >= v (NULL beyond the last → row excluded)
    def bucketOf(c: Column): Column =
      cps.reverse.foldLeft(lit(null).cast("int")) {
        case (acc, (cp, i)) => when(c <= cp, lit(i)).otherwise(acc)
      }
    val tok = docs
      .select(col(id).as("_d"), explode(tokens(col(text))).as("_t"))
    val vocabByBucket = tok.groupBy(col("_t")).agg(min(col("_d")).as("_fd"))
      .select(bucketOf(col("_fd")).as("_b"))
      .filter(col("_b").isNotNull)
      .groupBy(col("_b")).agg(count(lit(1)).as("_v"))
    val nt = when(col(text).isNull, lit(0L))
      .otherwise(size(tokens(col(text))).cast("long"))
    val docStats = docs
      .select(bucketOf(col(id)).as("_b"), nt.as("_nt"))
      .filter(col("_b").isNotNull)
      .groupBy(col("_b")).agg(count(lit(1)).as("_nd"), sum(col("_nt")).as("_ntok"))
    val base = cps.map { case (cp, i) => (i, cp) }.toDF("_b", "checkpoint")
      .join(vocabByBucket, Seq("_b"), "left")
      .join(docStats, Seq("_b"), "left")
      .select(col("_b"), col("checkpoint"),
        coalesce(col("_v"), lit(0L)).as("_v"),
        coalesce(col("_nd"), lit(0L)).as("_nd"),
        coalesce(col("_ntok"), lit(0L)).as("_ntok"))
    // cumulative over ≤|checkpoints| rows: broadcast triangular self-join
    // (the tiny-frame house pattern — no unpartitioned window anywhere)
    base.select(col("_b").as("_ab"), col("checkpoint"))
      .join(broadcast(base.select(col("_b").as("_bb"), col("_v"),
        col("_nd"), col("_ntok"))), col("_bb") <= col("_ab"))
      .groupBy(col("_ab"), col("checkpoint"))
      .agg(sum(col("_nd")).as("n_docs"), sum(col("_ntok")).as("n_tokens"),
        sum(col("_v")).as("vocab"))
      .select(col("checkpoint"), col("n_docs"), col("n_tokens"), col("vocab"))
  }

  /** BPE word extraction: lowercase, split on non-letter runs, keep
    * nonempty words of <= maxWordLen chars, count corpus frequency. The
    * ONLY corpus-sized pass of the BPE loop — one explode + one
    * map-side-combined word agg; everything after runs on the
    * vocab-sized (word, freq) state. */
  private def bpeWords(docs: DataFrame, text: String,
                       maxWordLen: Int): DataFrame =
    docs.select(explode(filter(split(lower(col(text)), "[^a-z]+"),
        w => w =!= "" && length(w) <= maxWordLen)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** BPE merge induction (Sennrich et al. 2016, arXiv 1508.07909) — the
    * vocabulary-LEARNING half of the tokenizer lifecycle (wordPieces
    * APPLIES a vocab, fertility MEASURES one; this trains one from the
    * corpus): `iters` rounds of count-adjacent-pairs → deterministic
    * argmax merge → re-segment, the integer PageRank/LPA fixed-round
    * discipline.
    *
    * Convention, identical on both engines: words are lowercase non-letter-
    * split runs (<= maxWordLen chars) weighted by corpus frequency; pair
    * counts are freq-weighted ADJACENT counts (overlaps count, the original
    * get_stats convention); the winner is argmax by (count DESC, left ASC,
    * right ASC) — exact integer counts, binary string order; re-segmentation
    * is greedy LEFT-TO-RIGHT non-overlapping. L2R needs no sequential scan:
    * a match at i and i+1 can only overlap when left = right, so the merge
    * set is "every matched position" when left != right, and "matched
    * positions at odd rank within each run of `left` symbols" when
    * left = right — pure window math, engine-identical (the run-parity
    * rule; validated against the hand fold on the aaaa/abab corpus).
    *
    * Distributed shape: ONE corpus-sized word-count agg up front, then all
    * loop state is the vocab-sized ARRAY form (word, freq, syms) — at
    * 100 TB the vocab is ~10⁷ distinct words, not the corpus. Each round:
    * one adjacent-pair explode + agg, ONE 1-row driver fold (the argmax —
    * the O(1)-per-round blessed collect), one MAP-ONLY merge application
    * (the native BpeApplyMerges kernel — no window sort; the retained
    * window-rule form is BpeKernelSpec's bit-parity oracle), per-round
    * eager localCheckpoint truncating lineage (the LPA discipline). Fails
    * loud if the pair space exhausts before `iters` rounds (a silent early
    * stop would diverge from the unrolled oracle). Returns
    * (merge table rows, final segmentation). */
  private def bpeLoop(docs: DataFrame, text: String, iters: Int,
                      maxWordLen: Int): (Seq[(Int, String, String, Long)],
                                         DataFrame) = {
    require(iters >= 1 && iters <= 64, s"need 1 <= iters <= 64, got $iters")
    require(maxWordLen >= 1, s"maxWordLen must be >= 1, got $maxWordLen")
    var seg = initialSegArr(docs, text, maxWordLen)
    val winners = scala.collection.mutable.ListBuffer
      .empty[(Int, String, String, Long)]
    for (r <- 1 to iters) {
      // adjacent-pair counts straight off the symbol arrays: one explode +
      // one agg per round, no window sort (single-symbol words have no
      // pairs — the filter also keeps sequence() away from a -1 stop)
      val pairs = seg.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(
          transform(sequence(lit(0), size(col("syms")) - 2),
            i => struct(element_at(col("syms"), i + 1).as("sym"),
              element_at(col("syms"), i + 2).as("nxt")))).as("p"))
        .groupBy(col("p.sym").as("sym"), col("p.nxt").as("nxt"))
        .agg(sum(col("freq")).as("cnt"))
      // driver-bounded: O(1) — the single winning merge row per round
      val win = pairs.orderBy(col("cnt").desc, col("sym"), col("nxt"))
        .limit(1).collect()
      require(win.nonEmpty,
        s"bpeLoop: pair space exhausted at round $r of $iters (every word " +
          "is a single symbol) — lower iters; a silent early stop would " +
          "diverge from the unrolled oracle")
      val l = win(0).getString(0)
      val rr = win(0).getString(1)
      winners += ((r, l, rr, win(0).getLong(2)))
      // map-only merge application (the native kernel); the per-round
      // eager cut stays — the next round's pair count is an ACTION over
      // this state, and without the cut round r would re-apply rounds
      // 1..r-1 inside every subsequent job
      seg = seg.select(col("word"), col("freq"),
          graft.expressions.BpeKernel.applyMerges(col("syms"), Seq((l, rr)))
            .as("syms"))
        .localCheckpoint(true)
    }
    (winners.toList, seg)
  }

  /** Char-level initial segmentation in ARRAY form — (word, freq, syms),
    * the state the kernel loop and kernel inference run on. */
  private def initialSegArr(docs: DataFrame, text: String,
                            maxWordLen: Int): DataFrame =
    bpeWords(docs, text, maxWordLen)
      .select(col("word"), col("freq"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))
      .localCheckpoint(true)

  /** segmentsOf for the array state: a pure projection — no group, no
    * sort (the array IS already in word order). */
  private def segmentsOfArr(seg: DataFrame): DataFrame =
    seg.select(col("word"), col("freq"),
      size(col("syms")).cast("long").as("n_pieces"),
      array_join(col("syms"), " ").as("pieces"))

  /** The retained WINDOW-RULE replay — BpeKernelSpec's bit-parity oracle
    * (the form the run-parity scaladoc above derives and the one the
    * DuckDB oracle mirrors): replays `merges` in order via the original
    * five-window applyMerge over the long-format state. */
  private[graft] def bpeReplayWindowForm(docs: DataFrame, text: String,
                                         merges: Seq[(String, String)],
                                         maxWordLen: Int): DataFrame = {
    var seg = initialSeg(docs, text, maxWordLen)
    merges.foreach { case (l, rr) => seg = applyMerge(seg, l, rr) }
    segmentsOf(seg)
  }

  /** One greedy-L2R merge application over the (word, freq, pos, sym)
    * long format — the run-parity window rule (see bpeLearn's scaladoc).
    * RETAINED solely as BpeKernelSpec's bit-parity oracle for the native
    * BpeApplyMerges kernel that training and inference now run on
    * (the minhashFromHashesColumnForm convention). Eagerly
    * localCheckpoints the result (one cut per merge keeps the replay
    * linear in rounds). */
  private def applyMerge(seg: DataFrame, l: String, rr: String): DataFrame = {
    val wWin = Window.partitionBy(col("word")).orderBy(col("pos"))
    seg
      .withColumn("_m",
        col("sym") === l && lead(col("sym"), 1).over(wWin) === rr)
      .withColumn("_f", col("sym") === l)
      .withColumn("_rk", col("pos") - row_number().over(
        Window.partitionBy(col("word"), col("_f")).orderBy(col("pos"))))
      .withColumn("_rn2", row_number().over(
        Window.partitionBy(col("word"), col("_f"), col("_rk"))
          .orderBy(col("pos"))))
      .withColumn("_merge",
        col("_m") && (lit(l != rr) || col("_rn2") % 2 === 1))
      .withColumn("_mp", lag(col("_merge"), 1, false).over(wWin))
      .filter(!coalesce(col("_mp"), lit(false)))
      .select(col("word"), col("freq"),
        row_number().over(wWin).cast("long").as("pos"),
        when(col("_merge"), lit(l + rr)).otherwise(col("sym")).as("sym"))
      .localCheckpoint(true)
  }

  /** Character-level initial segmentation of a corpus's word vocabulary —
    * the (word, freq, pos, sym) long-format state both the trainer and
    * the encoder start from. */
  private def initialSeg(docs: DataFrame, text: String,
                         maxWordLen: Int): DataFrame =
    bpeWords(docs, text, maxWordLen)
      .select(col("word"), col("freq"),
        explode(sequence(lit(1), length(col("word")))).as("_p"))
      .select(col("word"), col("freq"), col("_p").cast("long").as("pos"),
        col("word").substr(col("_p"), lit(1)).as("sym"))
      .localCheckpoint(true)

  /** One BPE training run, both artifacts: the merge table
    * (merge_rank, lhs, rhs, merged, pair_count — the trained tokenizer a
    * pipeline ships; apply = replay the merges in rank order) and the
    * segmented vocabulary (word, freq, n_pieces, pieces). Callers that
    * need more than one view (merges + apply + fertility) should call
    * this ONCE and share the frames — each view otherwise re-runs the
    * whole `iters`-round loop. See bpeLoop for the convention and the
    * distributed shape. */
  def bpeLearn(docs: DataFrame, text: String, iters: Int,
               maxWordLen: Int = 32): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (ws, seg) = bpeLoop(docs, text, iters, maxWordLen)
    val merges = ws
      .map { case (rk, l, r, cnt) => (rk.toLong, l, r, l + r, cnt) }
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
    (merges, segmentsOfArr(seg))
  }

  /** The (word, freq, n_pieces, pieces) view of a long-format
    * segmentation state — array_sort over (pos, sym) structs, never a
    * bare collect_list (arrival order is nondeterministic). */
  private def segmentsOf(seg: DataFrame): DataFrame =
    seg.groupBy(col("word"), col("freq"))
      .agg(count(lit(1)).as("n_pieces"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("sym")))),
          x => x.getField("sym")), " ").as("pieces"))

  /** INFERENCE under a trained merge table: segment a (possibly unseen)
    * corpus's vocabulary by replaying the given merges in rank order —
    * the step that makes bpeLearn's artifact a real tokenizer (train on
    * the big corpus once, encode every new slice with the frozen vocab;
    * a held-out word simply stops merging where its pairs never appear,
    * canonical BPE OOV behavior, no failure). The merge table is the
    * trained artifact: O(rank) rows, collected as an O(iters) driver
    * fold (the blessed pattern) and applied by the native
    * BpeApplyMerges kernel — the WHOLE table in one map-only projection
    * over the vocab-sized word frame (no window pass, no checkpoint per
    * merge; the merges ride as a reference object so the generated code
    * is table-independent). Inference cost is linear in the table
    * length per word, independent of corpus size beyond the one
    * word-count pass. Emits bpeLearn's segmentation shape
    * (word, freq, n_pieces, pieces). */
  def bpeEncode(docs: DataFrame, text: String, merges: DataFrame,
                maxWordLen: Int = 32): DataFrame = {
    Seq("merge_rank", "lhs", "rhs").foreach(c =>
      require(merges.columns.contains(c),
        s"bpeEncode expects bpeLearn's merge table (merge_rank, lhs, " +
          s"rhs, ...); missing '$c'"))
    // driver-bounded: O(merges) plan literals, capped at 4096 below
    val ms = merges.select(col("merge_rank"), col("lhs"), col("rhs"))
      .orderBy(col("merge_rank")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    require(ms.length <= 4096,
      s"bpeEncode replays ${ms.length} merges as plan literals — a table " +
        "this large is not a plausible trained artifact (vocab learning " +
        "here is fixed-round); cap the table or raise this guard " +
        "deliberately")
    // the ENTIRE table applies in one map-only kernel projection over the
    // vocab-sized word frame — no window pass, no checkpoint per merge
    segmentsOfArr(initialSegArr(docs, text, maxWordLen)
      .select(col("word"), col("freq"),
        graft.expressions.BpeKernel.applyMerges(col("syms"), ms.toSeq)
          .as("syms")))
  }

  /** Tokenizer-lifecycle closure: fertility of a BPE vocab on a corpus,
    * per group (the q_fertility gauge with the external piece formula
    * swapped for the engine's own segmentation — "we trained a
    * tokenizer; how many pieces per word does it cost each language?"),
    * from a PRECOMPUTED segments frame (bpeLearn's second artifact, or
    * bpeEncode's / Unigram.segmented's output), so one training loop
    * feeds merges, apply and fertility without re-running. Every corpus
    * word must be in the segmentation (same extraction), so the join is
    * total — fail-loud if not (a dropped word would silently understate
    * fertility). Shape: ONE corpus pass for (group, word) counts + one
    * vocab-sized join. Emits (group, n_words, n_pieces, fertility). */
  def bpeFertilityFrom(docs: DataFrame, text: String, group: String,
                       segments: DataFrame,
                       maxWordLen: Int = 32): DataFrame = {
    val emitted = Seq("n_words", "n_pieces", "fertility", "word", "_n", "_g")
    require(!emitted.contains(group),
      s"bpeFertilityFrom emits/uses ${emitted.mkString(", ")}; rename inputs")
    val seg = segments.select(col("word"), col("n_pieces"))
    val words = docs.select(col(group).as("_g"),
        explode(filter(split(lower(col(text)), "[^a-z]+"),
          w => w =!= "" && length(w) <= maxWordLen)).as("word"))
      .groupBy(col("_g"), col("word")).agg(count(lit(1)).as("_n"))
    val guard = assert_true(col("n_pieces").isNotNull,
      concat(lit("bpeFertilityFrom: corpus word '"), col("word"),
        lit("' missing from the learned segmentation — the extraction " +
          "conventions diverged (an understated fertility would be " +
          "silent, so this operator refuses instead)")))
    words.join(seg, Seq("word"), "left")
      .filter(guard.isNull)
      .groupBy(col("_g").as(group))
      .agg(sum(col("_n")).as("n_words"),
        sum(col("_n") * col("n_pieces")).as("n_pieces"))
      .select(col(group), col("n_words"), col("n_pieces"),
        trunc6(col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"))
  }

  /** Good-Turing unseen-mass estimate per group (Good 1953; the Gale &
    * Sampson "simple GT" frequency-of-frequencies view) — how much
    * probability mass does each language's corpus put on tokens it has
    * NEVER seen? p₀ = N₁/N (singleton tokens over total tokens) is the
    * coverage number a tokenizer/vocab budget is planned against: a slice
    * with high unseen mass is under-sampled — its next crawl batch will
    * keep surprising the model. Also emits the GT-adjusted singleton count
    * r*₁ = 2·N₂/N₁ (what a count-of-1 is really worth), the same algebra
    * one step up. Shapes: one (group, token) count shuffle with map-side
    * combine, one group agg — both corpus-scale-clean; all counts exact
    * BIGINT, the two ratios quantized to parts-per-million by integer
    * `div` (never a float path). Groups whose corpus has no singletons
    * emit NULL gt1_ppm (the estimator is undefined, not zero). Emits
    * (group, n_tokens, n_types, n_singletons, n_doubletons, unseen_ppm,
    * gt1_ppm). */
  /** TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — the
    * corpus's central vocabulary by graph centrality instead of raw
    * frequency (q_tfidf_top's complement: TF-IDF scores a word by
    * rarity-weighted count, TextRank by how strongly it CO-OCCURS with
    * other central words). The classic recipe, composed from existing
    * engine parts rather than re-derived: lowercase whitespace tokens,
    * stopwords removed BEFORE windowing (so survivors become adjacent —
    * the standard filtering order), adjacency edges (window 2) with
    * self-loops dropped, symmetrized with multiplicities, then
    * `Graph.pagerankWeighted` runs its fixed-round exact-integer walk
    * UNCHANGED — one more caller of the oracle-checked centrality core,
    * not a second PageRank. Deterministic top-K by (pr_scaled DESC,
    * word ASC) — a TakeOrderedAndProject, never a global sort. Scale:
    * the pair fan-out is one token-linear pass; the graph pagerank
    * iterates on is VOCAB-sized, so iterations never see corpus scale.
    * Emits topK rows (word, pr_scaled, pr). */
  def textRank(docs: DataFrame, text: String, stop: Seq[String], iters: Int,
               topK: Int, scale: Long = 1000000000000L): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val kept = filter(tokens(lower(col(text))),
      t => !t.isInCollection(stop))
    val pairs = docs.filter(col(text).isNotNull)
      .select(kept.as("_toks"))
      .filter(size(col("_toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(_toks) - 2), " +
          "i -> struct(_toks[i] AS src, _toks[i + 1] AS dst))")).as("_p"))
      .select(col("_p.src").as("src"), col("_p.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
    val sp = pairs.groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val und = sp.unionByName(
      sp.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    Graph.pagerankWeighted(und, "src", "dst", "w", iters, scale)
      .orderBy(col("pr_scaled").desc, col("node").asc)
      .limit(topK)
      .select(col("node").as("word"), col("pr_scaled"), col("pr"))
  }

  def goodTuring(docs: DataFrame, group: String, text: String): DataFrame = {
    val emitted = Seq("n_tokens", "n_types", "n_singletons", "n_doubletons",
      "unseen_ppm", "gt1_ppm", "_tok", "_c")
    require(!emitted.contains(group),
      s"goodTuring emits/uses ${emitted.mkString(", ")}; rename inputs")
    docs.filter(col(group).isNotNull)
      .select(col(group), explode(tokens(col(text))).as("_tok"))
      .groupBy(col(group), col("_tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col(group))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(when(col("_c") === 2, 1L).otherwise(0L)).as("n_doubletons"))
      .select(col(group), col("n_tokens"), col("n_types"),
        col("n_singletons"), col("n_doubletons"),
        expr("(n_singletons * CAST(1000000 AS BIGINT)) div n_tokens")
          .as("unseen_ppm"),
        when(col("n_singletons") > 0,
          expr("(2 * n_doubletons * CAST(1000000 AS BIGINT)) " +
            "div n_singletons")).as("gt1_ppm"))
  }

  /** Per-doc perplexity under an add-1-smoothed BIGRAM token LM trained
    * on the corpus itself — the context-AWARE quality score beside the
    * unigram-LM docPpl (CCNet ships a 5-gram KenLM; the bigram is the
    * honest relational step up from unigram, and it already separates
    * in-distribution word ORDER from bag-of-words lookalikes).
    *
    * Model, identical on both engines: tokens are the house whitespace
    * tokenizer over lower(text); V = corpus vocabulary size (distinct
    * tokens over every non-NULL doc); c2(prev, w) = corpus bigram count;
    * c1(prev) = Σ_w c2(prev, w). Per bigram instance the quantized NLL
    * term is qlog(c1 + V) − qlog(c2 + 1) (add-1 smoothing keeps both
    * args ≥ 1) — exact BIGINT, summed exactly; mean_nll is the one
    * trunc'd division per row. Docs with < 2 tokens drop (no bigram
    * exists to score).
    *
    * Shape: one corpus pass to bigram instances; c2/c1 are keyed aggs on
    * the (prev, w) / prev keys; V rides a 1-row broadcast crossJoin; the
    * per-doc rollup reuses the (doc_id, prev, w) agg. No unpartitioned
    * window, no driver data. Emits (doc_id, n_bigrams, nll_scaled,
    * mean_nll). */
  def bigramPpl(docs: DataFrame, id: String, text: String): DataFrame = {
    val emitted = Seq("n_bigrams", "nll_scaled", "mean_nll", "_toks", "_i",
      "_prev", "_w", "_n", "_c2", "_c1", "_v", "_t")
    require(!emitted.contains(id) && !emitted.contains(text),
      s"bigramPpl emits/uses ${emitted.mkString(", ")}; rename inputs")
    val base = docs.filter(col(text).isNotNull)
      .select(col(id), tokens(lower(col(text))).as("_toks"))
      .localCheckpoint(true) // shared: bigrams AND the vocabulary count
    val bg = base.filter(size(col("_toks")) >= 2)
      .select(col(id),
        explode(sequence(lit(0), size(col("_toks")) - 2)).as("_i"),
        col("_toks"))
      .select(col(id), expr("_toks[_i]").as("_prev"),
        expr("_toks[_i + 1]").as("_w"))
    val perDoc = bg.groupBy(col(id), col("_prev"), col("_w"))
      .agg(count(lit(1)).as("_n"))
      .localCheckpoint(true) // shared: c2/c1 derive from it and join back
    val c2 = perDoc.groupBy(col("_prev"), col("_w"))
      .agg(sum(col("_n")).as("_c2"))
    val c1 = c2.groupBy(col("_prev")).agg(sum(col("_c2")).as("_c1"))
    val v = base.select(explode(col("_toks")).as("_t"))
      .agg(countDistinct(col("_t")).as("_v"))
    perDoc
      .join(c2, Seq("_prev", "_w")).join(c1, Seq("_prev"))
      .crossJoin(broadcast(v))
      .groupBy(col(id))
      .agg(sum(col("_n")).as("n_bigrams"),
        sum(col("_n") * (InfoTheory.qlog(col("_c1") + col("_v"))
          - InfoTheory.qlog(col("_c2") + 1L))).as("nll_scaled"))
      .select(col(id), col("n_bigrams"), col("nll_scaled"),
        (floor(col("nll_scaled").cast("double")
          / col("n_bigrams").cast("double")) / 1000000d).as("mean_nll"))
  }
}
