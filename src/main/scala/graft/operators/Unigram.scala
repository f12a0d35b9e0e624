package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer induction — the
  * tokenizer-lifecycle piece BPE does not cover (Kudo 2018,
  * arXiv 1804.10959): learn a PIECE INVENTORY with likelihoods by
  * hard-EM over Viterbi segmentations, then segment any corpus under the
  * frozen inventory. Extension tier beyond the reference surface.
  *
  * Convention, identical on both engines (the bpeLoop discipline):
  * words are lowercase non-letter-split runs of length ≤ maxWordLen,
  * weighted by corpus frequency. The seed inventory is every single
  * character plus the seedK highest-count substrings of length
  * 2..maxPieceLen (count = freq-weighted occurrences with multiplicity;
  * ties broken (count DESC, piece ASC)). Each EM round:
  *   E: Viterbi-segment every distinct word under quantized piece
  *      log-likelihoods — score(piece) = qlog(cnt+1) − Z with
  *      Z = qlog(Σ(cnt+1)) (Laplace-smoothed, µnat integers; an unknown
  *      SINGLE CHARACTER scores qlog(1) = 0 − Z so every word stays
  *      segmentable, canonical unknown-piece behavior). The DP is exact
  *      BIGINT max-plus over ≤ maxWordLen positions; ties prefer the
  *      SHORTER last piece — total order, engine-identical.
  *   M: piece count ← freq-weighted Viterbi usage.
  *   Prune: multi-char pieces with zero usage drop (they contributed to
  *      no best path — the natural hard-EM prune); single characters are
  *      NEVER pruned (coverage guarantee).
  * Hard EM with an MLE-shaped M-step makes the total Viterbi likelihood
  * non-decreasing round over round up to the +1 smoothing and µnat
  * quantization (UnigramSpec checks the monotone property with zero
  * slack on real corpora).
  *
  * Distributed shape: ONE corpus-sized word-count pass up front; all
  * loop state is vocab-sized — the candidate table is |words|·O(W·L)
  * rows, each round is one broadcast join of the (tiny) inventory onto
  * the word frame, one fixed-width column-algebra DP (no UDFs, no
  * per-row loops, whole-stage codegen throughout), one piece-usage agg,
  * and ONE O(1) driver fold for Z (the blessed per-round collect).
  * At 100 TB the distinct-word frame is ~10⁷ rows — rounds iterate
  * that, never the corpus. */
object Unigram {

  /** (word, freq): the only corpus-sized pass. Words longer than
    * maxWordLen are excluded by convention (mirrored in the oracle). */
  def words(docs: DataFrame, text: String, maxWordLen: Int): DataFrame =
    docs.select(explode(filter(split(lower(col(text)), "[^a-z]+"),
        w => w =!= "" && length(w) <= maxWordLen)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Freq-weighted substring counts with multiplicity, lengths
    * 1..maxPieceLen — the seed statistics. */
  private[graft] def candidates(wordsDf: DataFrame, maxWordLen: Int,
                                maxPieceLen: Int): DataFrame =
    wordsDf
      .select(col("word"), col("freq"),
        explode(sequence(lit(0), lit(maxWordLen - 1))).as("s"))
      .filter(col("s") < length(col("word")))
      .select(col("word"), col("freq"), col("s"),
        explode(sequence(lit(1), lit(maxPieceLen))).as("l"))
      .filter(col("s") + col("l") <= length(col("word")))
      .select(expr("substr(word, cast(s + 1 as int), cast(l as int))")
        .as("piece"), col("freq"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))

  /** Seed inventory: every single char + top-seedK multi-char
    * substrings by (cnt DESC, piece ASC). */
  private[graft] def seedVocab(cands: DataFrame, seedK: Int): DataFrame =
    cands.filter(length(col("piece")) === 1)
      .unionByName(cands.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(seedK))

  /** Viterbi segmentation of every word under a frozen inventory:
    * (word, freq, pieces array, n_pieces, best_qll). Since round 15 this
    * is ONE native kernel projection (expressions.UnigramViterbi): the
    * inventory folds into the kernel as a reference object, so the pass
    * is map-only — no explode, no broadcast join, no pivot SHUFFLE — and
    * the generated code is identical across EM rounds (codegen cache
    * hits). Scores are computed by the SAME qlog expression the Column
    * form used, and UnigramKernelSpec pins the kernel bit-identical to
    * viterbiColumnAlgebra on real corpus words. */
  def viterbi(wordsDf: DataFrame, vocab: DataFrame, zQ: Long,
              maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    val W = maxWordLen; val L = maxPieceLen
    require(W >= 1 && W <= 16, s"maxWordLen must be in [1,16], got $W")
    require(L >= 1 && L <= W, s"maxPieceLen must be in [1,$W], got $L")
    // the inventory rides into the kernel via ONE driver fold —
    // driver-bounded: O(vocab) rows (every single char + the bounded
    // multi-char inventory: ≤ alphabet + seedK for the trainer, the
    // frozen inventory for appliers) — the zOf convention
    val scores = vocab.select(col("piece"),
        (InfoTheory.qlog(col("cnt") + 1L) - lit(zQ)).as("_s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    wordsDf.withColumn("_v", graft.expressions.UnigramKernel.viterbi(
        col("word"), scores, -zQ, W, L))
      .select(col("word"), col("freq"), col("_v.pieces").as("pieces"),
        col("_v.best_qll").as("best_qll"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** The pure Column-algebra DP the kernel replaced — RETAINED as the
    * kernel's differential oracle (UnigramKernelSpec runs both over real
    * corpus words and asserts identical rows; the DuckDB oracle mirrors
    * this form one CTE per DP level).
    *
    * CONSUMER WARNING (probed): materialize (localCheckpoint/persist)
    * before FILTERING on `pieces` or `best_qll`. A predicate referencing
    * the DP outputs gets pushed down through the ~9·W-level projection
    * chain, re-substituting the whole piece-construction expression at
    * every level — the Spark-optimizer twin of the DuckDB lateral-alias
    * blowup (OOMs the driver on a 31-row input). Aggregations and
    * equi-joins over the outputs are safe. */
  def viterbiColumnAlgebra(wordsDf: DataFrame, vocab: DataFrame, zQ: Long,
                           maxWordLen: Int, maxPieceLen: Int): DataFrame = {
    val W = maxWordLen; val L = maxPieceLen
    require(W >= 1 && W <= 16, s"maxWordLen must be in [1,16], got $W")
    require(L >= 1 && L <= W, s"maxPieceLen must be in [1,$W], got $L")
    val subs = wordsDf
      .select(col("word"), col("freq"),
        explode(sequence(lit(0), lit(W - 1))).as("s"))
      .filter(col("s") < length(col("word")))
      .select(col("word"), col("freq"), col("s"),
        explode(sequence(lit(1), lit(L))).as("l"))
      .filter(col("s") + col("l") <= length(col("word")))
      .withColumn("piece",
        expr("substr(word, cast(s + 1 as int), cast(l as int))"))
    // unknown single chars score qlog(1) = 0 − Z (coverage guarantee);
    // unknown multi-char pieces stay NULL (unusable). Z enters ONLY
    // through the broadcast sides (the piece scores, pre-shifted, and a
    // one-row frame for the unknown-char branch) — the big DP plan is
    // then LITERAL-FREE across EM rounds, so round 2's whole-stage
    // codegen is a cache hit instead of a multi-second recompile of the
    // ~W·L-column generated class (only zQ changes between rounds).
    val zdf = broadcast(wordsDf.sparkSession.range(1)
      .select(lit(zQ).as("_zq")))
    val scored = subs
      .join(broadcast(vocab.select(col("piece"),
        (InfoTheory.qlog(col("cnt") + 1L) - lit(zQ)).as("_qsc"))),
        Seq("piece"), "left")
      .crossJoin(zdf)
      .withColumn("score",
        coalesce(col("_qsc"), when(col("l") === 1, -col("_zq"))))
    val scCols = for { s <- 0 until W; l <- 1 to L if s + l <= W }
      yield max(when(col("s") === s && col("l") === l, col("score")))
        .as(s"sc_${s}_$l")
    var dp = scored.groupBy(col("word"), col("freq"))
      .agg(scCols.head, scCols.tail: _*)
      .withColumn("best_0", lit(0L))
    for (i <- 1 to W) {
      val cands = for (l <- 1 to math.min(L, i))
        yield col(s"best_${i - l}") + col(s"sc_${i - l}_$l")
      dp = dp.withColumn(s"best_$i",
        if (cands.size == 1) cands.head else greatest(cands: _*))
      dp = dp.withColumn(s"bl_$i", coalesce(
        (1 to math.min(L, i)).map(l =>
          when(col(s"best_${i - l}") + col(s"sc_${i - l}_$l")
            === col(s"best_$i"), lit(l.toLong))): _*))
    }
    def blAt(c: Column): Column =
      (1 to W).foldLeft(lit(null).cast("long")) { (acc, i) =>
        when(c === i, col(s"bl_$i")).otherwise(acc)
      }
    dp = dp
      .withColumn("c_0", length(col("word")).cast("long"))
      .withColumn("l_0", blAt(col("c_0")))
    for (k <- 1 until W) {
      dp = dp
        .withColumn(s"c_$k", when(col(s"l_${k - 1}").isNotNull,
          col(s"c_${k - 1}") - col(s"l_${k - 1}")))
        .withColumn(s"l_$k", when(col(s"c_$k") > 0, blAt(col(s"c_$k"))))
    }
    val pieceSlots = (W - 1 to 0 by -1).map(k =>
      when(col(s"l_$k").isNotNull,
        expr(s"substr(word, cast(c_$k - l_$k + 1 as int), " +
          s"cast(l_$k as int))")))
    val bestAtLen = (1 to W).foldLeft(lit(null).cast("long")) { (acc, i) =>
      when(length(col("word")) === i, col(s"best_$i")).otherwise(acc)
    }
    dp.select(col("word"), col("freq"),
        filter(array(pieceSlots: _*), p => p.isNotNull).as("pieces"),
        bestAtLen.as("best_qll"))
      .withColumn("n_pieces", size(col("pieces")).cast("long"))
  }

  /** The quantized normalizer for an inventory: qlog(Σ(cnt+1)) —
    * ONE 1-row driver fold per round. Σ(cnt+1) ≤ corpus chars + vocab
    * (≲10¹⁴ at 100 TB), exactly double-representable. */
  def zOf(vocab: DataFrame): Long = {
    // sum() over an empty inventory is NULL — read it null-safely so the
    // designed "empty inventory" message fires instead of an opaque NPE
    val row = vocab.agg(sum(col("cnt") + 1L)).head()
    require(!row.isNullAt(0) && row.getLong(0) >= 1L,
      "unigram: empty inventory")
    math.floor(math.log(row.getLong(0).toDouble) * 1e6).toLong
  }

  /** `rounds` hard-EM rounds from the seed inventory. Returns the final
    * inventory (piece, cnt) and the per-round total Viterbi likelihood
    * (round, total_qll) — the monotone audit trail. */
  def learn(docs: DataFrame, text: String, rounds: Int, seedK: Int,
            maxWordLen: Int, maxPieceLen: Int)
      : (DataFrame, Seq[(Long, Long)]) = {
    require(rounds >= 1 && rounds <= 16, s"need 1 <= rounds <= 16, got $rounds")
    require(seedK >= 1 && seedK <= 4096, s"need 1 <= seedK <= 4096, got $seedK")
    val w = words(docs, text, maxWordLen).localCheckpoint(true)
    val cands = candidates(w, maxWordLen, maxPieceLen)
    val chars = cands.filter(length(col("piece")) === 1)
      .localCheckpoint(true)
    var vocab = seedVocab(cands, seedK).localCheckpoint(true)
    val lls = Seq.newBuilder[(Long, Long)]
    for (r <- 1 to rounds) {
      val zq = zOf(vocab)
      val seg = viterbi(w, vocab, zq, maxWordLen, maxPieceLen)
        .localCheckpoint(true)
      val usage = seg
        .select(col("freq"), explode(col("pieces")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
        .localCheckpoint(true) // the round's ll AND the M-step read it
      // the round's total Viterbi likelihood WITHOUT re-scanning seg:
      // best_qll(word) = Σ score(chosen pieces), so Σ freq·best_qll =
      // Σ_piece usage(piece)·score(piece) — a vocab-sized join-agg. The
      // left join + coalesce mirrors viterbi's unknown-single-char branch
      // (score 0 − Z) exactly, so the value is bit-identical to the old
      // per-word fold (UnigramSpec pins the monotone trail on it).
      val ll = usage
        .join(vocab.select(col("piece"), col("cnt").as("_pc")),
          Seq("piece"), "left")
        .agg(sum(col("cnt") *
          (coalesce(InfoTheory.qlog(col("_pc") + 1L), lit(0L)) - lit(zq))))
        .head().getLong(0)
      lls += ((r.toLong, ll))
      vocab = chars.select(col("piece"))
        .join(usage, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        .unionByName(usage.filter(length(col("piece")) >= 2))
        .localCheckpoint(true)
    }
    (vocab, lls.result())
  }

  /** Segmentation view under a frozen inventory — bpeLearn's segmentation
    * shape (word, freq, n_pieces, pieces as a space-joined string). */
  def segmented(wordsDf: DataFrame, vocab: DataFrame,
                maxWordLen: Int, maxPieceLen: Int): DataFrame =
    viterbi(wordsDf, vocab, zOf(vocab), maxWordLen, maxPieceLen)
      .select(col("word"), col("freq"), col("n_pieces"),
        array_join(col("pieces"), " ").as("pieces"))
}
