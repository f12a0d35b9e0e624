package graft

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class TextAndDedupSpec extends SparkSpec {
  import spark.implicits._

  test("lexicalDiversity: TTR and hapax from (doc, token) counts; empty " +
      "docs absent") {
    val docs = Seq((1L, "a b a c"), (2L, "x x x"), (3L, "  ")).toDF("doc_id", "text")
    val got = TextOps.lexicalDiversity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 3L, 2L, 0.75, 0.5)))
    assert(got(2L) == ((2L, 3L, 1L, 0L, 0.333333, 0.0)))
    assert(!got.contains(3L)) // no tokens, no vocabulary to measure
  }

  test("sourceOverlap: filtered-vocab Jaccard; ubiquitous tokens excluded " +
      "before the pair expansion") {
    val docs = Seq(("s1", "x y z"), ("s2", "x y w"), ("s3", "q"),
      ("s1", "z")).toDF("source", "text") // duplicate token in s1: distinct
    val got = TextOps.sourceOverlap(docs, "source", "text", 1, 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet
    // kept vocab: all (every df <= 2); only s1-s2 share tokens {x, y}
    assert(got == Set(("s1", "s2", 3L, 3L, 2L, 0.5)))
    // maxDf 1 drops x and y: no pair shares a kept token
    assert(TextOps.sourceOverlap(docs, "source", "text", 1, 1).count() == 0L)
    // bigram shingles separate where tokens saturate: s1 and s2 share the
    // "x y" shingle but not "y z"/"y w"
    assert(TextOps.sourceOverlap(docs, "source", "text", 2, 2)
      .as[(String, String, Long, Long, Long, Double)].collect().toSet ==
      Set(("s1", "s2", 2L, 2L, 1L, 0.333333)))
  }

  test("tokens trims, splits on whitespace runs, drops empties") {
    val got = Seq("  a  b\tc ", "", "   ").toDF("text")
      .select(size(TextOps.tokens(col("text")))).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0))
  }

  test("normalization folds case, punctuation and whitespace for dedup") {
    val df = Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "other doc")).toDF("doc_id", "text")
    val got = Dedup.exactDedup(df, "doc_id", "text").orderBy("canonical_id")
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(got == Seq((1L, 2L), (3L, 1L))) // doc 2 collapses into doc 1
  }

  test("qualityScore ratios are exact integer fractions") {
    val got = TextOps.qualityScore(Seq((1L, "the cat, the hat")).toDF("doc_id", "text"),
        "doc_id", "text", Seq("the"))
      .select("n_tokens", "n_stopwords", "n_punct", "stopword_ratio")
      .as[(Long, Long, Long, Double)].head()
    assert(got == ((4L, 2L, 1L, 0.5)))
  }

  test("bm25 matches the hand-computed rational-idf formula (absent term = 0)") {
    val docs = Seq((1L, "b B a a"), (2L, "b c"), (3L, "d")).toDF("doc_id", "text")
    val k1 = 1.2; val b = 0.75
    // N=3, Σdl=4+2+1=7, df(b)=2; doc 3 has tf=0 → score 0
    val n = 3L; val sumdl = 7L; val dfB = 2L
    val avgdl = sumdl.toDouble / n.toDouble
    def score(tf: Long, dl: Long): Double = {
      val idf = ((n - dfB).toDouble + 0.5) / (dfB.toDouble + 0.5)
      val dlNorm = k1 * ((1 - b) + b * (dl.toDouble / avgdl))
      val s = idf * ((tf.toDouble * (k1 + 1)) / (tf.toDouble + dlNorm))
      math.floor(s * 1000000d) / 1000000d
    }
    val got = TextOps.bm25(docs, "doc_id", "text", Seq("b"), k1, b)
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 4L, score(2, 4)), (2L, 2L, score(1, 2)),
      (3L, 1L, 0.0)))
    assertThrows[IllegalArgumentException](
      TextOps.bm25(docs, "doc_id", "text", Seq.empty))
    assertThrows[IllegalArgumentException](
      TextOps.bm25(docs.withColumn("_dl", lit(1)), "doc_id", "text", Seq("b")))
  }

  test("bm25Explode is bit-identical to bm25 on an ascending term list, " +
      "no-match docs score 0, repartitioning doesn't change scores") {
    val docs = Seq((1L, "b B a a c c c"), (2L, "b c e"), (3L, "d"),
      (4L, "a e e b c"), (5L, "")).toDF("doc_id", "text")
    val terms = Seq("a", "b", "c", "e", "zzz").sorted // ascending = fold order
    val fixed = TextOps.bm25(docs, "doc_id", "text", terms)
      .as[(Long, Long, Double)].collect().toSet
    val termsDf = terms.toDF("term")
    val exploded = TextOps.bm25Explode(docs, "doc_id", "text", termsDf)
      .as[(Long, Long, Double)].collect().toSet
    assert(exploded == fixed) // exact double equality — the fold is ordered
    val repart = TextOps.bm25Explode(docs.repartition(7), "doc_id", "text",
      termsDf.repartition(3)).as[(Long, Long, Double)].collect().toSet
    assert(repart == fixed)
    assert(exploded.find(_._1 == 3L).get._3 == 0.0) // 'd' matches no term
    assertThrows[IllegalArgumentException](
      TextOps.bm25Explode(docs, "doc_id", "text", termsDf.withColumnRenamed("term", "t")))
  }

  test("bigramLm emits exact conditional probabilities with prefix totals") {
    // grams: "a b"×2 (docs 1,2), "b a"×1, "a c"×1 → prefix a: 3, prefix b: 1
    val docs = Seq((1L, "a b a c"), (2L, "a b")).toDF("doc_id", "text")
    val got = TextOps.bigramLm(docs, "text", 10)
      .select("gram", "n_gram", "n_prefix", "p")
      .as[(String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("a b", 2L, 3L, math.floor(2.0 / 3.0 * 1000000d) / 1000000d),
      ("a c", 1L, 3L, math.floor(1.0 / 3.0 * 1000000d) / 1000000d),
      ("b a", 1L, 1L, 1.0)))
  }

  test("oovRate counts grams outside the top vocab; gramless docs are NULL") {
    // vocab (top 2 bigrams): "a b" (×2) and "a c"/"b a"? counts: "a b"=2,
    // "b a"=1, "a c"=1 → top-2 = {"a b", "a c"} (count desc, gram asc)
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "z")).toDF("doc_id", "text")
    val got = TextOps.oovRate(docs, "doc_id", "text", 2, 2)
      .select("doc_id", "n_grams", "n_in_vocab", "oov_rate")
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    val third = math.floor(1.0 / 3.0 * 1000000d) / 1000000d
    assert(got == Set(
      (1L, 3L, 2L, Some(third)), // "b a" is OOV
      (2L, 1L, 1L, Some(0.0)),
      (3L, 0L, 0L, None))) // single token: no grams → NULL, not 0
  }

  test("languageId picks the profile with the most stopword hits") {
    val profiles = Map("en" -> Seq("the", "and"), "de" -> Seq("der", "und"))
    val df = Seq((1L, "the cat and the hat"), (2L, "der Hund und der Berg")).toDF("doc_id", "text")
    val got = TextOps.languageId(df, "doc_id", "text", profiles)
      .orderBy("doc_id").select("lang_pred").as[String].collect().toSeq
    assert(got == Seq("en", "de"))
  }

  test("shingles yields n-k+1 word k-grams, whole text when shorter") {
    val df = Seq("a b c d e", "a b").toDF("text")
    val got = df.select(Dedup.shingles(col("text"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d", "c d e"))
    assert(got(1) == Seq("a b"))
  }

  test("minhash signatures: identical texts identical, length = numHashes, within field") {
    val df = Seq((1L, "spark flink join window agg"), (2L, "spark flink join window agg"),
      (3L, "completely different words here now")).toDF("doc_id", "text")
    val sigs = df.select(Dedup.minhashFromHashes(Dedup.shingleHashes(col("text"), 3), 16))
      .as[Seq[Long]].collect()
    assert(sigs.forall(_.size == 16))
    assert(sigs.forall(_.forall(v => v >= 0 && v < 2147483647L)))
    assert(sigs(0) == sigs(1) && sigs(0) != sigs(2))
  }

  test("minhashPairs surfaces identical docs with est_jaccard 1.0, skips unrelated") {
    val df = Seq((1L, "spark flink join window agg merge sort"),
      (2L, "spark flink join window agg merge sort"),
      (3L, "totally unrelated content about cats and dogs")).toDF("doc_id", "text")
    val got = Dedup.minhashPairs(df, "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
  }

  test("jaccard is |intersection| / |union| of distinct shingle sets") {
    val a = Seq(Seq("x", "y", "z"))
    val b = Seq(Seq("y", "z", "w"))
    val got = a.zip(b).toDF("a", "b")
      .select(Dedup.jaccard(col("a"), col("b"))).as[Double].head()
    assert(got == 0.5) // 2 shared / 4 total
  }

  test("wordPieces splits on letter/digit vs punctuation boundaries (BPE proxy)") {
    val got = Seq("don't stop-me now2day", "").toDF("text")
      .select(TextOps.wordPieces(col("text"))).as[Seq[String]].collect()
    assert(got(0) == Seq("don", "'", "t", "stop", "-", "me", "now2day"))
    assert(got(1) == Seq())
  }

  test("simhash: equal texts collide, disjoint-vocabulary texts differ") {
    val df = Seq("alpha beta gamma", "alpha beta gamma", "delta epsilon zeta").toDF("text")
    val got = df.select(Dedup.simhashFromHashes(Dedup.tokenHashes(col("text"))))
      .as[Long].collect()
    assert(got(0) == got(1) && got(0) != got(2))
  }

  test("ngramVocab counts word bigrams with deterministic top-N ordering") {
    val docs = Seq("the cat sat", "the cat ran", "Cat!", "x").toDF("text")
    val got = TextOps.ngramVocab(docs, "text", 2, 10)
      .as[(String, Long)].collect().toSeq
    // "Cat!" normalizes to one token (no bigram); "x" likewise
    assert(got == Seq(("the cat", 2L), ("cat ran", 1L), ("cat sat", 1L)))
  }

  test("repetitionProfile: top-gram share, distinct ratio, short-doc edges") {
    val docs = Seq(
      (1L, "go go go go"),           // top bigram "go go" ×3 of 3 slots
      (2L, "a b a b c"),             // "a b" ×2 of 4 slots, 3 distinct of 5
      (3L, "one"),                   // no bigram slots
      (4L, ""),                      // empty doc
      (5L, "x y x z")                // tie (x y, y x, x z all ×1) → "x y"
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionProfile(docs, "doc_id", "text", 2)
      .select("doc_id", "n_tokens", "n_grams", "top_gram", "top_gram_count",
        "top_gram_share", "distinct_ratio")
      .as[(Long, Long, Long, Option[String], Long, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4L, 3L, Some("go go"), 3L, 1.0, 0.25)))
    assert(got(2L) == ((2L, 5L, 4L, Some("a b"), 2L, 0.5, 0.6)))
    assert(got(3L) == ((3L, 1L, 0L, None, 0L, 0.0, 1.0)))
    assert(got(4L) == ((4L, 0L, 0L, None, 0L, 0.0, 0.0)))
    // ties break toward the lexicographically smallest gram (oracle parity)
    assert(got(5L) == ((5L, 4L, 3L, Some("x y"), 1L,
      math.floor(1.0 / 3.0 * 1e6) / 1e6, 0.75)))
  }

  test("repetitionProfile kernel matches the exploded Column form on real docs") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .as[(Long, Long, Long, Option[String], Long, Double, Double)].collect().toSet
    val kernel = rows(TextOps.repetitionProfile(docs, "doc_id", "text", 2))
    val column = rows(TextOps.repetitionProfileColumnForm(docs, "doc_id", "text", 2))
    assert(kernel == column)
    // and for trigrams (different slot count and tie population)
    val k3 = rows(TextOps.repetitionProfile(docs, "doc_id", "text", 3))
    val c3 = rows(TextOps.repetitionProfileColumnForm(docs, "doc_id", "text", 3))
    assert(k3 == c3)
  }

  test("chunk: overlapping windows, short tail, empty doc emits nothing") {
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"), // window 3 stride 2 → starts 0,2,4,6
      (2L, "a b"),                  // shorter than the window → one chunk
      (3L, "")
    ).toDF("doc_id", "text")
    val got = TextOps.chunk(docs, "doc_id", "text", 3, 2)
      .as[(Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 0L, 3L, "t0 t1 t2"), (1L, 1L, 3L, "t2 t3 t4"),
      (1L, 2L, 3L, "t4 t5 t6"), (1L, 3L, 1L, "t6"),
      (2L, 0L, 2L, "a b")))
  }

  test("redactPii counts and masks emails then phones, leaves clean text") {
    val docs = Seq(
      (1L, "mail a@b.co and c.d+x@e-f.org or call +1-555-0042 today"),
      (2L, "digits 1234 stay, 12-34 stays, no pii here")
    ).toDF("doc_id", "text")
    val got = TextOps.redactPii(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 1L,
      "mail <EMAIL> and <EMAIL> or call <PHONE> today")))
    assert(got(2L) == ((2L, 0L, 0L, "digits 1234 stay, 12-34 stays, no pii here")))
  }

  test("charHistogram counts code points: surrogate pairs stay whole, " +
      "newlines counted, deterministic tiebreak") {
    val docs = Seq(
      (1L, "ab\na"),            // BMP with a line terminator ((?s) must match it)
      (2L, "😀b😀"), // 😀b😀 — supplementary plane
      (3L, "你好")      // CJK (BMP, 3-byte UTF-8)
    ).toDF("doc_id", "text")
    val got = TextOps.charHistogram(docs, "text", 10)
      .as[(String, Long)].collect().toSeq
    val expected = Seq("a" -> 2L, "😀" -> 2L, "b" -> 2L,
      "\n" -> 1L, "你" -> 1L, "好" -> 1L)
    // count desc, then char asc by string comparison — emoji sorts after
    // ASCII; no lone surrogate halves appear anywhere
    assert(got.toMap == expected.toMap)
    assert(got.map(_._2) == got.map(_._2).sorted.reverse)
    assert(got.forall { case (ch, _) =>
      !ch.exists(c => Character.isSurrogate(c)) || ch.codePointCount(0, ch.length) == 1
    })
  }

  test("tokenStats emits one row per document with exact token and char counts") {
    val docs = Seq((1L, "the cat sat"), (2L, "the cat sat")).toDF("doc_id", "text")
    val got = TextOps.tokenStats(docs, "doc_id", "text")
    assert(got.count() == 2)
    assert(got.as[(Long, Long, Long, Long)].collect().toSet ==
      Set((1L, 3L, 11L, 9L), (2L, 3L, 11L, 9L)))
  }

  test("dedupProfile counts identical docs once within their dims group") {
    val docs = Seq((1L, "the cat sat"), (2L, "the cat sat")).toDF("doc_id", "text")
      .withColumn("source", lit("s")).withColumn("lang", lit("en"))
    assert(Dedup.dedupProfile(docs, "text", Seq("source", "lang"))
      .select("n_docs", "n_distinct").as[(Long, Long)].head() == ((2L, 1L)))
  }

  test("dedupProfileChecked: verdict uniformly true, exact side identical to dedupProfile") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val checked = Dedup.dedupProfileChecked(docs, "text", Seq("source", "lang"))
    assert(checked.filter(!col("within_bound")).count() == 0)
    val exact = Dedup.dedupProfile(docs, "text", Seq("source", "lang"))
    assert(checked.drop("within_bound").exceptAll(exact).count() == 0)
    assert(exact.exceptAll(checked.drop("within_bound")).count() == 0)
  }

  test("dupClusters assigns the min doc id transitively across chained pairs") {
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L), (5L, 4L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(pairs, "doc_a", "doc_b")
      .as[(Long, Long)].collect().toMap
    // 1-2 and 2-3 chain into one component labeled 1 even though (1,3) was
    // never a pair — the transitivity the retention decision requires
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 7L -> 7L, 9L -> 7L))
  }

  test("contaminationPairs flags an embedded benchmark doc that Jaccard would miss") {
    val benchText = "the quick brown fox jumps over the lazy dog"
    val corpus = Seq(
      (100L, "intro words before it " + benchText + " and then a very long tail " +
        "of unrelated filler content that goes on about many other topics " +
        "entirely unconnected to the benchmark sentence in any way at all"),
      (101L, "completely unrelated document about different things altogether")
    ).toDF("doc_id", "text")
    val bench = Seq((1L, benchText)).toDF("doc_id", "text")
    val got = Dedup.contaminationPairs(corpus, bench, "doc_id", "text", 3, 4, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    // doc 100 fully contains the benchmark (containment 1.0) even though
    // its Jaccard vs the benchmark is low; doc 101 is clean
    assert(got.map(g => (g._1, g._2)) == Seq((100L, 1L)))
    assert(got.head._3 == 1.0)
    // sanity: symmetric Jaccard on the same pair is far below the threshold
    val jac = Seq((corpus.filter(col("doc_id") === 100).select("text").as[String].head(),
        benchText)).toDF("a", "b")
      .select(Dedup.jaccardHashes(
        array_distinct(Dedup.shingleHashes(col("a"), 3)),
        array_distinct(Dedup.shingleHashes(col("b"), 3)))).as[Double].head()
    assert(jac < 0.5, s"fixture too similar for the point: jaccard=$jac")
  }

  test("keepCanonical retains one representative per cluster plus unclustered docs") {
    val docs = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y"), (5L, "y"), (6L, "z"))
      .toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.keepCanonical(docs, "doc_id", clusters)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L))
  }

  test("keepBest retains the highest-priority member per cluster, " +
      "id-asc ties, unclustered docs untouched") {
    val docs = Seq(
      (1L, "aa"), (2L, "aaaa"), (3L, "aaaa"), // cluster 1: 2 and 3 tie on length → 2 wins
      (4L, "bbb"), (5L, "b"),                 // cluster 4: 4 wins (longer)
      (6L, "z")                               // unclustered: survives
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val kept = Dedup.keepBest(docs, "doc_id", clusters,
        length(col("text")).cast("long"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 6L)) // NOT the min-id canonical (1, 4, 6)
    assertThrows[IllegalArgumentException](Dedup.keepBest(
      docs.withColumn("_rn", lit(1)), "doc_id", clusters, length(col("text"))))
  }

  test("segmentPairs equals brute force on a seeded random corpus with " +
      "varied lengths; short index strings fail loud") {
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(42)
    // base strings + mutated copies: substitutions, indels, length 3..16
    val bases = Seq.fill(12)((3 + rnd.nextInt(14), rnd))
      .map { case (n, r) => Seq.fill(n)(('a' + r.nextInt(4)).toChar).mkString }
    val strs = bases.flatMap { s =>
      val chars = s.toCharArray.toSeq
      val mut = chars.updated(rnd.nextInt(s.length),
        ('a' + rnd.nextInt(4)).toChar).mkString
      val ins = (chars.take(1 + rnd.nextInt(s.length)) ++
        Seq(('a' + rnd.nextInt(4)).toChar) ++
        chars.drop(1 + rnd.nextInt(s.length))).mkString
      Seq(s, mut, ins)
    }.filter(_.length >= 3) // maxDist+1: every string is index-eligible
    val rows = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val docs = rows.toDF("doc_id", "head").repartition(4)
    val got = Dedup.segmentPairs(docs, "doc_id", "head", 2)
      .as[(Long, Long, Long)].collect().toSet
    val want = (for {
      x <- rows; y <- rows if x._1 < y._1
      d = lev(x._2, y._2) if d <= 2
    } yield (x._1, y._1, d.toLong)).toSet
    assert(got == want && want.nonEmpty)
    val short = Seq((1L, "ab")).toDF("doc_id", "head") // < maxDist+1 = 3
    val err = intercept[Exception] {
      Dedup.segmentPairs(short, "doc_id", "head", 2).collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("segment"))
    assertThrows[IllegalArgumentException](
      Dedup.segmentPairs(docs, "doc_id", "head", -1))
  }

  test("segmentJoin resolves left against right; probe side has no length " +
      "bound; only the right (index) side guards") {
    val left = Seq(
      (1L, "weekly report 2024"),
      (2L, "weekly report 2025"),
      (3L, "quarterly digest 9"),
      (4L, "ab")).toDF("doc_id", "head") // 2 chars: probe-eligible, matches nothing
    val registry = Seq(
      (100L, "weekly report 2024"),
      (101L, "monthly summary 77")).toDF("rid", "name")
    val got = Dedup.segmentJoin(left, registry, "doc_id", "head",
        "rid", "name", 2).as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 100L, 0L), (2L, 100L, 1L)))
    // a left string within d of a right string but shorter than d+1 still
    // resolves: the probe side carries no guard
    val tiny = Seq((7L, "abc")).toDF("doc_id", "head")
    val reg2 = Seq((200L, "abcde")).toDF("rid", "name")
    val got2 = Dedup.segmentJoin(tiny, reg2, "doc_id", "head",
        "rid", "name", 2).as[(Long, Long, Long)].collect().toSet
    assert(got2 == Set((7L, 200L, 2L)))
    val short = Seq((1L, "ab")).toDF("rid", "name")
    val err = intercept[Exception] {
      Dedup.segmentJoin(left, short, "doc_id", "head", "rid", "name", 2)
        .collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("segmentJoin(right)"))
  }

  test("lshJaccardJoin matches batch docs against the corpus only — no " +
      "batch self-pairs, exact jaccard verify") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight again"),
      (11L, "completely different content about spark and parquet files"),
      (12L, "another unrelated doc on streaming watermarks and state")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight again"),
      (2L, "the quick brown fox jumps over the lazy dog tonight again"),
      (3L, "nothing like anything in the corpus at all whatsoever here")
    ).toDF("doc_id", "text")
    val got = Dedup.lshJaccardJoin(batch, corpus, "doc_id", "text",
        "doc_id", "text", 3, 8, 2, 0.5)
      .as[(Long, Long, Double)].collect()
    // docs 1 and 2 both hit corpus doc 10 at jaccard 1.0; crucially the
    // identical batch pair (1,2) is NOT emitted — the gate never compares
    // the batch to itself
    assert(got.map(r => (r._1, r._2)).toSet == Set((1L, 10L), (2L, 10L)))
    assert(got.forall(_._3 == 1.0))
  }

  test("tfidfTop ranks per-doc terms by tf x rational idf with term-ASC " +
      "tiebreak") {
    val docs = Seq(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "apple date")).toDF("doc_id", "text")
    val got = TextOps.tfidfTop(docs, "doc_id", "text", 3)
      .as[(Long, String, Long, Double)].collect().toSet
    // N=3; df(apple)=df(banana)=2 -> idf=1.5/2.5=0.6; df(cherry)=df(date)=1
    // -> idf=2.5/1.5=1.6666...; trunc6 floors to 1.666666
    assert(got == Set(
      (1L, "apple", 1L, 1.2), (1L, "banana", 2L, 0.6),
      (2L, "cherry", 1L, 1.666666), (2L, "banana", 2L, 0.6),
      (3L, "date", 1L, 1.666666), (3L, "apple", 2L, 0.6)))
    assertThrows[IllegalArgumentException](
      TextOps.tfidfTop(docs, "doc_id", "text", 0))
  }

  test("lmScore averages known-bigram probabilities exactly; short docs " +
      "emit NULL, unknown bigrams count but don't score") {
    val docs = Seq(
      (1L, "a b a b"),   // bigrams: "a b", "b a", "a b"
      (2L, "a b zzz"),   // "a b" known, "b zzz" unknown (below topN? no — in LM)
      (3L, "solo")       // no bigrams
    ).toDF("doc_id", "text")
    val lm = TextOps.bigramLm(docs, "text", 2) // top-2 grams only
    // counts: "a b"x3, "b a"x1, "b zzz"x1 → top2 = "a b"(3), "b a"(1)
    // prefixes: a→4 ("a b"x3 + ... a prefix rows: "a b"x3) wait: prefix of
    // "a b" is "a": n_prefix = count of grams starting "a" = 3; "b a"+"b zzz"
    // start "b" → n_prefix = 2. So p("a b")=1.0, p("b a")=0.5
    val got = TextOps.lmScore(docs, "doc_id", "text", lm)
      .as[(Long, Long, Long, Option[Double])].collect().toSet
    // doc1: 3 bigrams, known: "a b"(1.0)x2 + "b a"(0.5) → avg 2.5/3
    // doc2: 2 bigrams, known: "a b"(1.0) → avg 1.0; "b zzz" not in top-2
    val exp1 = math.floor(2.5 / 3.0 * 1000000) / 1000000
    assert(got == Set(
      (1L, 3L, 3L, Some(exp1)),
      (2L, 2L, 1L, Some(1.0)),
      (3L, 0L, 0L, None)))
    assertThrows[IllegalArgumentException](TextOps.lmScore(
      docs, "doc_id", "text", lm.withColumnRenamed("p", "prob")))
  }

  test("dedupReport counts arrivals, survivors and the dup rate per " +
      "dimension value") {
    val docs = Seq(
      (1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val got = Dedup.dedupReport(docs, "doc_id", clusters, "source")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(got == Set(("A", 3L, 2L, 0.333333), ("B", 2L, 1L, 0.5)))
    assertThrows[IllegalArgumentException](Dedup.dedupReport(
      docs.withColumn("n_docs", lit(1)), "doc_id", clusters, "source"))
    assertThrows[IllegalArgumentException](Dedup.dedupReport(
      docs, "doc_id", clusters.withColumnRenamed("cluster_id", "c"), "source"))
  }

  test("dupClusters converges on a 60-node chain within the round cap (pointer jumping)") {
    // diameter 59 > maxIters 30: plain neighbor propagation would silently
    // stop short; the pointer jump makes convergence O(log diameter)
    val chain = (0L until 59L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupClusters(chain, "doc_a", "doc_b")
      .as[(Long, Long)].collect()
    assert(got.length == 60 && got.forall(_._2 == 0L),
      s"unconverged labels: ${got.filter(_._2 != 0L).take(5).mkString(",")}")
  }

  test("winnowPairs finds shared-substring near-dups and verifies with exact Jaccard") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"),
      (3L, "completely different words about entirely other topics and things"),
      (4L, "short one")).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    // docs 1/2 share an 11-word run (>= w+k-1 = 6 words ⇒ guaranteed shared
    // fingerprint) and their shingle-set Jaccard is well above 0.5; no other
    // pair passes verification
    assert(got.map(p => (p._1, p._2)) == Seq((1L, 2L)))
    assert(got.head._3 > 0.5)
    // verification threshold really is exact Jaccard: pairs at minJaccard=0
    // still include (1,2) with the same score
    val loose = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4, 0.0)
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(loose((1L, 2L)) == got.head._3)
  }

  test("winnowPairs too-common cutoff drops only pairs whose every shared fp is common") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs(cap: Int) = Dedup.winnowPairs(docs, "doc_id", "text", 3, 4, 0.0, cap)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val uncapped = pairs(0)
    val capped = pairs(4)
    assert(capped.subsetOf(uncapped)) // the cap only removes candidates
    assert(capped.nonEmpty)
  }

  test("vocabGrowth: cumulative docs/tokens/vocab at checkpoints; docs " +
      "beyond the last checkpoint excluded; vocab counts FIRST occurrence") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (4L, "d d"), (6L, "e"))
      .toDF("doc_id", "text")
    val got = TextOps.vocabGrowth(docs, "doc_id", "text", Seq(2L, 5L))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    // cp 2: docs {1,2} → 4 token occurrences, vocab {a,b,c}
    // cp 5: + doc 4 ("d d") → 6 occurrences, vocab + {d}; doc 6 excluded
    assert(got.toSeq == Seq((2L, 2L, 4L, 3L), (5L, 3L, 6L, 4L)))
    assertThrows[IllegalArgumentException](
      TextOps.vocabGrowth(docs, "doc_id", "text", Seq(5L, 2L)))
    assertThrows[IllegalArgumentException](
      TextOps.vocabGrowth(docs, "doc_id", "text", Nil))
  }

  test("docNovelty: new-type fraction per doc by first-id order; " +
      "zero-type docs absent") {
    val docs = Seq((1L, "a b a"), (2L, "a c"), (3L, "x"), (4L, " "))
      .toDF("doc_id", "text")
    val got = TextOps.docNovelty(docs, "doc_id", "text")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2L, 2L, 1.0)))   // {a,b} both first here
    assert(got(2L) == ((2L, 2L, 1L, 0.5)))   // a seen, c new
    assert(got(3L) == ((3L, 1L, 1L, 1.0)))
    assert(!got.contains(4L))                // no types, no score
  }

  test("jaccardAllPairs == brute force over the collected shingle sets " +
      "(provable recall, exact verify)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta zeta"),     // near-dup of 1
      (3L, "alpha beta gamma delta epsilon"),  // exact dup of 1
      (4L, "totally different words entirely here"),
      (5L, "beta gamma delta epsilon alpha"))  // same vocab as 1, reordered
      .toDF("doc_id", "text")
    val got = Dedup.jaccardAllPairs(docs, "doc_id", "text", 3, 1, 2)
      .as[(Long, Long, Double)].collect().toSet
    // brute force on the SAME distinct shingle-hash sets
    val sh = docs.select(col("doc_id"),
        array_distinct(Dedup.shingleHashes(col("text"), 3)).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    val ids = sh.keys.toSeq.sorted
    val want = (for {
      i <- ids; j <- ids if i < j
      inter = sh(i).toSet.intersect(sh(j).toSet).size
      union = sh(i).toSet.union(sh(j).toSet).size
      jac = inter.toDouble / union
      if jac >= 0.5
    } yield (i, j, jac)).toSet
    assert(got == want)
    assert(want.nonEmpty) // the fixture actually exercises the verify
    assert(got.map(p => (p._1, p._2)).contains((1L, 3L))) // exact dup caught
  }

  test("jaccardAllPairs refuses loudly when a prefix-token bucket exceeds " +
      "maxBucket instead of going quadratic") {
    val docs = (1L to 6L).map(i => (i, "same template text every time"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Dedup.jaccardAllPairs(docs, "doc_id", "text", 3, 1, 2, maxBucket = 3)
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("jaccardAllPairs")))
  }

  /** The blocker audit at k=3, 8 bands × 2 rows, truth at Jaccard ≥ 1/2. */
  private def blockingQuality(docs: DataFrame): DataFrame =
    Dedup.blockingQualityFrom(
      Dedup.jaccardAllPairs(docs, "doc_id", "text", 3, 1, 2)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true),
      docs, "doc_id", "text", 3, 8, 2)

  private def blockingQualitySampled(docs: DataFrame,
                                     sampleMod: Int): DataFrame =
    Dedup.blockingQualitySampledFrom(
      Dedup.jaccardAllPairsSampled(docs, "doc_id", "text", 3, 1, 2,
        sampleMod).localCheckpoint(true),
      docs, "doc_id", "text", 3, 8, 2, sampleMod)

  test("blockingQuality grades banding against all-pairs truth: generous " +
      "bands catch the exact dup; counts and ratios are exact") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"), // exact dup: every band collides
      (3L, "totally different words entirely here"),
      (4L, "yet another unrelated document body"))
      .toDF("doc_id", "text")
    val r = blockingQuality(docs).collect().head
    val (nDocs, nPossible, nCand, nTrue, nCaught) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(nDocs == 4L && nPossible == 6L)
    assert(nTrue == 1L && nCaught == 1L)     // the (1,2) dup, caught
    assert(r.getDouble(6) == 1.0)            // pairs_completeness
    assert(r.getDouble(5) ==
      math.floor((1d - nCand.toDouble / 6d) * 1e6) / 1e6)
  }

  test("blockingQualitySampled: sampleMod 1 degenerates to the exact " +
      "audit plus sample_den; a real slice audits fewer docs") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "totally different words entirely here"),
      (4L, "yet another unrelated document body"))
      .toDF("doc_id", "text")
    val exact = blockingQuality(docs).collect().head
    val full = blockingQualitySampled(docs, 1).collect().head
    assert(full.toSeq.init == exact.toSeq) // same row, plus the denominator
    assert(full.getLong(7) == 1L)
    val sliced = blockingQualitySampled(docs, 3).collect().head
    assert(sliced.getLong(7) == 3L)
    assert(sliced.getLong(0) <= exact.getLong(0)) // audits a subset
    // the slice is the deterministic md5 decision, not a row sample
    val kept = docs.filter(
      pmod(Dedup.md5Int(col("doc_id").cast("string")), lit(3L)) === 0L)
      .count()
    assert(sliced.getLong(0) == kept)
  }

  test("languageMix: surfaces the runner-up and the integer-ratio mixed " +
      "flag; zero evidence is deterministic and unmixed; NULL text absent") {
    val profiles = Map("en" -> Seq("the", "and"), "de" -> Seq("der", "und"),
      "fr" -> Seq("le", "et"))
    val docs = Seq(
      (1L, Some("the cat and the dog der hund")),  // en 3, de 1: mixed (1*10 >= 3*3)
      (2L, Some("the the the and")),               // en 4, others 0: pure
      (3L, Some("zzz qqq")),                       // zero evidence everywhere
      (4L, Option.empty[String]))                  // NULL: absent
      .toDF("doc_id", "text")
    val got = TextOps.languageMix(docs, "doc_id", "text", profiles)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getString(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(got(1L) == (("en", 3L, "de", 1L, true)))
    assert(got(2L) == (("en", 4L, "de", 0L, false)))
    assert(got(3L) == (("de", 0L, "en", 0L, false))) // ties -> smallest code
    assert(!got.contains(4L))
  }

  test("goldenRecord: per-field survivorship with deterministic ties, " +
      "singletons as their own cluster, NULLs lose contests but count") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some("aaaa"), Some("en"), Some("s2")),
      (2L, Some("bbbb"), Some("de"), Some("s1")), // length tie: id 1 wins
      (3L, Some("cc"), Some("de"), None),         // majority de (2 of 3)
      (7L, None, None, Some("s9"))                // singleton, NULL fields
    ).toDF("doc_id", "text", "lang", "source")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L)).toDF("doc_id", "cluster_id")
    val got = Dedup.goldenRecord(docs, "doc_id", clusters,
        "text", "lang", "source")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2),
        r.getString(3), r.getString(4), r.getString(5)))).toMap
    assert(got(1L) == ((3L, 1L, "aaaa", "de", "s1")))
    assert(got(7L) == ((1L, null, null, null, "s9")))
    assert(got.size == 2)
  }

  test("linkageScore: hand-quantized Fellegi-Sunter weights; NULL fields " +
      "contribute no evidence; multi-field scores sum") {
    def qlog(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
    // f1: x, x, y, NULL → U = 2, D = 3·2 = 6 (Laplace: u' = 3/8)
    // f2: z on all four → U = 12, D = 12 (u' = 13/14)
    val recs = Seq((1L, Some("x"), "z"), (2L, Some("x"), "z"),
      (3L, Some("y"), "z"), (4L, None, "z")).toDF("id", "f1", "f2")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("doc_a", "doc_b")
    val out = Dedup.linkageScore(recs, "id", Seq("f1", "f2"), pairs,
      "doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val w1Agree = qlog(19L * 8L) - qlog(20L * 3L)
    val w1Dis = qlog(1L * 8L) - qlog(20L * 5L)
    val w2Agree = qlog(19L * 14L) - qlog(20L * 13L)
    // (1,2): both fields agree
    val p12 = out((1L, 2L))
    assert(p12.getLong(2) == 2L && p12.getLong(3) == 2L)
    assert(p12.getLong(4) == w1Agree + w2Agree)
    assert(p12.getDouble(5) == (w1Agree + w2Agree).toDouble / 1e6)
    // (1,3): f1 disagrees, f2 agrees
    val p13 = out((1L, 3L))
    assert(p13.getLong(2) == 1L && p13.getLong(3) == 2L)
    assert(p13.getLong(4) == w1Dis + w2Agree)
    // (1,4): f1 NULL on one side → zero contribution, not counted known
    val p14 = out((1L, 4L))
    assert(p14.getLong(2) == 1L && p14.getLong(3) == 1L)
    assert(p14.getLong(4) == w2Agree)
    // rare-value agreement outweighs common-value agreement
    assert(w1Agree > w2Agree && w1Dis < 0L)
  }

  test("tokenizerFertility: exact grouped sums and floored ratios; a " +
      "punct-heavy group shows higher fertility; zero words → NULL") {
    val df = Seq(
      ("a", "one two"),        // 2 words, 2 pieces, 7 chars
      ("a", "three"),          // 1 word, 1 piece, 5 chars
      ("b", "x-y!"),           // 1 word, 5 pieces (x,-,y,!), 4 chars
      ("b", ""),               // 0 words contributes nothing but counts
      (null, "dropped")).toDF("g", "text")
    val got = TextOps.tokenizerFertility(df, "g", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(got.size == 2)
    val a = got("a")
    assert(a.getLong(1) == 2L && a.getLong(2) == 3L && a.getLong(3) == 3L
      && a.getLong(4) == 12L)
    assert(a.getDouble(5) == 1.0)
    assert(a.getDouble(6) == 4.0)
    val b = got("b")
    assert(b.getLong(2) == 1L && b.getLong(3) == 4L)
    assert(b.getDouble(5) == 4.0) // "x-y!" splits to x, -, y, !
    // zero-word group: NULL fertility
    val z = TextOps.tokenizerFertility(
      Seq(("c", "")).toDF("g", "text"), "g", "text").head()
    assert(z.isNullAt(5))
  }

  test("contaminationRate: benchmark-identical docs score 1, disjoint " +
      "docs 0, partial overlap counts shared distinct shingles") {
    // k = 2 shingles over whitespace tokens
    val docs = Seq(
      (1L, "alpha beta gamma"),      // shingles: "alpha beta","beta gamma"
      (2L, "wholly different text"), // disjoint
      (3L, "alpha beta zeta")        // shares "alpha beta" only
    ).toDF("doc_id", "text")
    val bench = docs.filter(col("doc_id") === 1L)
    val got = Dedup.contaminationRate(docs, bench, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((2L, 2L, 1.0)))
    assert(got(2L) == ((2L, 0L, 0.0)))
    assert(got(3L) == ((2L, 1L, 0.5)))
  }

  test("readability: exact counts and the fixed Flesch chain; zero " +
      "sentences or zero words emit NULL") {
    val df = Seq(
      (1L, "The cat sat. It ran away!"), // 6 words, 2 sentences
      (2L, "no sentence enders here"),
      (3L, "")).toDF("doc_id", "text")
    val out = TextOps.readability(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getLong(1) == 6L && r1.getLong(2) == 2L)
    // vowel groups: e,a,a,i,a,a,ay → "the"(1) "cat"(1) "sat"(1) "it"(1)
    // "ran"(1) "away"(2: a, ay? lower: a-w-a-y → groups "a","ay") = 7
    assert(r1.getLong(3) == 7L)
    val expected = math.floor((206.835 - 1.015 * (6.0 / 2.0)
      - 84.6 * (7.0 / 6.0)) * 1e6) / 1e6
    assert(r1.getDouble(4) == expected)
    assert(out(2L).isNullAt(4)) // no sentences
    assert(out(3L).getLong(1) == 0L && out(3L).isNullAt(4))
  }

  test("bpeMerges replays the hand fold: freq-weighted counts, " +
      "(count DESC, pair ASC) ties, greedy-L2R run parity when l = r") {
    // vocab: aaaa (freq 2), abab (freq 1). Hand fold:
    //   round 1: (a,a) 2*3=6 beats (a,b) 2, (b,a) 1 -> aaaa = [aa,aa]
    //            (greedy L2R in the run: offsets 0 and 2, NOT 1)
    //   round 2: (aa,aa) 2 ties (a,b) 2 -> pair ASC: "a" < "aa" -> (a,b)
    //            abab = [ab,ab]
    //   round 3: (aa,aa) 2 beats (ab,ab) 1 -> aaaa = [aaaa]
    val docs = Seq("aaaa abab", "AAAA!").toDF("text")
    val (merges, segments) = TextOps.bpeLearn(docs, "text", 3)
    val m = merges.orderBy("merge_rank").collect()
    assert(m.map(r => (r.getLong(0), r.getString(1), r.getString(2),
      r.getString(3), r.getLong(4))).toSeq == Seq(
      (1L, "a", "a", "aa", 6L), (2L, "a", "b", "ab", 2L),
      (3L, "aa", "aa", "aaaa", 2L)))
    val seg = segments.collect()
      .map(r => r.getString(0) -> (r.getLong(2), r.getString(3))).toMap
    assert(seg == Map("aaaa" -> ((1L, "aaaa")), "abab" -> ((2L, "ab ab"))))
  }

  test("bpe segmentation reconstructs every word and never grows the " +
      "weighted token total as merge rounds deepen") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val totals = (1 to 4).map { iters =>
      val seg = TextOps.bpeLearn(docs, "text", iters)._2.collect()
      // every word is exactly its pieces re-concatenated
      seg.foreach { r =>
        assert(r.getString(3).replace(" ", "") == r.getString(0))
        assert(r.getLong(2) >= 1L && r.getLong(2) <= r.getString(0).length)
      }
      seg.map(r => r.getLong(1) * r.getLong(2)).sum
    }
    totals.sliding(2).foreach { case Seq(a, b) => assert(b < a) }
    // pair space exhaustion fails loud, never silently under-merges
    val tiny = Seq("q w e").toDF("text")
    val e = intercept[IllegalArgumentException](
      TextOps.bpeLearn(tiny, "text", 2)._1.collect())
    assert(e.getMessage.contains("pair space exhausted"))
  }

  test("the run-parity merge rule == a sequential greedy-L2R fold on " +
      "EVERY word over {a,b} up to length 6, for l=r and l!=r merges") {
    // reference implementation: plain sequential greedy left-to-right
    // non-overlapping replacement of (l, r) in a symbol sequence
    def refMerge(syms: List[String], l: String, r: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toList
    }
    val words = (1 to 6).flatMap(n =>
      Seq.fill(n)(Seq("a", "b")).foldLeft(Seq(Seq.empty[String]))(
        (acc, cs) => acc.flatMap(p => cs.map(p :+ _))).map(_.mkString))
    // merge tables exercising the three shapes: l = r (run parity),
    // l != r chars, and a multi-char merged symbol as LEFT of a merge
    val tables = Seq(
      Seq((1L, "a", "a")),
      Seq((1L, "a", "b")),
      Seq((1L, "a", "a"), (2L, "aa", "b")),
      Seq((1L, "a", "b"), (2L, "ab", "ab")),
      Seq((1L, "b", "b"), (2L, "a", "bb"), (3L, "abb", "a")))
    val docs = words.map(w => Tuple1(w)).toDF("text")
    tables.foreach { t =>
      val merges = t.map { case (rk, l, r) => (rk, l, r, l + r, 1L) }
        .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
      val got = TextOps.bpeEncode(docs, "text", merges).collect()
        .map(r => r.getString(0) -> r.getString(3)).toMap
      words.foreach { w =>
        val expect = t.foldLeft(w.map(_.toString).toList) {
          case (syms, (_, l, r)) => refMerge(syms, l, r)
        }.mkString(" ")
        assert(got(w) == expect,
          s"word '$w' under $t: window rule '${got(w)}' != fold '$expect'")
      }
    }
  }

  test("bpeEncode replays the trained merges: on the training corpus it " +
      "equals bpeSegments; unseen pairs simply stop merging") {
    val docs = Seq("aaaa abab", "AAAA!").toDF("text")
    val (merges, segments) = TextOps.bpeLearn(docs, "text", 3)
    val enc = TextOps.bpeEncode(docs, "text", merges)
    assert(enc.collect().toSet == segments.collect().toSet)
    // held-out vocab: "aab" takes merge 1 (a,a) then nothing applies
    // ("aa" is not "a", so (a,b) cannot fire); "zz" never merges
    val held = Seq("aab zz").toDF("text")
    val e2 = TextOps.bpeEncode(held, "text", merges).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(e2 == Map("aab" -> "aa b", "zz" -> "z z"))
  }

  test("dupSpans: hand-walked marked ranges merge on overlap-or-touch; " +
      "within-doc repeats count; empty docs emit NULL share") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // grams p0..p4; p0 (a b c), p1 (b c d) dup
      (2L, "x a b c d y"),     // p1 (a b c), p2 (b c d) dup with doc 1
      (3L, "p q r"),           // one unique gram: zero spans
      (4L, "z z z z"),         // p0 = p1 = (z z z): WITHIN-doc multiset dup
      (5L, "")                 // empty: n_tokens 0, NULL share
    ).toDF("doc_id", "text")
    val out = Dedup.dupSpans(docs, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6),
        if (r.isNullAt(7)) null else r.getDouble(7)))).toMap
    // doc 1: marked {0,1} -> one span covering tokens 0..3 (a b c d)
    assert(out(1L) == ((7L, 5L, 2L, 1L, 4L, 4L,
      math.floor(4d / 7d * 1e6) / 1e6)))
    // doc 2: marked {1,2} -> 4 of 6 tokens covered
    assert(out(2L) == ((6L, 4L, 2L, 1L, 4L, 4L,
      math.floor(4d / 6d * 1e6) / 1e6)))
    assert(out(3L) == ((3L, 1L, 0L, 0L, 0L, 0L, 0.0)))
    // doc 4: the same gram twice IN ONE doc is a duplicate (multiset
    // counts, the ExactSubstr convention) -> whole doc covered
    assert(out(4L) == ((4L, 2L, 2L, 1L, 4L, 4L, 1.0)))
    assert(out(5L)._1 == 0L && out(5L)._7 == null)
    // touch-merge: two marked ranges at distance exactly L join into ONE
    // span with contiguous coverage
    val touch = Seq((1L, "a b c d e f"), (2L, "a b c x y z"),
      (3L, "d e f u v w")).toDF("doc_id", "text")
    val t1 = Dedup.dupSpans(touch, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    // doc 1: marked {0 (a b c), 3 (d e f)}: 3 - 0 == L -> ONE span, 6 tokens
    assert(t1(1L) == ((1L, 6L)))
  }

  test("trimSpans == dupSpans accounting: kept = total - duplicated for " +
      "every doc; clean docs pass through verbatim") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val trimmed = Dedup.trimSpans(docs, "doc_id", "text", 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val spans = Dedup.dupSpans(docs, "doc_id", "text", 6)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(5)))).toMap
    assert(trimmed.keySet == spans.keySet)
    spans.foreach { case (id, (nTok, nDup)) =>
      val (tTok, kept, text) = trimmed(id)
      assert(tTok == nTok, s"doc $id token counts diverge")
      assert(kept == nTok - nDup, s"doc $id kept != total - dup")
      // the emitted text has exactly kept tokens
      assert((if (text.isEmpty) 0 else text.split(" ").length) == kept)
    }
    // a wholly-clean tiny corpus passes through as its normalized self
    val clean = Seq((1L, "Alpha beta gamma!"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val out = Dedup.trimSpans(clean, "doc_id", "text", 3).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(1L -> "alpha beta gamma", 2L -> "delta epsilon zeta"))
  }

  test("contaminationSpans: the bench-marked cut list with token " +
      "boundaries; clean docs absent") {
    val corpus = Seq((1L, "a b c d e f"), (2L, "u v w x y z"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "c d e")).toDF("doc_id", "text")
    val out = Dedup.contaminationSpans(corpus, bench, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // doc 1: gram p2 (c d e) is the bench's single gram -> span over
    // tokens 2..4; doc 2 is clean and absent
    assert(out.toSeq == Seq((1L, 1L, 2L, 4L, 3L, 1L)))
  }

  test("bpeFertility: the learned vocab's pieces-per-word, per group " +
      "(hand walk over the aaaa/abab corpus)") {
    // after 3 merges (the bpeMerges hand-fold test): aaaa -> 1 piece,
    // abab -> 2 pieces. en: (aaaa + abab) = 2 words, 3 pieces -> 1.5;
    // zh: one aaaa = 1 word, 1 piece -> 1.0
    val docs = Seq(("aaaa abab", "en"), ("AAAA!", "zh"))
      .toDF("text", "lang")
    val f = TextOps.bpeFertilityFrom(docs, "text", "lang",
        TextOps.bpeLearn(docs, "text", 3)._2).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(f == Map("en" -> ((2L, 3L, 1.5)), "zh" -> ((1L, 1L, 1.0))))
  }

  test("goodTuring: counts-of-counts and both ppm estimates against a " +
      "hand fold; no-singleton groups get NULL gt1_ppm") {
    val docs = Seq(
      // en: tokens a a b c → N=4, types=3, N1=2 (b,c), N2=1 (a)
      ("en", "a a b"), ("en", "c"),
      // de: d d e e → no singletons → gt1 undefined
      ("de", "d d e e"),
      (null, "ignored")
    ).toDF("lang", "text")
    val got = graft.operators.TextOps.goodTuring(docs, "lang", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), if (r.isNullAt(6)) None else Some(r.getLong(6)))))
      .toMap
    assert(got("en") == ((4L, 3L, 2L, 1L,
      2L * 1000000L / 4L,          // unseen_ppm = N1·1e6 div N
      Some(2L * 1L * 1000000L / 2L)))) // gt1 = 2·N2·1e6 div N1
    assert(got("de") == ((4L, 2L, 0L, 2L, 0L, None)))
    assert(got.size == 2) // NULL group dropped
  }

  test("textRank: stopwords filtered BEFORE windowing (survivors become " +
      "adjacent), self-pairs dropped, symmetric 2-node graph splits mass " +
      "exactly, tie order deterministic") {
    // after stopword removal and the a-a self-pair drop, every variant is
    // the same symmetric {a, b} graph → both stay at scale/2 every round
    val docs = Seq("the a the b a the b", "a a b a b", "a b a b")
      .toDF("text")
    for (d <- Seq(docs.limit(1), docs)) {
      val r = graft.operators.TextOps.textRank(d, "text", Seq("the"), 3, 10,
        1000000000000L).collect()
      assert(r.map(x => (x.getString(0), x.getLong(1))).toSeq
        == Seq(("a", 500000000000L), ("b", 500000000000L)))
    }
  }
}
