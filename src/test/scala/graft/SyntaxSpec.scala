package graft

import graft.syntax._
import org.apache.spark.sql.functions._

/** The fluent facade must delegate to the same operators (spot checks). */
class SyntaxSpec extends SparkSpec {
  import spark.implicits._

  test("fluent pipeline composes like the reference's chained style") {
    val events = Seq((1L, 1000L, 1L, "error", 2.5), (2L, 2000L, 1L, "view", 1.0),
      (3L, 500000L, 2L, "error", 4.0))
      .toDF("event_id", "ms", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_millis(col("ms")))

    assert(events.keyedSum("user_id", "value", "total").count() == 2)
    assert(events.tumblingCount("ts", "3 seconds").count() == 2)
    val (err, rest) = events.splitBy(col("event_type") === "error")
    assert(err.taggedUnion("E", rest, "N", Seq("user_id")).count() == 3)

    val docs = Seq((1L, "the cat sat"), (2L, "the cat sat")).toDF("doc_id", "text")
    assert(docs.exactDedup("doc_id", "text").count() == 1)
    assert(docs.tokenStats("doc_id", "text").count() == 2)

    // round-3 additions delegate too
    assert(events.keyProfile("user_id", 1).as[(Long, Long)].head() == ((1L, 2L)))
    val withSrc = docs.withColumn("source", lit("s")).withColumn("lang", lit("en"))
    assert(withSrc.dedupProfile("text", Seq("source", "lang"))
      .select("n_docs", "n_distinct").as[(Long, Long)].head() == ((2L, 1L)))
    // identical docs share every winnow fingerprint
    val fps = docs.winnowFingerprints("doc_id", "text", 3, 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(fps(1L) == fps(2L) && fps(1L).nonEmpty)
    val imgs = docs.withColumn("img",
      graft.operators.Multimodal.fakeImageBytes(col("text"), col("doc_id")))
    assert(imgs.frameSample("doc_id", "img", 8, 2).count() > 0)

    // round-6 additions delegate too
    val iv = Seq((9L, 900L, 1500L)).toDF("iid", "s", "e")
    assert(events.rangeJoin(iv, "ts", "s", "e", 1000).count() == 1)
    assert(events.bloomSemiJoin(Seq(1L).toDF("k"), "user_id", "k", 1).count() == 2)
    assert(events.bloomAntiJoin(Seq(1L).toDF("k"), "user_id", "k", 1).count() == 1)
    assert(events.eventSequence("user_id", "ts", "event_id", "event_type", 9)
      .count() == 2)
    assert(events.sessionize("user_id", "ts", "event_id", 500)
      .agg(max("session_seq")).as[Long].head() == 2) // 1000ms gap > 500 splits
    assert(events.heavyHittersCms("event_type", 2, 32).count() == 2)
    assert(events.rankNormalize("user_id", "value", "pr").count() == 3)
    assert(events.robustOutliers("event_type", "value", 3.5).count() == 3)
    assert(docs.bm25("doc_id", "text", Seq("cat")).count() == 2)
    assert(docs.bigramLm("text", 5).count() == 2) // "the cat", "cat sat"
    assert(docs.oovRate("doc_id", "text", 2, 5).count() == 2)
    assert(docs.splitAssign("doc_id", Seq("a" -> 0.5, "b" -> 0.5)).count() == 2)
  }

  test("multi-table LSH recall is a superset of single-table recall") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(8)(d => (math.sin(i * 37 + d) * 10).toFloat))
    }.toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val single = pairs(graft.operators.Similarity.lshTopK(
      vecs, vecs, "vec_id", "embedding", 8, 6, 40))
    val multi = pairs(graft.operators.Similarity.lshTopKMulti(
      vecs, vecs, "vec_id", "embedding", 8, 6, 40, 3))
    assert(single.subsetOf(multi), "multi-table candidates must contain table 0's")
    assert(multi.size >= single.size)
  }

  test("the round-8 facade methods delegate to their operators") {
    val labeled = Seq((1L, "a", "X"), (1L, "b", "X"), (2L, "b", "Y"))
      .toDF("id", "tok", "lab")
    assert(labeled.naiveBayes("id", "tok", "lab").collect().toSet ==
      graft.operators.Eval.naiveBayes(labeled, "id", "tok", "lab")
        .collect().toSet)
    val scored = Seq((3L, true), (2L, false), (1L, true)).toDF("s", "pos")
    assert(scored.youdenPoint("s", col("pos")).head().toSeq ==
      graft.operators.Eval.youdenPoint(scored, "s", col("pos"))
        .head().toSeq)
    val cats = Seq(("x", true), ("x", false), ("y", true)).toDF("c", "p")
    assert(cats.hellingerDrift("c", col("p")).head().toSeq ==
      graft.operators.InfoTheory.hellingerDrift(cats, "c", col("p"))
        .head().toSeq)
    val pts = Seq((0L, 0L), (1L, 2L), (2L, 4L)).toDF("x", "y")
    assert(pts.theilSen("x", "y").head().toSeq ==
      graft.operators.CoreOps.theilSen(pts, "x", "y").head().toSeq)
  }

  test("the round-9 facade methods delegate to their operators") {
    val docs = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"), (3L, "something else wholly"))
      .toDF("doc_id", "text")
    val imgs = docs.withColumn("img",
      graft.operators.Multimodal.fakeImageBytes(col("text"), lit(0L)))
    assert(imgs.imageDupPairs("doc_id", "img", 0).collect().toSet ==
      graft.operators.Multimodal.imageDupPairs(imgs, "doc_id", "img", 0)
        .collect().toSet)
    val ev = Seq(("a", 1000L), ("b", 1500L), ("a", 2500L))
      .toDF("cat", "ms").withColumn("ts", timestamp_millis(col("ms")))
    val ref = Seq("a", "b").toDF("c")
    assert(ev.windowedHellinger("cat", "ts", "3 seconds", "0 seconds",
        ref, "c").collect().toSet ==
      graft.streaming.StreamOps.windowedHellinger(ev, "cat", "ts",
        "3 seconds", "0 seconds", ref, "c").collect().toSet)
  }

  test("divergence/ranking/curation/linkage facade delegates verbatim") {
    val sides = Seq(("x", true), ("x", false), ("y", true), ("z", false))
      .toDF("cat", "p")
    assert(sides.jsDivergence("cat", col("p")).head().toSeq ==
      graft.operators.InfoTheory.jsDivergence(sides, "cat", col("p"))
        .head().toSeq)
    val ranked = Seq(("q1", 1L, 1L), ("q1", 2L, 0L)).toDF("q", "rank", "r")
    assert(ranked.ndcgPerQuery("q", "rank", col("r")).head().toSeq ==
      graft.operators.Eval.ndcgPerQuery(ranked, "q", "rank", col("r"))
        .head().toSeq)
    assert(ranked.meanReciprocalRank("q", "rank", col("r")).head().toSeq ==
      graft.operators.Eval.meanReciprocalRank(ranked, "q", "rank", col("r"))
        .head().toSeq)
    val docs = Seq((1L, "a a b", true), (2L, "a c", false))
      .toDF("id", "text", "tgt")
    assert(docs.dsirWeights("id", "text", col("tgt")).head().toSeq ==
      graft.operators.Curation.dsirWeights(docs, "id", "text", col("tgt"))
        .head().toSeq)
    assert(docs.readability("id", "text").collect().toSet ==
      graft.operators.TextOps.readability(docs, "id", "text")
        .collect().toSet)
    val recs = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("id", "f1")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    assert(recs.linkageScore("id", Seq("f1"), pairs, "a", "b")
        .head().toSeq ==
      graft.operators.Dedup.linkageScore(recs, "id", Seq("f1"), pairs,
        "a", "b").head().toSeq)
    val cents = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val pts = Seq((10L, Seq(3.0f, 4.0f))).toDF("vec_id", "embedding")
    assert(pts.simplifiedSilhouette("vec_id", "embedding", cents)
        .head().toSeq ==
      graft.operators.Similarity.simplifiedSilhouette(pts, "vec_id",
        "embedding", cents).head().toSeq)
    val ev2 = Seq(("a", 1000L), ("b", 1500L))
      .toDF("cat", "ms").withColumn("ts", timestamp_millis(col("ms")))
    val ref2 = Seq("a", "b").toDF("c")
    assert(ev2.windowedJsd("cat", "ts", "3 seconds", "0 seconds",
        ref2, "c").collect().toSet ==
      graft.streaming.StreamOps.windowedJsd(ev2, "cat", "ts",
        "3 seconds", "0 seconds", ref2, "c").collect().toSet)
  }

  test("the round-10 facade methods delegate to their operators") {
    val docs = Seq((1L, "aaaa abab"), (2L, "AAAA!")).toDF("doc_id", "text")
    val (fm, fs) = docs.bpeLearn("text", 2)
    val (om, os) = graft.operators.TextOps.bpeLearn(docs, "text", 2)
    assert(fm.collect().toSet == om.collect().toSet)
    assert(fs.collect().toSet == os.collect().toSet)
    assert(docs.bpeEncode("text", fm).collect().toSet ==
      graft.operators.TextOps.bpeEncode(docs, "text", om).collect().toSet)
    val spanDocs = Seq((1L, "a b c d e"), (2L, "x a b c y"))
      .toDF("doc_id", "text")
    assert(spanDocs.dupSpans("doc_id", "text", 3).collect().toSet ==
      graft.operators.Dedup.dupSpans(spanDocs, "doc_id", "text", 3)
        .collect().toSet)
    assert(spanDocs.trimSpans("doc_id", "text", 3).collect().toSet ==
      graft.operators.Dedup.trimSpans(spanDocs, "doc_id", "text", 3)
        .collect().toSet)
    val ratings = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"))
      .toDF("it", "cat")
    assert(ratings.fleissKappa("it", "cat").head().toSeq ==
      graft.operators.Eval.fleissKappa(ratings, "it", "cat").head().toSeq)
    assert(ratings.krippendorffAlpha("it", "cat").head().toSeq ==
      graft.operators.Eval.krippendorffAlpha(ratings, "it", "cat")
        .head().toSeq)
    val files = Seq(("a/x", 100L), ("b/y", 250L)).toDF("p", "b")
    assert(files.compactionPlan("p", "b", 200L).collect().toSet ==
      graft.sources.CorpusLayout.compactionPlan(files, "p", "b", 200L)
        .collect().toSet)
  }

  test("facade: the fourth..ninth-wave operators delegate verbatim") {
    val docs = Seq(("s1", "a b a"), ("s2", "b c")).toDF("source", "text")
    assert(docs.kmvDistinct("source", "text", 2).collect().toSet ==
      graft.operators.Sketches.kmvDistinct(docs, "source", "text", 2)
        .collect().toSet)
    assert(docs.goodTuring("source", "text").collect().toSet ==
      graft.operators.TextOps.goodTuring(docs, "source", "text")
        .collect().toSet)
    assert(docs.textRank("text", Seq("c"), 2, 5).collect().toSeq ==
      graft.operators.TextOps.textRank(docs, "text", Seq("c"), 2, 5)
        .collect().toSeq)
    val arms = Seq((0L, "x", 10L), (1L, "x", 20L), (0L, "y", 30L),
      (1L, "y", 5L)).toDF("uid", "st", "v")
    assert(arms.mannWhitney(col("uid") === 0, "v").head().toSeq ==
      graft.operators.CoreOps.mannWhitney(arms, col("uid") === 0, "v")
        .head().toSeq)
    assert(arms.stratifiedAte("st", col("uid") === 0, "v").head().toSeq ==
      graft.operators.CoreOps.stratifiedAte(arms, "st", col("uid") === 0,
        "v").head().toSeq)
    val preds = Seq(("t", "t", "t", "x"), ("t", "t", "x", "t"))
      .toDF("truth", "p1", "p2", "p3")
    assert(preds.cochranQ("truth", Seq("p1", "p2", "p3")).head().toSeq ==
      graft.operators.Eval.cochranQ(preds, "truth", Seq("p1", "p2", "p3"))
        .head().toSeq)
    val emb = Seq((1L, Seq(1.0f, 2.0f), 0), (2L, Seq(2.0f, 4.0f), 1),
      (3L, Seq(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    assert(emb.covarianceScaled("embedding", 2).collect().toSet ==
      graft.operators.Similarity.covarianceScaled(emb, "embedding", 2)
        .collect().toSet)
    assert(emb.hardNegatives(emb.filter(col("vec_id") === 1), "vec_id",
        "embedding", "label", 2).collect().toSet ==
      graft.operators.Similarity.hardNegatives(emb,
        emb.filter(col("vec_id") === 1), "vec_id", "embedding", "label", 2)
        .collect().toSet)
    val iso = Seq((1L, true), (5L, false), (9L, true)).toDF("s", "y")
    assert(iso.isotonicCalibration("s", col("y"), 0L, 10L, 2)
        .collect().toSet ==
      graft.operators.CoreOps.isotonicCalibration(iso, "s", col("y"),
        0L, 10L, 2).collect().toSet)
    val fl = Seq((1L, 0L, 5L), (2L, 3L, 8L)).toDF("fid", "lo", "hi")
    assert(fl.clusteringDepth("fid", "lo", "hi", 4L, 8).collect().toSet ==
      graft.sources.CorpusLayout.clusteringDepth(fl, "fid", "lo", "hi",
        4L, 8).collect().toSet)
    val st = Seq(("p", 0L, 10L), ("p", 1L, 8L), ("q", 0L, 2L),
      ("q", 1L, 1L)).toDF("st", "arm", "v")
    assert(st.simpsonCheck("st", col("arm") === 0, "v").head().toSeq ==
      graft.operators.CoreOps.simpsonCheck(st, "st", col("arm") === 0, "v")
        .head().toSeq)
    val ser = (0L to 9L).map(i => ("k", i, i % 2)).toDF("key", "idx", "v")
    assert(ser.seasonalStrength("key", "idx", "v", 2, 1).head().toSeq ==
      graft.operators.CoreOps.seasonalStrength(ser, "key", "idx", "v",
        2, 1).head().toSeq)
  }

  test("the round-11 facade methods delegate to their operators") {
    val docs = Seq((1L, "aa aa ab"), (2L, "ba aa")).toDF("doc_id", "text")
    assert(docs.unigramWords("text").collect().toSet ==
      graft.operators.Unigram.words(docs, "text", 12).collect().toSet)
    val (fv, fl) = docs.unigramLearn("text", 2, 8)
    val (ov, ol) = graft.operators.Unigram.learn(docs, "text", 2, 8, 12, 4)
    assert(fv.collect().toSet == ov.collect().toSet)
    assert(fl == ol)
    val words = Seq(("ba", 1L)).toDF("word", "freq")
    assert(words.unigramSegmented(ov).collect().toSet ==
      graft.operators.Unigram.segmented(words, ov, 12, 4).collect().toSet)
    val train = Seq((1L, 9L, 2L), (0L, 1L, 3L), (1L, 8L, 1L), (0L, 2L, 2L))
      .toDF("y", "x1", "x2")
    val (fh, fw) = train.logregFit("y", Seq("x1", "x2"), 2, 100000L)
    val (oh, ow) = graft.operators.LogReg.fit(train, "y", Seq("x1", "x2"),
      2, 100000L)
    assert(fh.map(_.toSeq) == oh.map(_.toSeq) && fw.toSeq == ow.toSeq)
    assert(train.logregScore("y", Seq("x1", "x2"), ow, Seq.empty)
        .collect().toSet ==
      graft.operators.LogReg.score(train, "y", Seq("x1", "x2"), ow,
        Seq.empty).collect().toSet)
    assert(train.logregScoreUnlabeled(Seq("x1", "x2"), ow, Seq.empty)
        .collect().toSet ==
      graft.operators.LogReg.scoreUnlabeled(train, Seq("x1", "x2"), ow,
        Seq.empty).collect().toSet)
  }
}
