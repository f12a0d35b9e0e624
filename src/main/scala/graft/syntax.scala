package graft

import org.apache.spark.sql.{Column, DataFrame}
import graft.operators._

/** Fluent entry point: `import graft.syntax._` and every engine operator
  * hangs off DataFrame, so a pipeline reads like the reference's chained
  * DataStream style while remaining plain Column-expression Spark:
  *
  * {{{
  * import graft.syntax._
  * events.tumblingCount("ts", "3 seconds")              // E1
  * events.runningSum("user", "ts", "id", "v", "total")  // E2
  * docs.exactDedup("doc_id", "text")                    // dedup tier
  * }}}
  */
object syntax {

  implicit class GraftDataFrameOps(private val df: DataFrame) extends AnyVal {

    // ── §2.5 aggregations ──────────────────────────────────────────────────
    def keyedSum(key: String, value: String, out: String): DataFrame =
      CoreOps.keyedSum(df, key, value, out)
    def runningSum(key: String, ts: String, tiebreak: String, value: String,
                   out: String): DataFrame =
      CoreOps.runningSum(df, key, ts, tiebreak, value, out)
    def runningSumSalted(key: String, ts: String, tiebreak: String, value: String,
                         out: String, buckets: Int = 0): DataFrame =
      CoreOps.runningSumSalted(df, key, ts, tiebreak, value, out, buckets)
    def runningSumAuto(key: String, ts: String, tiebreak: String, value: String,
                       out: String, saltThreshold: Double = 0.05): DataFrame =
      CoreOps.runningSumAuto(df, key, ts, tiebreak, value, out, saltThreshold)
    def tumblingCount(ts: String, duration: String): DataFrame =
      CoreOps.tumblingCount(df, ts, duration)
    def slidingSummary(ts: String, size: String, slide: String): DataFrame =
      CoreOps.slidingSummary(df, ts, size, slide)
    def sessionSummary(key: String, ts: String, gap: String): DataFrame =
      CoreOps.sessionSummary(df, key, ts, gap)
    def keyedWindowCount(keys: Seq[String], ts: String, duration: String): DataFrame =
      CoreOps.keyedWindowCount(df, keys, ts, duration)

    // ── §2.6–§2.8 joins, split, merge ─────────────────────────────────────
    def windowJoin(right: DataFrame, key: String, ts: String, duration: String,
                   leftProj: Seq[(String, String)],
                   rightProj: Seq[(String, String)]): DataFrame =
      CoreOps.windowJoin(df, right, key, ts, duration, leftProj, rightProj)
    def asofJoin(right: DataFrame, key: String, ts: String,
                 rightCols: Seq[String]): DataFrame =
      CoreOps.asofJoin(df, right, key, ts, rightCols)
    def asofJoinTolerant(right: DataFrame, key: String, ts: String,
                         rightCols: Seq[String], maxAgeMs: Long): DataFrame =
      CoreOps.asofJoinTolerant(df, right, key, ts, rightCols, maxAgeMs)
    def rangeJoin(intervals: DataFrame, pointTs: String, startCol: String,
                  endCol: String, grainMs: Long,
                  keys: Seq[String] = Nil): DataFrame =
      CoreOps.rangeJoin(df, pointTs, intervals, startCol, endCol, grainMs, keys)
    def bloomSemiJoin(small: DataFrame, bigKey: String, smallKey: String,
                      expectedItems: Long, fpp: Double = 1e-3): DataFrame =
      CoreOps.bloomSemiJoin(df, small, bigKey, smallKey, expectedItems, fpp)
    def bloomAntiJoin(small: DataFrame, bigKey: String, smallKey: String,
                      expectedItems: Long, fpp: Double = 1e-3): DataFrame =
      CoreOps.bloomAntiJoin(df, small, bigKey, smallKey, expectedItems, fpp)
    def eventSequence(key: String, ts: String, tiebreak: String,
                      payload: String, maxEvents: Int,
                      sep: String = ">"): DataFrame =
      CoreOps.eventSequence(df, key, ts, tiebreak, payload, maxEvents, sep)
    def heavyHittersCms(key: String, d: Int, w: Int): DataFrame =
      CoreOps.heavyHittersCms(df, key, d, w)
    def heavyHittersCms(key: String, d: Int, w: Int,
                        candidates: DataFrame): DataFrame =
      CoreOps.heavyHittersCms(df, key, d, w, candidates)
    def sessionize(key: String, ts: String, tiebreak: String,
                   gapMs: Long): DataFrame =
      CoreOps.sessionize(df, key, ts, tiebreak, gapMs)
    def rankNormalize(group: String, value: String, out: String): DataFrame =
      CoreOps.rankNormalize(df, group, value, out)
    def robustOutliers(group: String, value: String, cutoff: Double): DataFrame =
      CoreOps.robustOutliers(df, group, value, cutoff)
    def robustOutliersChecked(group: String, value: String,
                              accuracy: Int = 10000): DataFrame =
      CoreOps.robustOutliersChecked(df, group, value, accuracy)
    def exactCorr(group: String, x: String, y: String): DataFrame =
      CoreOps.exactCorr(df, group, x, y)
    def exactRegression(group: String, x: String, y: String): DataFrame =
      CoreOps.exactRegression(df, group, x, y)
    def splitBy(pred: Column): (DataFrame, DataFrame) = CoreOps.splitBy(df, pred)
    def taggedUnion(tag: String, other: DataFrame, otherTag: String,
                    cols: Seq[String]): DataFrame =
      CoreOps.taggedUnion(df, tag, other, otherTag, cols)

    // ── §2.9/§2.10 stateful + event time (batch twins) ────────────────────
    def intervalAlert(key: String, ts: String, tiebreak: String, typeCol: String,
                      deleteType: String, thresholdMs: Long): DataFrame =
      StatefulTwins.intervalAlert(df, key, ts, tiebreak, typeCol, deleteType, thresholdMs)
    def actionDurations(key: String, ts: String, tiebreak: String, typeCol: String,
                        loginType: String, logoutType: String): DataFrame =
      StatefulTwins.actionDurations(df, key, ts, tiebreak, typeCol, loginType, logoutType)
    def withLateFlag(ts: String, arrivalCol: String, tiebreak: String,
                     latenessMs: Long): DataFrame =
      StatefulTwins.withLateFlag(df, ts, arrivalCol, tiebreak, latenessMs)

    def keyProfile(key: String, topN: Int): DataFrame =
      CoreOps.keyProfile(df, key, topN)
    def groupTopK(groups: Seq[String], order: Column, tiebreak: String,
                  k: Int): DataFrame =
      CoreOps.groupTopK(df, groups, order, tiebreak, k)
    def quantileProfile(group: String, value: String, ps: Seq[Double]): DataFrame =
      CoreOps.quantileProfile(df, group, value, ps)
    def quantileProfileChecked(group: String, value: String, ps: Seq[Double],
                               accuracy: Int = 10000): DataFrame =
      CoreOps.quantileProfileChecked(df, group, value, ps, accuracy)

    // ── training-data extensions ──────────────────────────────────────────
    def exactDedup(id: String, text: String): DataFrame =
      Dedup.exactDedup(df, id, text)
    def dedupProfile(text: String, dims: Seq[String]): DataFrame =
      Dedup.dedupProfile(df, text, dims)
    def dedupProfileChecked(text: String, dims: Seq[String], rsd: Double = 0.05,
                            tol: Double = 0.15): DataFrame =
      Dedup.dedupProfileChecked(df, text, dims, rsd, tol)
    def minhashPairs(id: String, text: String, k: Int, bands: Int,
                     rowsPerBand: Int, minJaccard: Double): DataFrame =
      Dedup.minhashPairs(df, id, text, k, bands, rowsPerBand, minJaccard)
    def lshJaccardPairs(id: String, text: String, k: Int, bands: Int,
                        rowsPerBand: Int, minJaccard: Double): DataFrame =
      Dedup.lshJaccardPairs(df, id, text, k, bands, rowsPerBand, minJaccard)
    def winnowFingerprints(id: String, text: String, k: Int, w: Int): DataFrame =
      Dedup.winnowFingerprints(df, id, text, k, w)
    def winnowPairs(id: String, text: String, k: Int, w: Int,
                    minJaccard: Double): DataFrame =
      Dedup.winnowPairs(df, id, text, k, w, minJaccard)
    def dupClusters(aCol: String, bCol: String, maxIters: Int = 30): DataFrame =
      Dedup.dupClusters(df, aCol, bCol, maxIters)
    def keepCanonical(id: String, clusters: DataFrame): DataFrame =
      Dedup.keepCanonical(df, id, clusters)
    def keepBest(id: String, clusters: DataFrame, priority: Column): DataFrame =
      Dedup.keepBest(df, id, clusters, priority)
    def dedupReport(id: String, clusters: DataFrame, dim: String): DataFrame =
      Dedup.dedupReport(df, id, clusters, dim)
    def segmentPairs(id: String, str: String, maxDist: Int): DataFrame =
      Dedup.segmentPairs(df, id, str, maxDist)
    def segmentJoin(right: DataFrame, idL: String, strL: String,
                    idR: String, strR: String, maxDist: Int): DataFrame =
      Dedup.segmentJoin(df, right, idL, strL, idR, strR, maxDist)
    def lshJaccardJoin(right: DataFrame, idL: String, textL: String,
                       idR: String, textR: String, k: Int, bands: Int,
                       rowsPerBand: Int, minJaccard: Double): DataFrame =
      Dedup.lshJaccardJoin(df, right, idL, textL, idR, textR, k, bands,
        rowsPerBand, minJaccard)
    def contaminationPairs(bench: DataFrame, id: String, text: String, k: Int,
                           w: Int, minContainment: Double): DataFrame =
      Dedup.contaminationPairs(df, bench, id, text, k, w, minContainment)
    def hashSample(id: String, rate: Double, salt: String = ""): DataFrame =
      Sampling.hashSample(df, id, rate, salt)
    def hashSampleWeighted(id: String, rate: Column, salt: String = ""): DataFrame =
      Sampling.hashSampleWeighted(df, id, rate, salt)
    def negativeSample(id: String, anchors: DataFrame, clusters: DataFrame,
                       poolSize: Int, k: Int, salt: String = ""): DataFrame =
      Sampling.negativeSample(df, id, anchors, clusters, poolSize, k, salt)
    def stratifiedSample(stratum: String, id: String, rates: Map[String, Double],
                         defaultRate: Double, salt: String = ""): DataFrame =
      Sampling.stratifiedSample(df, stratum, id, rates, defaultRate, salt)
    def curate(id: String, text: String, stopwords: Seq[String],
               profiles: Map[String, Seq[String]], lang: String,
               minTokens: Long, maxTokens: Long, minStopRatio: Double): DataFrame =
      Curation.curate(df, id, text, stopwords, profiles, lang,
        minTokens, maxTokens, minStopRatio)
    def orderedPrefixSumDecimal(ord: Column, tiebreak: String, value: String,
                                out: String): DataFrame =
      CoreOps.orderedPrefixSumDecimal(df, ord, tiebreak, value, out)
    def concatPack(ord: Column, id: String, tokensCol: String,
                   packTokens: Long): DataFrame =
      Curation.concatPack(df, ord, id, tokensCol, packTokens)
    def batchByLength(id: String, tokensCol: String, boundaries: Seq[Long],
                      batchSize: Int): DataFrame =
      Curation.batchByLength(df, id, tokensCol, boundaries, batchSize)
    def orderedPrefixSumsKeyed(key: Column, ord: Column, tiebreak: String,
                               sums: Seq[(String, String)],
                               nullsLast: Boolean = false): DataFrame =
      CoreOps.orderedPrefixSumsKeyed(df, key, ord, tiebreak, sums, nullsLast)
    def ntileKeyed(key: Column, ord: Column, tiebreak: String, k: Int,
                   out: String, nullsLast: Boolean = false): DataFrame =
      CoreOps.ntileKeyed(df, key, ord, tiebreak, k, out, nullsLast)
    def orderedPrefixSum(ord: Column, tiebreak: String, value: String,
                         out: String): DataFrame =
      CoreOps.orderedPrefixSum(df, ord, tiebreak, value, out)
    def tokenBudget(id: String, tokensCol: String, priorityCol: String,
                    budget: Long): DataFrame =
      Curation.tokenBudget(df, id, tokensCol, priorityCol, budget)
    def tokenStats(id: String, text: String): DataFrame =
      TextOps.tokenStats(df, id, text)
    def qualityScore(id: String, text: String, stopwords: Seq[String]): DataFrame =
      TextOps.qualityScore(df, id, text, stopwords)
    def bm25(id: String, text: String, terms: Seq[String],
             k1: Double = 1.2, b: Double = 0.75): DataFrame =
      TextOps.bm25(df, id, text, terms, k1, b)
    def bm25Explode(id: String, text: String, terms: DataFrame,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame =
      TextOps.bm25Explode(df, id, text, terms, k1, b)
    def tfidfTop(id: String, text: String, topK: Int): DataFrame =
      TextOps.tfidfTop(df, id, text, topK)
    def latestState(keys: Seq[String], ord: Seq[String]): DataFrame =
      CoreOps.latestState(df, keys, ord)
    def numericProfile(cols: Seq[String]): DataFrame =
      CoreOps.numericProfile(df, cols)
    def corrMatrix(cols: Seq[String]): DataFrame =
      CoreOps.corrMatrix(df, cols)
    def retentionCohorts(key: String, ts: String, grainMs: Long): DataFrame =
      CoreOps.retentionCohorts(df, key, ts, grainMs)
    def constraintReport(rowChecks: Seq[(String, Column)],
                         uniqueKeys: Seq[String] = Seq.empty): DataFrame =
      CoreOps.constraintReport(df, rowChecks, uniqueKeys)
    def snapshotDiff(newSnap: DataFrame, id: String,
                     contentCols: Seq[String]): DataFrame =
      CoreOps.snapshotDiff(df, newSnap, id, contentCols)
    def bigramLm(text: String, topN: Int): DataFrame =
      TextOps.bigramLm(df, text, topN)
    def lmScore(id: String, text: String, lm: DataFrame): DataFrame =
      TextOps.lmScore(df, id, text, lm)
    def oovRate(id: String, text: String, n: Int, topN: Int): DataFrame =
      TextOps.oovRate(df, id, text, n, topN)
    def charHistogram(text: String, topN: Int): DataFrame =
      TextOps.charHistogram(df, text, topN)
    def lexicalDiversity(id: String, text: String): DataFrame =
      TextOps.lexicalDiversity(df, id, text)
    def sourceOverlap(group: String, text: String, n: Int,
                      maxDfGroups: Int): DataFrame =
      TextOps.sourceOverlap(df, group, text, n, maxDfGroups)
    def splitAssign(id: String, splits: Seq[(String, Double)],
                    out: String = "split", salt: String = ""): DataFrame =
      Sampling.splitAssign(df, id, splits, out, salt)
    def kfoldAssign(id: String, k: Int, out: String = "fold",
                    salt: String = ""): DataFrame =
      Sampling.kfoldAssign(df, id, k, out, salt)
    def languageId(id: String, text: String,
                   profiles: Map[String, Seq[String]]): DataFrame =
      TextOps.languageId(df, id, text, profiles)
    def ngramVocab(text: String, n: Int, topN: Int): DataFrame =
      TextOps.ngramVocab(df, text, n, topN)
    def cosineTopK(queries: DataFrame, id: String, vec: String, k: Int): DataFrame =
      Similarity.bruteForceTopK(df, queries, id, vec, k)
    def knnLabelDisagreement(queries: DataFrame, id: String, vec: String,
                             label: String, k: Int): DataFrame =
      Similarity.knnLabelDisagreement(df, queries, id, vec, label, k)
    def centroidDrift(other: DataFrame, group: String, id: String,
                      vec: String, dims: Int): DataFrame =
      Similarity.centroidDrift(df, other, group, id, vec, dims)
    def rrfFuse(other: DataFrame, keys: Seq[String], id: String,
                rank: String, kRrf: Int = 60): DataFrame =
      Similarity.rrfFuse(df, other, keys, id, rank, kRrf)
    def randomProject(vec: String, dims: Int, m: Int, planeOffset: Int = 0,
                      prefix: String = "rp_"): DataFrame =
      Similarity.randomProject(df, vec, dims, m, planeOffset, prefix)
    def lshTopK(queries: DataFrame, id: String, vec: String, dims: Int,
                planes: Int, k: Int): DataFrame =
      Similarity.lshTopK(df, queries, id, vec, dims, planes, k)
    def ivfTopK(queries: DataFrame, centroids: DataFrame, id: String, vec: String,
                k: Int, nprobe: Int): DataFrame =
      Similarity.ivfTopK(df, queries, centroids, id, vec, k, nprobe)
    def kmeansCentroids(id: String, vec: String, dims: Int, nlist: Int,
                        iters: Int): DataFrame =
      Similarity.kmeansCentroids(df, id, vec, dims, nlist, iters)
    def kmeansCentroidsSampled(id: String, vec: String, dims: Int, nlist: Int,
                               iters: Int, mod: Int): DataFrame =
      Similarity.kmeansCentroidsSampled(df, id, vec, dims, nlist, iters, mod)
    def groupCentroids(group: String, id: String, vec: String,
                       dims: Int): DataFrame =
      Similarity.groupCentroids(df, group, id, vec, dims)
    def transitionMatrix2(key: String, ts: String, tiebreak: String,
                          state: String): DataFrame =
      CoreOps.transitionMatrix2(df, key, ts, tiebreak, state)
    def transitionMatrix(key: String, ts: String, tiebreak: String,
                         state: String): DataFrame =
      CoreOps.transitionMatrix(df, key, ts, tiebreak, state)
    def scd2(key: String, ts: String, tiebreak: String): DataFrame =
      CoreOps.scd2(df, key, ts, tiebreak)
    def valueHistogram(value: String, lo: Double, width: Double,
                       nBins: Int): DataFrame =
      CoreOps.valueHistogram(df, value, lo, width, nBins)
    def giniImpurity(group: String, label: String): DataFrame =
      CoreOps.giniImpurity(df, group, label)
    def triangleStats(src: String, dst: String): DataFrame =
      Graph.triangleStats(df, src, dst)
    def skylineMax2D(x: String, y: String): DataFrame =
      CoreOps.skylineMax2D(df, x, y)
    def intervalUnionLength(key: String, start: String, end: String): DataFrame =
      CoreOps.intervalUnionLength(df, key, start, end)
    def profileDiff(other: DataFrame, cols: Seq[String]): DataFrame =
      CoreOps.profileDiff(df, other, cols)
    def chiSquareIndependence(a: String, b: String): DataFrame =
      CoreOps.chiSquareIndependence(df, a, b)
    def cramersV(a: String, b: String): DataFrame =
      CoreOps.cramersV(df, a, b)
    def categoricalDrift(other: DataFrame, category: String): DataFrame =
      CoreOps.categoricalDrift(df, other, category)
    def rankSumAuc(other: DataFrame, value: String): DataFrame =
      CoreOps.rankSumAuc(df, other, value)
    def ksStatistic(other: DataFrame, value: String): DataFrame =
      CoreOps.ksStatistic(df, other, value)
    def ksStatisticByGroup(other: DataFrame, group: String,
                           value: String): DataFrame =
      CoreOps.ksStatisticByGroup(df, other, group, value)
    def rankSumAucByGroup(other: DataFrame, group: String,
                          value: String): DataFrame =
      CoreOps.rankSumAucByGroup(df, other, group, value)
    def topCategoriesWithOther(category: String, k: Int,
                               otherLabel: String = "__other__"): DataFrame =
      CoreOps.topCategoriesWithOther(df, category, k, otherLabel)
    def maxDrawdown(key: String, ts: String, tiebreak: String,
                    value: String): DataFrame =
      CoreOps.maxDrawdown(df, key, ts, tiebreak, value)
    def cusumChangepoint(key: String, ts: String, tiebreak: String,
                         value: String): DataFrame =
      CoreOps.cusumChangepoint(df, key, ts, tiebreak, value)
    def benfordFirstDigit(value: String): DataFrame =
      CoreOps.benfordFirstDigit(df, value)
    def weightedMedian(group: String, value: String,
                       weight: String): DataFrame =
      CoreOps.weightedMedian(df, group, value, weight)
    def welchTTest(cohortA: Column, value: String): DataFrame =
      CoreOps.welchTTest(df, cohortA, value)
    def trimmedMean(group: String, value: String, tiebreak: String,
                    trimPerMille: Int): DataFrame =
      CoreOps.trimmedMean(df, group, value, tiebreak, trimPerMille)
    def expandingAnomaly(key: String, ts: String, tiebreak: String,
                         value: String, k: Int, minPrior: Int): DataFrame =
      CoreOps.expandingAnomaly(df, key, ts, tiebreak, value, k, minPrior)
    def quantileNormalize(group: String, value: String, tiebreak: String,
                          grainRanks: Long = 1024L): DataFrame =
      CoreOps.quantileNormalize(df, group, value, tiebreak, grainRanks)
    def welchTTestByGroup(group: String, cohortA: Column,
                          value: String): DataFrame =
      CoreOps.welchTTestByGroup(df, group, cohortA, value)
    def calibrationCurve(score: String, outcome: Column, lo: Long, hi: Long,
                         nBins: Int): DataFrame =
      CoreOps.calibrationCurve(df, score, outcome, lo, hi, nBins)
    def exactRegression2(group: String, y: String, x1: String,
                         x2: String): DataFrame =
      CoreOps.exactRegression2(df, group, y, x1, x2)
    def journeyPattern(key: String, ts: String, tiebreak: String,
                       payload: String, maxEvents: Int, pattern: String,
                       sep: String = ">"): DataFrame =
      CoreOps.journeyPattern(df, key, ts, tiebreak, payload, maxEvents,
        pattern, sep)
    def longestStreak(key: String, ts: String,
                      dayMs: Long = 86400000L): DataFrame =
      CoreOps.longestStreak(df, key, ts, dayMs)
    def modeByGroup(group: String, value: String): DataFrame =
      CoreOps.modeByGroup(df, group, value)
    def cohortValueCurve(key: String, ts: String, value: String,
                         grainMs: Long): DataFrame =
      CoreOps.cohortValueCurve(df, key, ts, value, grainMs)
    def targetEncodeLoo(category: String, outcome: String,
                        out: String): DataFrame =
      CoreOps.targetEncodeLoo(df, category, outcome, out)
    def abProportionTest(armA: Column, success: Column): DataFrame =
      CoreOps.abProportionTest(df, armA, success)
    def giniConcentration(key: String, value: String): DataFrame =
      CoreOps.giniConcentration(df, key, value)
    def hhiConcentration(group: String, key: String,
                         value: String): DataFrame =
      CoreOps.hhiConcentration(df, group, key, value)
    def interEventGaps(group: String, key: String, ts: String,
                       tiebreak: String, ps: Seq[Double]): DataFrame =
      CoreOps.interEventGaps(df, group, key, ts, tiebreak, ps)
    def ohlcBars(key: String, ts: String, tiebreak: String, value: String,
                 barMs: Long): DataFrame =
      CoreOps.ohlcBars(df, key, ts, tiebreak, value, barMs)
    def rollingActiveUsers(key: String, ts: String, windowDays: Int,
                           dayMs: Long = 86400000L): DataFrame =
      CoreOps.rollingActiveUsers(df, key, ts, windowDays, dayMs)
    def winsorizeRank(group: String, value: String, lo: Double, hi: Double,
                      out: String): DataFrame =
      CoreOps.winsorizeRank(df, group, value, lo, hi, out)
    def categoricalDriftByGroup(group: String, category: String,
                                ref: DataFrame): DataFrame =
      CoreOps.categoricalDriftByGroup(df, group, category, ref)
    def timeWeightedAvg(key: String, ts: String, tiebreak: String,
                        value: String): DataFrame =
      CoreOps.timeWeightedAvg(df, key, ts, tiebreak, value)
    def minMaxNormalize(group: String, value: String, out: String): DataFrame =
      CoreOps.minMaxNormalize(df, group, value, out)
    def firstTouchAttribution(key: String, ts: String, tiebreak: String,
                              attr: String, gapMs: Long,
                              isConversion: Column): DataFrame =
      CoreOps.firstTouchAttribution(df, key, ts, tiebreak, attr, gapMs,
        isConversion)
    def basketLift(basket: String, item: String, minSupport: Long,
                   maxBasketSize: Int): DataFrame =
      Graph.basketLift(df, basket, item, minSupport, maxBasketSize)
    // ── information theory / drift ─────────────────────────────────────────
    def entropyByGroup(group: String, cat: String): DataFrame =
      InfoTheory.entropy(df, group, cat)
    def klDrift(cat: String, isP: Column): DataFrame =
      InfoTheory.klDrift(df, cat, isP)
    def hellingerDrift(cat: String, isP: Column): DataFrame =
      InfoTheory.hellingerDrift(df, cat, isP)
    def mutualInfo(a: String, b: String): DataFrame =
      InfoTheory.mutualInfo(df, a, b)
    def weightOfEvidence(cat: String, isP: Column): DataFrame =
      InfoTheory.weightOfEvidence(df, cat, isP)
    def informationValue(cat: String, isP: Column): DataFrame =
      InfoTheory.informationValue(df, cat, isP)
    def psi(cat: String, isP: Column): DataFrame =
      InfoTheory.psi(df, cat, isP)

    // ── classifier evaluation ─────────────────────────────────────────────
    def naiveBayes(id: String, feat: String, label: String): DataFrame =
      Eval.naiveBayes(df, id, feat, label)
    def confusionMatrix(trueCol: String, predCol: String): DataFrame =
      Eval.confusionMatrix(df, trueCol, predCol)
    def classMetrics(trueCol: String, predCol: String): DataFrame =
      Eval.classMetrics(df, trueCol, predCol)
    def cohenKappa(trueCol: String, predCol: String): DataFrame =
      Eval.cohenKappa(df, trueCol, predCol)
    def rocCurve(score: String, isPos: Column): DataFrame =
      Eval.rocCurve(df, score, isPos)
    def youdenPoint(score: String, isPos: Column): DataFrame =
      Eval.youdenPoint(df, score, isPos)
    def gainsTable(score: String, isPos: Column, nBuckets: Int): DataFrame =
      Eval.gainsTable(df, score, isPos, nBuckets)
    def expectedCalibrationError(score: String, outcome: Column, lo: Long,
                                 hi: Long, nBins: Int): DataFrame =
      Eval.expectedCalibrationError(df, score, outcome, lo, hi, nBins)
    def conformalInterval(group: String, value: String, id: String,
                          alphaPct: Int = 10,
                          salt: String = "conf"): DataFrame =
      Eval.conformalInterval(df, group, value, id, alphaPct, salt)

    // ── round-8 relational / graph / trend additions ──────────────────────
    def kaplanMeier(key: String, ts: String, churnGapDays: Int,
                    cohortDays: Int): DataFrame =
      CoreOps.kaplanMeier(df, key, ts, churnGapDays, cohortDays)
    def joinSizeEstimate(key: String, other: DataFrame, otherKey: String,
                         d: Int, w: Int): DataFrame =
      CoreOps.joinSizeEstimate(df, key, other, otherKey, d, w)
    def theilSen(x: String, y: String, maxPoints: Int = 10000): DataFrame =
      CoreOps.theilSen(df, x, y, maxPoints)
    def modularity(src: String, dst: String, labels: DataFrame,
                   node: String, community: String): DataFrame =
      Graph.modularity(df, src, dst, labels, node, community)
    def goldenRecord(id: String, clusters: DataFrame, longest: String,
                     majority: String, minimum: String): DataFrame =
      Dedup.goldenRecord(df, id, clusters, longest, majority, minimum)
    def bootstrapMeanCI(id: String, value: String, resamples: Int = 32,
                        maxK: Int = 8, loQ: Double = 0.025,
                        hiQ: Double = 0.975,
                        salt: String = "boot"): DataFrame =
      Sampling.bootstrapMeanCI(df, id, value, resamples, maxK, loQ, hiQ,
        salt)

    def imageMeta(id: String, bin: String): DataFrame =
      Multimodal.imageMeta(df, id, bin)
    def frameSample(id: String, bin: String, frameBytes: Int,
                    everyNth: Int): DataFrame =
      Multimodal.frameSample(df, id, bin, frameBytes, everyNth)

    // ── round-9 audit / image-dup additions ───────────────────────────────
    def averagePrecision(score: String, isPos: Column): DataFrame =
      Eval.averagePrecision(df, score, isPos)
    def brierScore(score: String, outcome: Column, lo: Long,
                   hi: Long): DataFrame =
      Eval.brierScore(df, score, outcome, lo, hi)
    def imageDupPairs(id: String, bin: String, maxHamming: Int,
                      maxBucket: Int = 10000): DataFrame =
      Multimodal.imageDupPairs(df, id, bin, maxHamming, maxBucket)
    def modalityMix(group: String, format: String): DataFrame =
      Multimodal.modalityMix(df, group, format)
    def captionProfile(id: String, bin: String,
                       captionTokens: Column): DataFrame =
      Multimodal.captionProfile(df, id, bin, captionTokens)
    def windowedHellinger(cat: String, ts: String, windowDur: String,
                          lateness: String, ref: DataFrame,
                          refCat: String): DataFrame =
      graft.streaming.StreamOps.windowedHellinger(df, cat, ts, windowDur,
        lateness, ref, refCat)

    // ── divergence / ranking / curation / linkage additions ───────────────
    def jsDivergence(cat: String, isP: Column): DataFrame =
      InfoTheory.jsDivergence(df, cat, isP)
    def jsDivergenceByGroup(group: String, cat: String,
                            isP: Column): DataFrame =
      InfoTheory.jsDivergenceByGroup(df, group, cat, isP)
    def windowedJsd(cat: String, ts: String, windowDur: String,
                    lateness: String, ref: DataFrame,
                    refCat: String): DataFrame =
      graft.streaming.StreamOps.windowedJsd(df, cat, ts, windowDur,
        lateness, ref, refCat)
    def ndcgPerQuery(query: String, rank: String, rel: Column): DataFrame =
      Eval.ndcgPerQuery(df, query, rank, rel)
    def meanReciprocalRank(query: String, rank: String,
                           rel: Column): DataFrame =
      Eval.meanReciprocalRank(df, query, rank, rel)
    def dsirWeights(id: String, text: String, isTarget: Column): DataFrame =
      Curation.dsirWeights(df, id, text, isTarget)
    def linkageScore(id: String, fields: Seq[String], pairs: DataFrame,
                     aCol: String, bCol: String, mNum: Long = 19L,
                     mDen: Long = 20L): DataFrame =
      Dedup.linkageScore(df, id, fields, pairs, aCol, bCol, mNum, mDen)
    def simplifiedSilhouette(id: String, vec: String,
                             centroids: DataFrame): DataFrame =
      Similarity.simplifiedSilhouette(df, id, vec, centroids)
    def readability(id: String, text: String): DataFrame =
      TextOps.readability(df, id, text)
    def mmrTopK(queries: DataFrame, id: String, vec: String, poolK: Int,
                k: Int, lambdaNum: Int = 1, lambdaDen: Int = 2,
                maxQueries: Int = 16384): DataFrame =
      Similarity.mmrTopK(df, queries, id, vec, poolK, k, lambdaNum,
        lambdaDen, maxQueries)
    def contaminationRate(bench: DataFrame, id: String, text: String,
                          k: Int): DataFrame =
      Dedup.contaminationRate(df, bench, id, text, k)
    def rboOverlap(other: DataFrame, query: String, rank: String,
                   id: String, d: Int, pNum: Int = 1,
                   pDen: Int = 2): DataFrame =
      Similarity.rboOverlap(df, other, query, rank, id, d, pNum, pDen)
    def tClosenessClasses(quasi: Seq[String], sensitive: String,
                          t: Double): DataFrame =
      Curation.tClosenessClasses(df, quasi, sensitive, t)
    def wassersteinDistance(other: DataFrame, value: String): DataFrame =
      CoreOps.wassersteinDistance(df, other, value)
    def embeddingDiversity(id: String, vec: String, sampleMod: Int,
                           maxPoints: Int = 2048): DataFrame =
      Similarity.embeddingDiversity(df, id, vec, sampleMod, maxPoints)
    def diffInDiff(isTreat: Column, isPost: Column,
                   value: String): DataFrame =
      CoreOps.diffInDiff(df, isTreat, isPost, value)
    def cupedAdjustedDiff(isTreat: Column, pre: String,
                          post: String): DataFrame =
      CoreOps.cupedAdjustedDiff(df, isTreat, pre, post)
    def tokenizerFertility(group: String, text: String): DataFrame =
      TextOps.tokenizerFertility(df, group, text)
    def langMixture(id: String, text: String,
                    profiles: Map[String, Seq[String]], window: Int,
                    stride: Int): DataFrame =
      TextOps.langMixture(df, id, text, profiles, window, stride)
    def energyProfile(id: String, bin: String, frameBytes: Int,
                      silenceThreshold: Int): DataFrame =
      Multimodal.energyProfile(df, id, bin, frameBytes, silenceThreshold)
    def silenceTrim(id: String): DataFrame =
      Multimodal.silenceTrim(df, id)
    def sceneChanges(id: String, frameBytes: Int,
                     jumpThreshold: Long): DataFrame =
      Multimodal.sceneChanges(df, id, frameBytes, jumpThreshold)
    def weightedSampleK(id: String, weight: String, k: Int,
                        salt: String = "wsk"): DataFrame =
      Sampling.weightedSampleK(df, id, weight, k, salt)
    def conditionalEntropy(fromCol: String, nCol: String): DataFrame =
      InfoTheory.conditionalEntropy(df, fromCol, nCol)
    def wassersteinByGroup(other: DataFrame, group: String,
                           value: String): DataFrame =
      CoreOps.wassersteinByGroup(df, other, group, value)
    def nelsonAalen(key: String, ts: String, churnGapDays: Int,
                    cohortDays: Int): DataFrame =
      CoreOps.nelsonAalen(df, key, ts, churnGapDays, cohortDays)
    def lorenzCurve(value: String): DataFrame =
      CoreOps.lorenzCurve(df, value)
    // round-10 tier
    def bpeLearn(text: String, iters: Int,
                 maxWordLen: Int = 32): (DataFrame, DataFrame) =
      TextOps.bpeLearn(df, text, iters, maxWordLen)
    def bpeEncode(text: String, merges: DataFrame,
                  maxWordLen: Int = 32): DataFrame =
      TextOps.bpeEncode(df, text, merges, maxWordLen)
    def dupSpans(id: String, text: String, k: Int,
                 minOccurrences: Int = 2): DataFrame =
      Dedup.dupSpans(df, id, text, k, minOccurrences)
    def dupSpanList(id: String, text: String, k: Int,
                    minOccurrences: Int = 2): DataFrame =
      Dedup.dupSpanList(df, id, text, k, minOccurrences)
    def trimSpans(id: String, text: String, k: Int,
                  minOccurrences: Int = 2): DataFrame =
      Dedup.trimSpans(df, id, text, k, minOccurrences)
    def contaminationSpans(bench: DataFrame, id: String, text: String,
                           k: Int): DataFrame =
      Dedup.contaminationSpans(df, bench, id, text, k)
    def trimContamination(bench: DataFrame, id: String, text: String,
                          k: Int): DataFrame =
      Dedup.trimContamination(df, bench, id, text, k)
    def jaccardAllPairsSampled(id: String, text: String, k: Int,
                               tNum: Int, tDen: Int, sampleMod: Int,
                               maxBucket: Int = 10000): DataFrame =
      Dedup.jaccardAllPairsSampled(df, id, text, k, tNum, tDen, sampleMod,
        maxBucket)
    def contaminationRateSampled(bench: DataFrame, id: String,
                                 text: String, k: Int,
                                 sampleMod: Int): DataFrame =
      Dedup.contaminationRateSampled(df, bench, id, text, k, sampleMod)
    def modularityWeighted(src: String, dst: String, weight: String,
                           labels: DataFrame, node: String,
                           community: String): DataFrame =
      Graph.modularityWeighted(df, src, dst, weight, labels, node,
        community)
    def fleissKappa(item: String, category: String): DataFrame =
      Eval.fleissKappa(df, item, category)
    def krippendorffAlpha(item: String, category: String): DataFrame =
      Eval.krippendorffAlpha(df, item, category)
    def snapshotTokenDelta(newSnap: DataFrame, id: String,
                           text: String): DataFrame =
      Curation.snapshotTokenDelta(df, newSnap, id, text)
    def compactionPlan(path: String, bytes: String,
                       targetBytes: Long): DataFrame =
      graft.sources.CorpusLayout.compactionPlan(df, path, bytes,
        targetBytes)
    def audioDupPairs(id: String, maxHamming: Int,
                      maxBucket: Int = 10000): DataFrame =
      Multimodal.audioDupPairs(df, id, maxHamming, maxBucket)

    // ── round-10 fourth..ninth waves ─────────────────────────────────────
    def kmvDistinct(group: String, text: String, k: Int): DataFrame =
      Sketches.kmvDistinct(df, group, text, k)
    def kmvOverlap(group: String, text: String, k: Int): DataFrame =
      Sketches.kmvOverlap(df, group, text, k)
    def dpRelease(user: String, category: String, tiebreak: String,
                  clamp: Int, kMin: Long, salt: String = "dp"): DataFrame =
      CoreOps.dpRelease(df, user, category, tiebreak, clamp, kMin, salt)
    def dpSumRelease(user: String, category: String, value: String,
                     clampSum: Long, kMin: Long,
                     salt: String = "dps"): DataFrame =
      CoreOps.dpSumRelease(df, user, category, value, clampSum, kMin, salt)
    def stratifiedAte(stratum: String, treat: Column,
                      value: String): DataFrame =
      CoreOps.stratifiedAte(df, stratum, treat, value)
    def intervalOverlapJoin(lStart: String, lEnd: String, right: DataFrame,
                            rStart: String, rEnd: String, cellMs: Long,
                            maxCells: Int): DataFrame =
      CoreOps.intervalOverlapJoin(df, lStart, lEnd, right, rStart, rEnd,
        cellMs, maxCells)
    def mcnemar(truth: String, predA: String, predB: String): DataFrame =
      Eval.mcnemar(df, truth, predA, predB)
    def cochranQ(truth: String, predCols: Seq[String]): DataFrame =
      Eval.cochranQ(df, truth, predCols)
    def goodTuring(group: String, text: String): DataFrame =
      TextOps.goodTuring(df, group, text)
    def mannWhitney(cohortA: Column, value: String): DataFrame =
      CoreOps.mannWhitney(df, cohortA, value)
    def permutationEntropy(key: String, ts: String, tiebreak: String,
                           value: String): DataFrame =
      CoreOps.permutationEntropy(df, key, ts, tiebreak, value)
    def covarianceScaled(vec: String, dims: Int): DataFrame =
      Similarity.covarianceScaled(df, vec, dims)
    def textRank(text: String, stop: Seq[String], iters: Int, topK: Int,
                 scale: Long = 1000000000000L): DataFrame =
      TextOps.textRank(df, text, stop, iters, topK, scale)
    def logRankTest(key: String, ts: String, armA: Column,
                    churnGapDays: Int): DataFrame =
      CoreOps.logRankTest(df, key, ts, armA, churnGapDays)
    def qiniCurve(score: String, treat: Column, isPos: Column,
                  nBuckets: Int): DataFrame =
      Eval.qiniCurve(df, score, treat, isPos, nBuckets)
    def isotonicCalibration(score: String, outcome: Column, lo: Long,
                            hi: Long, nBins: Int): DataFrame =
      CoreOps.isotonicCalibration(df, score, outcome, lo, hi, nBins)
    def clusteringDepth(id: String, lo: String, hi: String, cellSize: Long,
                        maxCells: Int): DataFrame =
      graft.sources.CorpusLayout.clusteringDepth(df, id, lo, hi, cellSize,
        maxCells)
    def seasonalDecompose(key: String, idx: String, value: String,
                          period: Int, half: Int): DataFrame =
      CoreOps.seasonalDecompose(df, key, idx, value, period, half)
    def chiSquareResiduals(a: String, b: String): DataFrame =
      CoreOps.chiSquareResiduals(df, a, b)
    def hardNegatives(queries: DataFrame, id: String, vec: String,
                      label: String, k: Int,
                      maxQueries: Int = 16384): DataFrame =
      Similarity.hardNegatives(df, queries, id, vec, label, k, maxQueries)
    def projectionOutliers(id: String, vec: String, direction: DataFrame,
                           zK: Int): DataFrame =
      Similarity.projectionOutliers(df, id, vec, direction, zK)
    def rateRatioTest(cohortA: Column, isEvent: Column,
                      exposure: Column): DataFrame =
      Eval.rateRatioTest(df, cohortA, isEvent, exposure)
    def rmstDiff(key: String, ts: String, armA: Column, churnGapDays: Int,
                 tauDays: Long): DataFrame =
      CoreOps.rmstDiff(df, key, ts, armA, churnGapDays, tauDays)
    def kmvWindowNovelty(value: String, ts: String, windowMs: Long,
                         k: Int): DataFrame =
      Sketches.kmvWindowNovelty(df, value, ts, windowMs, k)
    def simpsonCheck(stratum: String, treat: Column,
                     value: String): DataFrame =
      CoreOps.simpsonCheck(df, stratum, treat, value)
    def seasonalStrength(key: String, idx: String, value: String,
                         period: Int, half: Int): DataFrame =
      CoreOps.seasonalStrength(df, key, idx, value, period, half)
    // round-11 tier
    def unigramWords(text: String, maxWordLen: Int = 12): DataFrame =
      Unigram.words(df, text, maxWordLen)
    def unigramLearn(text: String, rounds: Int, seedK: Int,
                     maxWordLen: Int = 12, maxPieceLen: Int = 4)
        : (DataFrame, Seq[(Long, Long)]) =
      Unigram.learn(df, text, rounds, seedK, maxWordLen, maxPieceLen)
    def unigramSegmented(vocab: DataFrame, maxWordLen: Int = 12,
                         maxPieceLen: Int = 4): DataFrame =
      Unigram.segmented(df, vocab, maxWordLen, maxPieceLen)
    def logregFit(label: String, features: Seq[String], rounds: Int,
                  lrPpm: Long): (Seq[Array[Long]], Array[Long]) =
      LogReg.fit(df, label, features, rounds, lrPpm)
    def logregScore(label: String, features: Seq[String],
                    weights: Array[Long], keep: Seq[String]): DataFrame =
      LogReg.score(df, label, features, weights, keep)
    def logregScoreUnlabeled(features: Seq[String], weights: Array[Long],
                             keep: Seq[String]): DataFrame =
      LogReg.scoreUnlabeled(df, features, weights, keep)
  }
}
