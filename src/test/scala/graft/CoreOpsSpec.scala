package graft

import graft.operators.CoreOps
import graft.streaming.StateMachines
import org.apache.spark.sql.functions._

/** Unit suites for the relational/window core (SURVEY §2.3–§2.8) on inline
  * frames with hand-computed expectations. */
class CoreOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: (Long, Long, Long, String, Double)*) =
    rows.toDF("event_id", "ms", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")

  test("keyedSum collapses to one exact total per key") {
    val df = ev((1, 1000, 1, "a", 1.10), (2, 2000, 1, "a", 2.20), (3, 3000, 2, "a", 5.00))
    val got = CoreOps.keyedSum(df, "user_id", "value", "total")
      .orderBy("user_id").as[(Long, Double)].collect.toSeq
    assert(got == Seq((1L, 3.30), (2L, 5.00)))
  }

  test("runningSum emits one output per input in (ts, tiebreak) order") {
    val df = ev((2, 1000, 1, "a", 2.0), (1, 1000, 1, "a", 1.0), (3, 2000, 1, "a", 4.0))
    val got = CoreOps.runningSum(df, "user_id", "ts", "event_id", "value", "run")
      .select("event_id", "run").orderBy("event_id").as[(Long, Double)].collect.toSeq
    // tie at ms=1000 broken by event_id: 1.0, then +2.0, then +4.0
    assert(got == Seq((1L, 1.0), (2L, 3.0), (3L, 7.0)))
  }

  test("tumblingCount buckets by window start with min/max") {
    val df = ev((1, 0, 1, "a", 0), (2, 2999, 1, "a", 0), (3, 3000, 1, "a", 0))
    val got = CoreOps.tumblingCount(df, "ts", "3 seconds")
      .orderBy("window_start_ms").as[(Long, Long, Long, Long)].collect.toSeq
    assert(got == Seq((0L, 2L, 0L, 2999L), (3000L, 1L, 3000L, 3000L)))
  }

  test("slidingSummary assigns each row to size/slide windows") {
    val df = ev((1, 5000, 1, "a", 0))
    val got = CoreOps.slidingSummary(df, "ts", "10 seconds", "5 seconds")
      .orderBy("window_start_ms").as[(Long, Long, Long, Long)].collect.toSeq
    // a row at 5s lands in windows starting at -5s (bucket 0 here: [0,10s)) and [5s,15s)
    assert(got == Seq((0L, 1L, 5000L, 5000L), (5000L, 1L, 5000L, 5000L)))
  }

  test("rangeJoin is half-open [start, end) and guards its internal names") {
    val points = ev((1, 1000, 1, "a", 0), (2, 2000, 1, "a", 0), (3, 1999, 1, "a", 0))
    val iv = Seq((10L, 1000L, 2000L), (11L, 5000L, 5000L)) // second: empty
      .toDF("iid", "s", "e")
    val got = CoreOps.rangeJoin(points, "ts", iv, "s", "e", 700)
      .select("event_id", "iid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (3L, 10L))) // ts=start in, ts=end out
    assertThrows[IllegalArgumentException](
      CoreOps.rangeJoin(points.withColumn("_cell", lit(1)), "ts", iv, "s", "e", 700))
    assertThrows[IllegalArgumentException](
      CoreOps.rangeJoin(points, "ts", iv, "s", "e", 0))
  }

  test("rangeJoin fails loudly on an interval exceeding the cell cap, " +
      "NULL intervals never trip the guard") {
    val points = ev((1, 1000, 1, "a", 0))
    // a year-long interval at a 1-minute grain: ~525k cells >> the cap
    val corrupt = Seq(
      (10L, Option(0L), 365L * 24 * 3600 * 1000L),
      (11L, Option.empty[Long], 99L)).toDF("iid", "s", "e")
    val err = intercept[Exception] {
      CoreOps.rangeJoin(points, "ts", corrupt, "s", "e", 60000).collect()
    }
    assert(err.getMessage.contains("maxCellsPerInterval") ||
      Option(err.getCause).exists(_.getMessage.contains("maxCellsPerInterval")))
    // same data under a deliberate higher cap: runs, and the NULL-start
    // interval row is dropped without ever reaching the assertion
    val ok = CoreOps.rangeJoin(points, "ts", corrupt, "s", "e", 60000,
      maxCellsPerInterval = 1000000L)
    assert(ok.select("iid").as[Long].collect().toSet == Set(10L))
  }

  test("orderedPrefixSumDecimal fails loud on values past the DECIMAL(18,2) " +
      "ingest bound instead of silently NULLing them") {
    val bad = Seq((1L, 5.0), (2L, 1e17)).toDF("id", "v")
    val err = intercept[Exception] {
      CoreOps.orderedPrefixSumDecimal(bad, col("id"), "id", "v", "cum").collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("10^16"))
  }

  test("exactCorr matches the closed-form Pearson r, any partitioning") {
    // y = 2x exactly → r = 1; the 'b' group is anti-correlated
    val rows = Seq((1L, "a", 1L, 2L), (2L, "a", 2L, 4L), (3L, "a", 3L, 6L),
      (4L, "b", 1L, 3L), (5L, "b", 2L, 1L),
      (6L, "c", 7L, 7L)) // singleton: zero variance → NULL
    val df = rows.toDF("id", "g", "x", "y")
    def run(d: org.apache.spark.sql.DataFrame) =
      CoreOps.exactCorr(d, "g", "x", "y")
        .select("g", "corr").as[(String, Option[Double])].collect().toMap
    val got = run(df)
    assert(got("a").contains(1.0) && got("b").contains(-1.0) && got("c").isEmpty)
    assert(run(df.repartition(5)) == got) // decimal sums: order-independent
    assertThrows[IllegalArgumentException](
      CoreOps.exactCorr(df.withColumn("x", col("x").cast("double")), "g", "x", "y"))
    assertThrows[IllegalArgumentException]( // reserved group name
      CoreOps.exactCorr(df.withColumnRenamed("g", "corr"), "corr", "x", "y"))
  }

  test("exactRegression recovers the exact line on collinear points") {
    // y = 2x + 1 exactly → slope 2, intercept 1
    val df = Seq((1L, "a", 1L, 3L), (2L, "a", 2L, 5L), (3L, "a", 3L, 7L),
      (4L, "b", 4L, 4L)) // singleton: NULL line
      .toDF("id", "g", "x", "y")
    val got = CoreOps.exactRegression(df, "g", "x", "y")
      .select("g", "slope", "intercept")
      .as[(String, Option[Double], Option[Double])].collect()
      .map { case (g, s, i) => g -> ((s, i)) }.toMap
    assert(got("a") == ((Some(2.0), Some(1.0))))
    assert(got("b") == ((None, None)))
  }

  test("bloom joins handle an empty/all-NULL small side: semi is empty, " +
      "anti is identity (zero-insertion filter, no extra short-circuit job)") {
    val big = ev((1, 1000, 1, "a", 0), (2, 2000, 2, "b", 0))
    val empty = Seq.empty[Long].toDF("k")
    val allNull = Seq(Option.empty[Long]).toDF("k")
    for (small <- Seq(empty, allNull)) {
      assert(CoreOps.bloomSemiJoin(big, small, "user_id", "k", 4L).count() == 0)
      assert(CoreOps.bloomAntiJoin(big, small, "user_id", "k", 4L)
        .select("event_id").as[Long].collect().toSet == Set(1L, 2L))
    }
  }

  test("bloom joins reject non-integral key columns loudly") {
    val big = ev((1, 1000, 1, "a", 0))
    val smallStr = Seq("1").toDF("k") // string key would hash different
    val err = intercept[IllegalArgumentException](
      CoreOps.bloomAntiJoin(big, smallStr, "user_id", "k", 1))
    assert(err.getMessage.contains("int64"))
    assertThrows[IllegalArgumentException](
      CoreOps.bloomSemiJoin(big.withColumn("u", col("user_id").cast("string")),
        Seq(1L).toDF("k"), "u", "k", 1))
  }

  test("eventSequence orders by (ts, tiebreak), caps per key, joins with sep") {
    val df = ev((3, 2000, 1, "c", 0), (1, 1000, 1, "a", 0), (2, 1000, 1, "b", 0),
      (4, 3000, 1, "d", 0), (5, 500, 2, "x", 0))
    val got = CoreOps.eventSequence(df, "user_id", "ts", "event_id",
        "event_type", 3)
      .orderBy("user_id").select("user_id", "n_events", "journey")
      .as[(Long, Long, String)].collect().toSeq
    // tie at 1000 broken by event_id (a before b); cap drops user 1's 'd'
    assert(got == Seq((1L, 3L, "a>b>c"), (2L, 1L, "x")))
    assertThrows[IllegalArgumentException](
      CoreOps.eventSequence(df.withColumn("rn", lit(1)), "user_id", "ts",
        "event_id", "event_type", 3))
  }

  test("sessionize assigns 1-based per-key session indexes at strict gaps") {
    val gap = 5000L
    val df = ev((1, 0, 1, "a", 0), (2, 5000, 1, "a", 0), // gap == 5000: same
      (3, 10001, 1, "a", 0), // gap 5001 > 5000: new session
      (4, 0, 2, "a", 0))
    val got = CoreOps.sessionize(df, "user_id", "ts", "event_id", gap)
      .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
  }

  test("rankNormalize maps values to exact (rank-1)/(n-1) with shared ties") {
    val df = ev((1, 0, 1, "a", 1.0), (2, 0, 1, "a", 2.0), (3, 0, 1, "a", 2.0),
      (4, 0, 1, "a", 5.0), (5, 0, 2, "a", 9.0))
    val got = CoreOps.rankNormalize(df, "user_id", "value", "pr")
      .select("event_id", "pr").as[(Long, Double)].collect().toMap
    val third = math.floor(1.0 / 3.0 * 1000000d) / 1000000d
    assert(got == Map(1L -> 0.0, 2L -> third, 3L -> third, 4L -> 1.0,
      5L -> 0.0)) // singleton group: percent_rank 0
  }

  test("robustOutliers flags |0.6745(x-med)/MAD| > cutoff, zero MAD never flags") {
    val df = ev((1, 0, 1, "a", 1.0), (2, 0, 1, "a", 2.0), (3, 0, 1, "a", 3.0),
      (4, 0, 1, "a", 100.0), // med=2.5, MAD=1.0 → z(100)=65.77… outlier
      (5, 0, 1, "b", 7.0), (6, 0, 1, "b", 7.0)) // MAD=0 → null z, no flag
    val got = CoreOps.robustOutliers(df, "event_type", "value", 3.5)
      .select("event_id", "is_outlier").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> false, 3L -> false, 4L -> true,
      5L -> false, 6L -> false))
  }

  test("robustOutliersApprox matches the exact form when sizes are odd " +
      "(element == interpolation), flags the same outlier") {
    // odd group size AND odd deviation count: every exact median is an
    // actual element, so the sketch (which returns elements) agrees exactly
    val df = ev((1, 0, 1, "a", 1.0), (2, 0, 1, "a", 2.0), (3, 0, 1, "a", 3.0),
      (4, 0, 1, "a", 4.0), (5, 0, 1, "a", 100.0)) // med=3, MAD=1, z(100)=65.4…
    val exact = CoreOps.robustOutliers(df, "event_type", "value", 3.5)
      .select("event_id", "robust_z", "is_outlier")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val approx = CoreOps.robustOutliersApprox(df, "event_type", "value", 3.5)
      .select("event_id", "robust_z", "is_outlier")
      .as[(Long, Option[Double], Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(approx == exact)
    assert(approx(5L)._2 === true)
  }

  test("robustOutliersChecked: verdict uniformly true, exact side matches " +
      "a brute-force median/MAD, NULL-value groups survive") {
    val df = ev((1, 0, 1, "a", 1.0), (2, 0, 1, "a", 2.0), (3, 0, 1, "a", 3.0),
      (4, 0, 1, "a", 100.0), // even size: med=2.5, MAD=1.0 (interpolated)
      (5, 0, 1, "b", 7.0), (6, 0, 1, "b", 7.0)) // MAD=0 group
    val got = CoreOps.robustOutliersChecked(df, "event_type", "value")
      .as[(String, Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("a") == (("a", 4L, 2.5, 1.0, true)))
    assert(got("b") == (("b", 2L, 7.0, 0.0, true)))
  }

  test("sessionSummary closes a session after the gap and reports min/max") {
    val gapMs = 5000
    val df = ev((1, 0, 1, "a", 0), (2, 4000, 1, "a", 0), // same session (gap 4s < 5s)
      (3, 10000, 1, "a", 0), // new session (gap 6s)
      (4, 0, 2, "a", 0)) // other key, own session
    val got = CoreOps.sessionSummary(df, "user_id", "ts", s"$gapMs milliseconds")
      .orderBy("user_id", "session_start_ms").as[(Long, Long, Long, Long)].collect.toSeq
    assert(got == Seq((1L, 0L, 2L, 4000L), (1L, 10000L, 1L, 10000L), (2L, 0L, 1L, 0L)))
  }

  test("windowJoin is the cartesian of matches within each (key, window)") {
    val l = ev((1, 1000, 1, "click", 0), (2, 2000, 1, "click", 0), (3, 1000, 2, "click", 0))
    val r = ev((10, 1500, 1, "buy", 0), (11, 2500, 1, "buy", 0), (12, 99999, 2, "buy", 0))
    val got = CoreOps.windowJoin(l, r, "user_id", "ts", "1 minute",
      Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
    // user 1: 2 left x 2 right in the same 1-min bucket = 4 rows; user 2: right is in another bucket
    assert(got.count() == 4)
    assert(got.filter(col("user_id") === 2).count() == 0)
  }

  test("splitBy routes NULL-predicate rows to the rest side, never drops them") {
    val df = Seq((1L, Some("error")), (2L, None), (3L, Some("view")))
      .toDF("event_id", "event_type")
    val (err, rest) = CoreOps.splitBy(df, col("event_type") === "error")
    assert(err.count() + rest.count() == 3) // the NULL row must land somewhere
    assert(rest.filter(col("event_type").isNull).count() == 1)
  }

  test("runningSumSalted handles NULL timestamps like the plain form (NULLS FIRST)") {
    val df = Seq(
      (1L, Some(1000L), 1L, 5.0), (2L, None, 1L, 10.0), (3L, Some(2000L), 1L, 1.0))
      .toDF("event_id", "ms", "user_id", "value")
      .withColumn("ts", timestamp_millis(col("ms")))
    def res(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "run").as[(Long, Double)].collect().toMap
    val plain = res(CoreOps.runningSum(df, "user_id", "ts", "event_id", "value", "run"))
    val salted = res(CoreOps.runningSumSalted(df, "user_id", "ts", "event_id", "value", "run", 3))
    assert(plain == salted, s"plain=$plain salted=$salted")
    assert(plain(1L) == 15.0) // NULL-ts row sorts first: 10, then +5, then +1
  }

  test("runningSumSalted handles NULL values like the plain form (sum ignores NULLs)") {
    // user 1: values NULL,5,NULL,NULL,3 spread across buckets — a bucket whose
    // local prefix is all-NULL must fall back to the earlier buckets' total,
    // and a leading all-NULL prefix must stay NULL (not become 0)
    val df = Seq(
      (1L, 1000L, 1L, Option.empty[Double]), (2L, 2000L, 1L, Some(5.0)),
      (3L, 3000L, 1L, Option.empty[Double]), (4L, 4000L, 1L, Option.empty[Double]),
      (5L, 5000L, 1L, Some(3.0)), (6L, 1000L, 2L, Option.empty[Double]))
      .toDF("event_id", "ms", "user_id", "value")
      .withColumn("ts", timestamp_millis(col("ms")))
    def res(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "run").as[(Long, Option[Double])].collect().toMap
    // 3 tiny buckets over 1000..5000 ms put the all-NULL middle in its own bucket
    val plain = res(CoreOps.runningSum(df, "user_id", "ts", "event_id", "value", "run"))
    val salted = res(CoreOps.runningSumSalted(df, "user_id", "ts", "event_id", "value", "run", 3))
    assert(plain == salted, s"plain=$plain salted=$salted")
    assert(plain(1L).isEmpty && plain(3L).contains(5.0) && plain(6L).isEmpty)
  }

  test("quantileProfileApprox stays within the sketch's rank-error bound") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    // exact values at p ± 2% bracket the sketch estimate when the rank error
    // n/accuracy (~60/10000) is far below 2%
    val lo = CoreOps.quantileProfile(events, "event_type", "value", Seq(0.48, 0.93))
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    val hi = CoreOps.quantileProfile(events, "event_type", "value", Seq(0.52, 0.97))
      .as[(String, Long, Double, Double)].collect().map(r => r._1 -> (r._3, r._4)).toMap
    val approx = CoreOps.quantileProfileApprox(events, "event_type", "value", Seq(0.5, 0.95))
      .as[(String, Long, Double, Double)].collect()
    assert(approx.nonEmpty)
    approx.foreach { case (g, _, p50a, p95a) =>
      assert(p50a >= lo(g)._1 && p50a <= hi(g)._1, s"$g p50 $p50a not in bracket")
      assert(p95a >= lo(g)._2 && p95a <= hi(g)._2, s"$g p95 $p95a not in bracket")
    }
  }

  test("quantileProfile interpolates at rank (n-1)·p like the SQL oracle") {
    val df = (1 to 5).map(v => ("a", v.toDouble)).toDF("g", "value")
    val got = CoreOps.quantileProfile(df, "g", "value", Seq(0.5, 0.95))
      .as[(String, Long, Double, Double)].head()
    assert(got == (("a", 5L, 3.0, 4.8))) // (5-1)·0.95 = 3.8 → 4 + 0.8·(5-4)
  }

  test("asofJoin attaches the latest right row at-or-before each left row") {
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L), (1L, 90L, 13L))
      .toDF("k", "ms", "lid").withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val right = Seq((1L, 90L, 77L), (1L, 150L, 88L), (3L, 10L, 99L))
      .toDF("k", "r_ms", "rid").withColumn("ts", timestamp_millis(col("r_ms")))
    val got = CoreOps.asofJoin(left, right, "k", "ts", Seq("r_ms", "rid"))
      .select("lid", "r_ms", "rid")
      .as[(Long, Option[Long], Option[Long])].collect().toSet
    assert(got == Set(
      (10L, Some(90L), Some(77L)),  // 90 <= 100: inclusive bound
      (11L, Some(150L), Some(88L)), // latest of {90, 150}
      (13L, Some(90L), Some(77L)),  // equal-ts match (right sorts first)
      (12L, None, None)))           // key 2 has no right rows: left-join NULLs
  }

  test("asofJoin carries the whole matched row: a NULL payload field stays NULL") {
    val left = Seq((1L, 200L, 10L)).toDF("k", "ms", "lid")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val right = Seq((1L, 100L, Some(7L)), (1L, 150L, None))
      .toDF("k", "r_ms", "aux").withColumn("ts", timestamp_millis(col("r_ms")))
    // the matched row is ts=150 whose aux IS NULL — a per-column carry would
    // back-fill 7 from ts=100 and emit a composite row that never existed
    val got = CoreOps.asofJoin(left, right, "k", "ts", Seq("r_ms", "aux"))
      .select("lid", "r_ms", "aux").as[(Long, Option[Long], Option[Long])].head()
    assert(got == ((10L, Some(150L), None)))
  }

  test("asofJoin treats NULL timestamps as non-matching (ASOF predicate is never true)") {
    val left = Seq((1L, Option.empty[Long], 10L), (1L, Some(500L), 11L))
      .toDF("k", "ms", "lid").withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val right = Seq((1L, Option.empty[Long], 70L), (1L, Some(100L), 71L))
      .toDF("k", "r_ms", "rid").withColumn("ts", timestamp_millis(col("r_ms")))
    val got = CoreOps.asofJoin(left, right, "k", "ts", Seq("r_ms", "rid"))
      .select("lid", "r_ms", "rid")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map { case (l, a, b) => l -> ((a, b)) }.toMap
    assert(got(10L) == ((None, None)))            // NULL-ts left row: no match
    assert(got(11L) == ((Some(100L), Some(71L)))) // NULL-ts right row is invisible
  }

  test("quantileProfileChecked: verdict uniformly true, exact side identical to quantileProfile") {
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    val ps = Seq(0.5, 0.95, 0.99)
    val checked = CoreOps.quantileProfileChecked(events, "event_type", "value", ps)
    assert(checked.filter(!col("within_bound")).count() == 0)
    val exact = CoreOps.quantileProfile(events, "event_type", "value", ps)
    assert(checked.drop("within_bound").exceptAll(exact).count() == 0)
    assert(exact.exceptAll(checked.drop("within_bound")).count() == 0)
  }

  test("runningSumAuto salts only when the hot-key share exceeds the threshold") {
    def frame(rows: Seq[(Long, Long, Long, Double)]) =
      rows.toDF("event_id", "ms", "user_id", "value")
        .withColumn("ts", timestamp_millis(col("ms")))
    val skewed = frame((1 to 50).map(i => (i.toLong, i * 1000L, 1L, 1.0)) ++
      (51 to 60).map(i => (i.toLong, i * 1000L, i.toLong, 1.0)))
    val uniform = frame((1 to 60).map(i => (i.toLong, i * 1000L, i.toLong, 1.0)))
    assert(CoreOps.topKeyShare(skewed, "user_id") > 0.8)
    assert(CoreOps.topKeyShare(uniform, "user_id") < 0.05)
    val autoSkew = CoreOps.runningSumAuto(skewed, "user_id", "ts", "event_id", "value", "run")
    val autoUni = CoreOps.runningSumAuto(uniform, "user_id", "ts", "event_id", "value", "run")
    // the salted plan is recognizable by its per-bucket offsets join
    assert(autoSkew.queryExecution.optimizedPlan.toString.contains("Join"),
      "skewed input should pick the salted form")
    assert(!autoUni.queryExecution.optimizedPlan.toString.contains("Join"),
      "uniform input should pick the plain form")
    // the choice is purely physical: rows match the plain form either way
    def res(d: org.apache.spark.sql.DataFrame) =
      d.select("event_id", "run").as[(Long, Double)].collect().toMap
    assert(res(autoSkew) ==
      res(CoreOps.runningSum(skewed, "user_id", "ts", "event_id", "value", "run")))
    assert(res(autoUni) ==
      res(CoreOps.runningSum(uniform, "user_id", "ts", "event_id", "value", "run")))
  }

  test("groupTopK keeps N rows per group via WindowGroupLimit") {
    val df = Seq(
      ("a", 1L, 0.9), ("a", 2L, 0.8), ("a", 3L, 0.7), ("a", 4L, 0.8),
      ("b", 5L, 0.1)).toDF("g", "id", "score")
    val got = CoreOps.groupTopK(df, Seq("g"), col("score"), "id", 2)
      .select("g", "rank", "id").as[(String, Long, Long)].collect().toSet
    // group a: 0.9 → id 1, then the 0.8 tie breaks toward id 2
    assert(got == Set(("a", 1L, 1L), ("a", 2L, 2L), ("b", 1L, 5L)))
    val plan = CoreOps.groupTopK(df, Seq("g"), col("score"), "id", 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), s"per-group limit not pushed down:\n$plan")
  }

  test("keyProfile returns exact top-N hot keys with deterministic tiebreak") {
    val df = (Seq.fill(5)(1L) ++ Seq.fill(3)(2L) ++ Seq.fill(3)(3L) ++ Seq(4L))
      .toDF("user_id")
    val got = CoreOps.keyProfile(df, "user_id", 3).as[(Long, Long)].collect().toSeq
    // ties (keys 2 and 3, both 3 events) break toward the smaller key
    assert(got == Seq((1L, 5L), (2L, 3L), (3L, 3L)))
    val plan = CoreOps.keyProfile(df, "user_id", 3).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-N not pushed down:\n$plan")
  }

  test("funnel: ordered stage completion only, earliest qualifying times") {
    val df = ev(
      // user 1 completes in order: view@1s, click@3s, purchase@5s — and an
      // earlier out-of-order purchase@2s must NOT satisfy stage 3
      (1, 1000L, 1, "view", 0), (2, 2000L, 1, "purchase", 0),
      (3, 3000L, 1, "click", 0), (4, 5000L, 1, "purchase", 0),
      // user 2 never clicks → excluded
      (5, 1000L, 2, "view", 0), (6, 2000L, 2, "purchase", 0),
      // user 3 clicks BEFORE viewing → click doesn't count, no later click
      (7, 2000L, 3, "view", 0), (8, 1000L, 3, "click", 0))
    val got = CoreOps.funnel(df, "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1000L, 3000L, 5000L)))
  }

  test("rollingFeatures: trailing range windows include peers, exact sums") {
    // user 1: events at 0s, 30s, 3600s — the 3600s event's 1h window spans
    // (0.999s, 3600s], so it sees the 30s event but NOT the 0s event
    val df = ev((1, 0L, 1, "a", 1.10), (2, 30000L, 1, "a", 2.20),
      (3, 3600000L, 1, "a", 4.40),
      // user 2: two events at the SAME timestamp are RANGE peers — each
      // sees both
      (4, 5000L, 2, "a", 1.00), (5, 5000L, 2, "a", 2.00))
    val got = CoreOps.rollingFeatures(df, "user_id", "ts", "value", Seq(3600))
      .select("event_id", "cnt_3600s", "sum_3600s")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 1L, 1.10)))
    assert(got(2L) == ((2L, 2L, 3.30)))
    assert(got(3L) == ((3L, 2L, 6.60)))
    assert(got(4L) == ((4L, 2L, 3.00)))
    assert(got(5L) == ((5L, 2L, 3.00)))
  }

  test("orderedPrefixSum rejects internal-name collisions and non-integral values") {
    val clash = Seq((1L, 2L, 3L)).toDF("id", "ord", "_local")
    val e1 = intercept[IllegalArgumentException] {
      CoreOps.orderedPrefixSum(clash, col("ord"), "id", "id", "cum")
    }
    assert(e1.getMessage.contains("_local"))
    val dbl = Seq((1L, 2L, 3.5)).toDF("id", "ord", "v")
    val e2 = intercept[IllegalArgumentException] {
      CoreOps.orderedPrefixSum(dbl, col("ord"), "id", "v", "cum")
    }
    assert(e2.getMessage.contains("int64"))
  }

  test("splitBy + taggedUnion partition and re-merge every row exactly once") {
    val df = ev((1, 0, 1, "error", 0), (2, 0, 2, "view", 0), (3, 0, 3, "error", 0))
    val (err, rest) = CoreOps.splitBy(df, col("event_type") === "error")
    assert(err.count() == 2 && rest.count() == 1)
    val merged = CoreOps.taggedUnion(err, "E", rest, "N", Seq("user_id"))
    assert(merged.count() == 3)
    assert(merged.filter(col("stream") === "E").count() == 2)
  }

  test("corrMatrix equals exactCorr per pair, pairwise NULL exclusion, " +
      "degenerate pairs yield NULL") {
    val df = Seq(
      (Option(1L), Option(2L), Option(7L)),
      (Option(2L), Option(4L), Option(7L)),
      (Option(3L), Option(6L), Option(7L)),
      (Option(4L), Option.empty[Long], Option(7L))
    ).toDF("a", "b", "c")
    val got = CoreOps.corrMatrix(df, Seq("a", "b", "c"))
      .as[(String, String, Long, Option[Double])].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got(("a", "b")) == (3L, Some(1.0)))    // perfect linear, NULL row excluded
    assert(got(("a", "c")) == (4L, None))         // c constant: zero variance
    assert(got(("b", "c")) == (3L, None))
    // per-pair values equal the single-pair operator's
    val single = CoreOps.exactCorr(df.withColumn("g", lit(1)), "g", "a", "b")
      .select("n", "corr").as[(Long, Option[Double])].head()
    assert(single == got(("a", "b")))
    assertThrows[IllegalArgumentException](CoreOps.corrMatrix(df, Seq("a")))
    assertThrows[IllegalArgumentException](
      CoreOps.corrMatrix(df, Seq("a", "a")))
  }

  test("retentionCohorts buckets first activity and counts distinct " +
      "returners; negative timestamps fail loud") {
    val g = 1000L // 1s grain for the test
    val df = Seq(
      (1L, 0L), (1L, 2500L), (1L, 2700L), // cohort 0, returns at offset 2 (once)
      (2L, 1000L), (2L, 2000L),           // cohort 1, returns at offset 1
      (3L, 1500L)                          // cohort 1, never returns
    ).toDF("user_id", "ms").withColumn("ts", timestamp_millis(col("ms")))
    val got = CoreOps.retentionCohorts(df, "user_id", "ts", g)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (0L, 0L, 1L, 1L, 1.0), (0L, 2L, 1L, 1L, 1.0),
      (1L, 0L, 2L, 2L, 1.0), (1L, 1L, 1L, 2L, 0.5)))
    val neg = Seq((1L, -5000L)).toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val err = intercept[Exception] {
      CoreOps.retentionCohorts(neg, "user_id", "ts", g).collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("epoch"))
    assertThrows[IllegalArgumentException](
      CoreOps.retentionCohorts(df, "user_id", "ts", 0L))
  }

  test("numericProfile computes all metrics for all columns in one pass") {
    val df = Seq(
      (Option(1L), Option(1.5)), (Option(2L), Option(-2.0)),
      (Option(2L), Option.empty[Double]), (Option.empty[Long], Option(1.5))
    ).toDF("k", "v")
    val got = CoreOps.numericProfile(df, Seq("k", "v"))
      .as[(String, Long, Long, Long, Option[Double], Option[Double])]
      .collect().toSet
    assert(got == Set(
      ("k", 4L, 1L, 2L, Some(1.0), Some(2.0)),
      ("v", 4L, 1L, 2L, Some(-2.0), Some(1.5))))
    assertThrows[IllegalArgumentException](
      CoreOps.numericProfile(df.withColumn("s", lit("x")), Seq("s")))
    assertThrows[IllegalArgumentException](
      CoreOps.numericProfile(df, Seq.empty))
  }

  test("constraintReport counts violations per named check; NULL predicates " +
      "violate; uniqueness counts rows of duplicated keys") {
    val df = Seq(
      (Option(1L), Option(5.0)), (Option(2L), Option(-1.0)),
      (Option(2L), Option.empty[Double]), (Option(2L), Option(3.0)),
      (Option.empty[Long], Option(1.0))
    ).toDF("id", "v")
    val got = CoreOps.constraintReport(df,
        Seq("v_pos" -> (col("v") >= 0), "id_set" -> col("id").isNotNull),
        Seq("id"))
      .as[(String, Long)].collect().toMap
    // v_pos: -1.0 and NULL violate = 2; id_set: one NULL = 1;
    // unique(id): key 2 has 3 rows = 3 (NULL ids ignored)
    assert(got == Map("v_pos" -> 2L, "id_set" -> 1L, "unique(id)" -> 3L))
    assertThrows[IllegalArgumentException](
      CoreOps.constraintReport(df, Seq.empty, Seq.empty))
    assertThrows[IllegalArgumentException](CoreOps.constraintReport(df,
      Seq("unique(id)" -> col("v").isNotNull), Seq("id")))
  }

  test("latestState keeps the lexicographically latest row per key under " +
      "any partitioning; NULL order columns fail loud") {
    val df = Seq(
      (1L, 10L, 100L, "a", 1.0),
      (2L, 20L, 100L, "b", 2.0),  // winner for 100 (later ms)
      (3L, 20L, 200L, "c", 3.0),
      (4L, 20L, 200L, "d", 4.0),  // winner for 200 (same ms, higher id)
      (5L, 5L,  300L, "e", 5.0)   // sole row for 300
    ).toDF("event_id", "ms", "user_id", "event_type", "value").repartition(7)
    val got = CoreOps.latestState(df, Seq("user_id"), Seq("ms", "event_id"))
      .select("user_id", "event_id", "event_type")
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set((100L, 2L, "b"), (200L, 4L, "d"), (300L, 5L, "e")))
    val bad = Seq((Option(1L), Option.empty[Long], 1L))
      .toDF("event_id", "ms", "user_id")
    val err = intercept[Exception] {
      CoreOps.latestState(bad, Seq("user_id"), Seq("ms", "event_id")).collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("non-NULL"))
    assertThrows[IllegalArgumentException](
      CoreOps.latestState(df, Seq("user_id"), Seq("user_id", "ms")))
    assertThrows[IllegalArgumentException](
      CoreOps.latestState(df, Seq.empty, Seq("ms")))
  }

  test("snapshotDiff classifies added/removed/changed, drops unchanged, " +
      "distinguishes NULL from empty and column boundaries") {
    val old = Seq(
      (1L, Option("a"), Option("x")),
      (2L, Option("b"), Option("y")),   // will change
      (3L, Option("c"), Option("z")),   // will be removed
      (4L, Option("ab"), Option("c")),  // boundary probe vs ("a","bc")
      (5L, Option.empty[String], Option("w"))  // NULL vs "" probe
    ).toDF("id", "t", "s")
    val neu = Seq(
      (1L, Option("a"), Option("x")),
      (2L, Option("B"), Option("y")),
      (4L, Option("a"), Option("bc")),
      (5L, Option(""), Option("w")),
      (6L, Option("new"), Option("n"))
    ).toDF("id", "t", "s")
    val got = CoreOps.snapshotDiff(old, neu, "id", Seq("t", "s"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((2L, "changed"), (3L, "removed"), (4L, "changed"),
      (5L, "changed"), (6L, "added")))
    val badId = Seq((Option.empty[Long], "a")).toDF("id", "t")
    val err = intercept[Exception] {
      CoreOps.snapshotDiff(badId, neu.select(col("id"), col("t")), "id",
        Seq("t")).collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("NULL id"))
    assertThrows[IllegalArgumentException](
      CoreOps.snapshotDiff(old, neu, "id", Seq.empty))
    assertThrows[IllegalArgumentException](
      CoreOps.snapshotDiff(old, neu, "id", Seq("id", "t")))
  }

  test("chiSquareIndependence matches the textbook 2x2 statistic exactly") {
    // O = [[30,10],[10,30]]: E = 20 everywhere, chi2 = 4 * 100/20 = 20
    val rows = Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))
    val got = CoreOps.chiSquareIndependence(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double)].collect().head
    assert(got == ((80L, 1L, 20.0)))
    // perfectly proportional table -> 0; single row-category -> dof 0
    val prop = Seq.fill(20)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(40)(("y", "p")) ++ Seq.fill(20)(("y", "q"))
    assert(CoreOps.chiSquareIndependence(prop.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double)].collect().head == ((90L, 1L, 0.0)))
    val one = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    assert(CoreOps.chiSquareIndependence(one, "a", "b")
      .as[(Long, Long, Double)].collect().head == ((2L, 0L, 0.0)))
    assertThrows[IllegalArgumentException](
      CoreOps.chiSquareIndependence(one, "a", "a"))
  }

  test("cramersV: known 2x2 effect size; dof-0 tables yield NULL v") {
    // chi2 = 20 on n = 80 with min(na-1, nb-1) = 1 -> V = sqrt(1/4) = 0.5
    val rows = Seq.fill(30)(("x", "p")) ++ Seq.fill(10)(("x", "q")) ++
      Seq.fill(10)(("y", "p")) ++ Seq.fill(30)(("y", "q"))
    assert(CoreOps.cramersV(rows.toDF("a", "b"), "a", "b")
      .as[(Long, Long, Double, Option[Double])].collect().head ==
      ((80L, 1L, 20.0, Some(0.5))))
    val one = Seq(("x", "p"), ("x", "q")).toDF("a", "b")
    assert(CoreOps.cramersV(one, "a", "b")
      .as[(Long, Long, Double, Option[Double])].collect().head ==
      ((2L, 0L, 0.0, None)))
  }

  test("categoricalDrift: exact TVD incl. one-sided categories; empty side " +
      "yields NULL") {
    // pa = (.75, .25, 0), pb = (.25, .25, .5) -> TVD = .5*(.5 + 0 + .5) = .5
    val a = (Seq.fill(3)("x") ++ Seq("y")).toDF("c")
    val b = Seq("x", "y", "z", "z").toDF("c")
    assert(CoreOps.categoricalDrift(a, b, "c")
      .as[(Long, Long, Long, Option[Double])].collect().head ==
      ((4L, 4L, 3L, Some(0.5))))
    // identical distributions -> 0; an empty slice -> NULL, not 0/0
    assert(CoreOps.categoricalDrift(a, a, "c")
      .as[(Long, Long, Long, Option[Double])].collect().head ==
      ((4L, 4L, 2L, Some(0.0))))
    assert(CoreOps.categoricalDrift(a, b.limit(0), "c")
      .as[(Long, Long, Long, Option[Double])].collect().head._4.isEmpty)
  }

  test("categoricalDriftByGroup: per-group TVD vs one reference; counts " +
      "form is equivalent") {
    val ref = Seq("x", "y", "z", "z").toDF("c")
    // g1 mirrors the reference mix exactly; g2 is fully disjoint
    val df = Seq("g1" -> "x", "g1" -> "y", "g1" -> "z", "g1" -> "z",
      "g2" -> "w", "g2" -> "w").toDF("g", "c")
    val got = CoreOps.categoricalDriftByGroup(df, "g", "c", ref)
      .as[(String, Long, Long, Long, Option[Double])].collect().toSet
    assert(got == Set(("g1", 4L, 4L, 3L, Some(0.0)),
      ("g2", 2L, 4L, 4L, Some(1.0))))
    // the pre-counted form computes the identical table
    val counts = df.groupBy("g", "c").agg(count(lit(1)).as("n"))
    assert(CoreOps.categoricalDriftByGroupCounts(counts, "g", "c", "n", ref)
      .as[(String, Long, Long, Long, Option[Double])].collect().toSet == got)
    // empty reference: NULL tvd, all categories from the group side
    assert(CoreOps.categoricalDriftByGroup(df, "g", "c", ref.limit(0))
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .forall(r => r._3 == 0L && r._5.isEmpty))
  }

  test("rankSumAuc: hand-checked U and AUC incl. ties; empty side yields " +
      "NULL; non-integral values rejected") {
    // a = [3, 5], b = [1, 3, 4]: U_a = 1 + 0.5 + 0 + 3 = 4.5 -> 2U = 9,
    // auc = 4.5/6 = 0.75
    val a = Seq(3L, 5L).toDF("v")
    val b = Seq(1L, 3L, 4L).toDF("v")
    assert(CoreOps.rankSumAuc(a, b, "v")
      .as[(Long, Long, Long, Option[Double])].collect().head ==
      ((2L, 3L, 9L, Some(0.75))))
    // symmetry: u2_a + u2_b = 2 * n_a * n_b
    val rev = CoreOps.rankSumAuc(b, a, "v")
      .as[(Long, Long, Long, Option[Double])].collect().head
    assert(rev._3 == 2 * 2 * 3 - 9 && rev._4 == Some(0.25))
    // identical distributions -> auc 0.5; empty side -> NULL
    assert(CoreOps.rankSumAuc(a, a, "v")
      .as[(Long, Long, Long, Option[Double])].collect().head._4 == Some(0.5))
    assert(CoreOps.rankSumAuc(a, b.limit(0), "v")
      .as[(Long, Long, Long, Option[Double])].collect().head._4.isEmpty)
    assertThrows[IllegalArgumentException](
      CoreOps.rankSumAuc(a.select(col("v").cast("double").as("v")), b, "v"))
  }

  test("ksStatistic: hand-checked max CDF gap; identical slices give 0; " +
      "disjoint give 1") {
    // a = [3, 5], b = [1, 3, 4]: gap peaks at v=4 -> |3*1 - 2*3|/6 = 0.5
    val a = Seq(3L, 5L).toDF("v")
    val b = Seq(1L, 3L, 4L).toDF("v")
    assert(CoreOps.ksStatistic(a, b, "v")
      .as[(Long, Long, Long, Option[Double])].collect().head ==
      ((2L, 3L, 3L, Some(0.5))))
    assert(CoreOps.ksStatistic(a, a, "v")
      .as[(Long, Long, Long, Option[Double])].collect().head._4 == Some(0.0))
    // fully separated distributions -> KS = 1
    val lo = Seq(1L, 2L).toDF("v"); val hi = Seq(10L, 11L).toDF("v")
    assert(CoreOps.ksStatistic(lo, hi, "v")
      .as[(Long, Long, Long, Option[Double])].collect().head._4 == Some(1.0))
    assert(CoreOps.ksStatistic(a, b.limit(0), "v")
      .as[(Long, Long, Long, Option[Double])].collect().head._4.isEmpty)
    assertThrows[IllegalArgumentException](
      CoreOps.ksStatistic(a.select(col("v").cast("double").as("v")), b, "v"))
  }

  test("abProportionTest: one-pass conditional counts, textbook z") {
    val df = (Seq.fill(2)(("a", true)) ++ Seq.fill(2)(("a", false)) ++
      Seq.fill(1)(("b", true)) ++ Seq.fill(3)(("b", false))).toDF("arm", "ok")
    val got = CoreOps.abProportionTest(df, col("arm") === "a", col("ok"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head
    val se = math.sqrt(0.375 * (1 - 0.375) * (1.0 / 4 + 1.0 / 4))
    val z = math.floor((0.5 - 0.25) / se * 1e6) / 1e6
    assert(got == ((4L, 2L, 4L, 1L, Some(0.5), Some(0.25), Some(z))))
    // zero-variance pool (nobody converts): NULL z, rates still emitted
    val none = Seq(("a", false), ("b", false)).toDF("arm", "ok")
    assert(CoreOps.abProportionTest(none, col("arm") === "a", col("ok"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double],
        Option[Double])].collect().head._7.isEmpty)
  }

  test("giniConcentration: equality -> 0, concentration -> (n-1)/n, " +
      "hand case exact") {
    def mk(rows: (String, Double)*) = rows.toDF("k", "v")
    def gini(df: org.apache.spark.sql.DataFrame) =
      CoreOps.giniConcentration(df, "k", "v")
        .as[(Long, Long, Option[Double])].collect().head
    assert(gini(mk("a" -> 1.0, "b" -> 1.0, "c" -> 1.0)) ==
      ((3L, 300L, Some(0.0))))
    // one key holds everything: G = (n-1)/n = 2/3
    assert(gini(mk("a" -> 0.0, "b" -> 0.0, "c" -> 10.0))._3 == Some(0.666666))
    // [1, 1, 2]: 2*900/(3*400) - 4/3 = 1/6
    assert(gini(mk("a" -> 1.0, "b" -> 1.0, "c" -> 2.0))._3 == Some(0.166666))
    val e = intercept[Exception](gini(mk("a" -> -5.0, "b" -> 1.0)))
    assert(e.getMessage.contains("negative per-key total"),
      s"wrong failure: ${e.getMessage.take(200)}")
  }

  test("targetEncodeLoo: own row excluded; singleton categories NULL") {
    val df = Seq((1L, "a", 1.00), (2L, "a", 2.00), (3L, "a", 6.00),
      (4L, "b", 5.00)).toDF("id", "cat", "v")
    val got = CoreOps.targetEncodeLoo(df, "cat", "v", "te")
      .select("id", "te").as[(Long, Option[Double])].collect().toMap
    // id 1: (200+600)/2/100 = 4.0; id 2: (100+600)/2/100 = 3.5
    assert(got == Map(1L -> Some(4.0), 2L -> Some(3.5), 3L -> Some(1.5),
      4L -> None))
  }

  test("rollingActiveUsers: trailing-window distinct via bounded explosion") {
    def ts(day: Long) = day * 86400000L
    // u1 active days 1, 2; u2 active day 3 only (twice: dedup)
    val df = Seq(("u1", ts(1)), ("u1", ts(2)), ("u2", ts(3)), ("u2", ts(3)))
      .toDF("u", "msr").withColumn("ts", timestamp_millis(col("msr")))
    val got = CoreOps.rollingActiveUsers(df, "u", "ts", 3)
      .as[(Long, Long)].collect().toMap
    // window 3: day 3 sees u1 (active day 2 >= 1) and u2; day 5 only u2
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L, 5L -> 1L))
  }

  test("cohortValueCurve: exact cents cumulative per cohort age") {
    def ts(day: Long) = day * 86400000L
    val df = Seq(
      // u1 enters day 1: spends 10.50, then 2.25 on day 3 (age 2)
      ("u1", ts(1), 10.50), ("u1", ts(3), 2.25),
      // u2 same cohort day 1: 1.00 on day 1, 0.75 on day 3
      ("u2", ts(1), 1.00), ("u2", ts(3), 0.75),
      // u3 enters day 5 (its own cohort)
      ("u3", ts(5), 5.00))
      .toDF("u", "msr", "v").withColumn("ts", timestamp_millis(col("msr")))
    val got = CoreOps.cohortValueCurve(df, "u", "ts", "v", 86400000L)
      .select("cohort", "age", "period_cents", "cum_cents", "cum_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(
      (1L, 0L, 1150L, 1150L, 11.50), (1L, 2L, 300L, 1450L, 14.50),
      (5L, 0L, 500L, 500L, 5.00)))
  }

  test("modeByGroup picks the most frequent value with ascending tiebreak") {
    val df = Seq("u1" -> "b", "u1" -> "b", "u1" -> "a",
      "u2" -> "z", "u2" -> "a").toDF("u", "v") // u2: tie -> 'a' wins
    assert(CoreOps.modeByGroup(df, "u", "v")
      .as[(String, String, Long)].collect().toSet ==
      Set(("u1", "b", 2L), ("u2", "a", 1L)))
  }

  test("winsorizeRank clips at exact order statistics; NULLs pass through") {
    // g: values 1..10 -> k05 = ceil(.5)=1 -> lo=1; k95 = ceil(9.5)=10 ->
    // hi=10 (n=10 leaves 5%/95% inside the data); tighter on (0.25, 0.75)
    val df = ((1L to 10L).map(("g", _)) :+ (("g", -100L)) :+ (("g", 999L)))
      .toDF("grp", "v")
    val got = CoreOps.winsorizeRank(df, "grp", "v", 0.25, 0.75, "w")
      .select("v", "w").as[(Long, Long)].collect().toMap
    // n=12: k_lo = ceil(3) = 3 -> 3rd smallest = 2; k_hi = ceil(9) = 9 ->
    // 9th smallest = 8
    assert(got(-100L) == 2L && got(999L) == 8L)
    assert(got(5L) == 5L && got(2L) == 2L && got(8L) == 8L)
    val withNull = Seq(("g", Some(1L)), ("g", Some(2L)), ("g", None))
      .toDF("grp", "v")
    val gotN = CoreOps.winsorizeRank(withNull, "grp", "v", 0.25, 0.75, "w")
      .select("v", "w").as[(Option[Long], Option[Long])].collect()
    assert(gotN.contains((None, None)))
    assertThrows[IllegalArgumentException](
      CoreOps.winsorizeRank(df, "grp", "v", 0.0, 0.9, "w"))
  }

  test("ksStatisticByGroup: per-group gaps match the global operator run " +
      "per group; one-sided groups emit NULL") {
    val a = Seq("g1" -> 3L, "g1" -> 5L, "g2" -> 1L, "g3" -> 9L).toDF("g", "v")
    val b = Seq("g1" -> 1L, "g1" -> 3L, "g1" -> 4L, "g2" -> 1L).toDF("g", "v")
    val got = CoreOps.ksStatisticByGroup(a, b, "g", "v")
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // g1 is the ksStatistic hand case; g2 identical; g3 only in slice a
    assert(got("g1") == ((2L, 3L, 3L, Some(0.5))))
    assert(got("g2") == ((1L, 1L, 0L, Some(0.0))))
    assert(got("g3") == ((1L, 0L, 0L, None)))
    // cross-check every two-sided group against the global operator
    for (g <- Seq("g1", "g2")) {
      val single = CoreOps.ksStatistic(a.filter(col("g") === g),
          b.filter(col("g") === g), "v")
        .as[(Long, Long, Long, Option[Double])].collect().head
      assert(got(g) == ((single._1, single._2, single._3, single._4)))
    }
  }

  test("rankSumAucByGroup matches the global operator per group") {
    val a = Seq("g1" -> 3L, "g1" -> 5L, "g2" -> 1L).toDF("g", "v")
    val b = Seq("g1" -> 1L, "g1" -> 3L, "g1" -> 4L, "g2" -> 2L).toDF("g", "v")
    val got = CoreOps.rankSumAucByGroup(a, b, "g", "v")
      .as[(String, Long, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("g1") == ((2L, 3L, 9L, Some(0.75)))) // the rankSumAuc case
    assert(got("g2") == ((1L, 1L, 0L, Some(0.0))))  // a < b everywhere
    for (g <- Seq("g1", "g2")) {
      val single = CoreOps.rankSumAuc(a.filter(col("g") === g),
          b.filter(col("g") === g), "v")
        .as[(Long, Long, Long, Option[Double])].collect().head
      assert(got(g) == ((single._1, single._2, single._3, single._4)))
    }
  }

  test("longestStreak: islands of consecutive days; duplicate same-day " +
      "events collapse") {
    def ts(day: Long, off: Long = 0L) = day * 86400000L + off
    val df = Seq(
      // u1: days 1,2,3 then 7,8 -> streaks 3 and 2
      ("u1", ts(1)), ("u1", ts(2)), ("u1", ts(2, 5000)), ("u1", ts(3)),
      ("u1", ts(7)), ("u1", ts(8)),
      // u2: one active day
      ("u2", ts(10)))
      .toDF("u", "msr").withColumn("ts", timestamp_millis(col("msr")))
    val got = CoreOps.longestStreak(df, "u", "ts")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map("u1" -> ((5L, 2L, 3L)), "u2" -> ((1L, 1L, 1L))))
  }

  test("journeyPattern flags ordered funnels the event SET cannot") {
    def ev(u: String, msr: Long, id: Long, t: String) = (u, msr, id, t)
    val df = Seq(
      ev("u1", 0, 1, "view"), ev("u1", 10, 2, "click"),
      ev("u1", 20, 3, "purchase"), // view -> ... -> purchase: match
      ev("u2", 0, 4, "purchase"), ev("u2", 10, 5, "view")) // wrong order
      .toDF("u", "msr", "eid", "etype")
      .withColumn("ts", timestamp_millis(col("msr")))
    val got = CoreOps.journeyPattern(df, "u", "ts", "eid", "etype", 10,
        "view.*purchase")
      .select("u", "matched").as[(String, Boolean)].collect().toMap
    assert(got == Map("u1" -> true, "u2" -> false))
  }

  test("topCategoriesWithOther: deterministic top-k + totals-derived other; " +
      "no other row when k covers all") {
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++
      Seq.fill(1)("d")).toDF("cat")
    val got = CoreOps.topCategoriesWithOther(df, "cat", 2)
      .as[(String, Long, Double)].collect().toSet
    // tie at the boundary (b=c=3) breaks by category asc: b stays, c rolls
    assert(got == Set(("a", 5L, 0.416666), ("b", 3L, 0.25),
      ("__other__", 4L, 0.333333)))
    val all = CoreOps.topCategoriesWithOther(df, "cat", 10)
      .as[(String, Long, Double)].collect()
    assert(all.length == 4 && !all.exists(_._1 == "__other__"))
    assertThrows[IllegalArgumentException](
      CoreOps.topCategoriesWithOther(df, "cat", 0))
  }

  test("maxDrawdown: peak-to-trough on the cumulative series; monotone " +
      "series give 0") {
    val df = Seq(
      // k1 cum: 10, 30, 5, 20 -> peak 30 at t2, trough 5 -> dd 25
      ("k1", 0L, 1L, 10L), ("k1", 1L, 2L, 20L), ("k1", 2L, 3L, -25L),
      ("k1", 3L, 4L, 15L),
      // k2: never declines
      ("k2", 0L, 5L, 5L), ("k2", 1L, 6L, 5L))
      .toDF("k", "msr", "eid", "c")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val got = CoreOps.maxDrawdown(df, "k", "ts", "eid", "c")
      .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("k1" -> ((4L, 25L)), "k2" -> ((2L, 0L))))
    assertThrows[IllegalArgumentException](
      CoreOps.maxDrawdown(df.withColumn("c", col("c").cast("double")),
        "k", "ts", "eid", "c"))
  }

  test("cusumChangepoint: level shift found at the last pre-shift point; " +
      "flat series give 0 at the earliest row") {
    val df = Seq(
      // k1: 0,0,0,100,100,100 cents -> D = 300,600,900,600,300,0 -> argmax i=3
      ("k1", 0L, 1L, 0L), ("k1", 1L, 2L, 0L), ("k1", 2L, 3L, 0L),
      ("k1", 3L, 4L, 100L), ("k1", 4L, 5L, 100L), ("k1", 5L, 6L, 100L),
      // k2: constant -> D = 0 everywhere -> earliest row wins the tie
      ("k2", 0L, 7L, 50L), ("k2", 1L, 8L, 50L),
      // k3: 0,100 -> D = 100, 0 -> shift right after the first row
      ("k3", 0L, 9L, 0L), ("k3", 1L, 10L, 100L))
      .toDF("k", "msr", "eid", "c")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val got = CoreOps.cusumChangepoint(df, "k", "ts", "eid", "c")
      .as[(String, Long, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got("k1") == ((6L, 300L, 3L, 2L, 1.5))) // 900/6/100
    assert(got("k2") == ((2L, 100L, 1L, 0L, 0.0)))
    assert(got("k3") == ((2L, 100L, 1L, 0L, 0.5))) // 100/2/100
    assertThrows[IllegalArgumentException](
      CoreOps.cusumChangepoint(df.withColumn("c", col("c").cast("double")),
        "k", "ts", "eid", "c"))
  }

  test("benfordFirstDigit: leading-digit shares vs the shared literal law; " +
      "non-positive and NULL rows drop") {
    val df = Seq(Some(1L), Some(19L), Some(25L), Some(900L), Some(0L),
      Some(-7L), None).toDF("c")
    val got = CoreOps.benfordFirstDigit(df, "c")
      .as[(Int, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def exp(d: Int) = CoreOps.benfordExpected(d - 1)
    def t6(x: Double) = math.floor(x * 1000000d) / 1000000d
    assert(got.keySet == Set(1, 2, 9))
    assert(got(1) == ((2L, 0.5, exp(1), t6(2d / 4d - exp(1)))))
    assert(got(2) == ((1L, 0.25, exp(2), t6(1d / 4d - exp(2)))))
    assert(got(9) == ((1L, 0.25, exp(9), t6(1d / 4d - exp(9)))))
    assertThrows[IllegalArgumentException](
      CoreOps.benfordFirstDigit(df.withColumn("c", col("c").cast("double")),
        "c"))
  }

  test("interEventGaps: per-user gaps pooled per group; gapless groups " +
      "disappear; no cross-user gaps") {
    val df = Seq(
      ("t", "u1", 0L, 1L), ("t", "u1", 10L, 2L), ("t", "u1", 30L, 3L),
      ("t", "u2", 100L, 4L), ("t", "u2", 105L, 5L),
      ("s", "u3", 7L, 6L)) // single event: no gap, group vanishes
      .toDF("g", "u", "msr", "eid")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val got = CoreOps.interEventGaps(df, "g", "u", "ts", "eid", Seq(0.5, 0.9))
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // t gaps: u1 -> 10, 20; u2 -> 5; pooled sorted [5, 10, 20]
    assert(got == Map("t" -> ((3L, 10.0, 18.0)))) // p90 = 10 + 0.8·10
    assertThrows[IllegalArgumentException](
      CoreOps.interEventGaps(df, "g", "u", "ts", "eid", Seq(1.5)))
  }

  test("hhiConcentration: equal spread -> 1/n, single key -> 1, zero-total " +
      "group -> NULL, negative totals fail loud") {
    val df = Seq(
      ("g1", "a", 1.0), ("g1", "b", 1.0), ("g1", "c", 2.0),
      ("g2", "x", 5.0),
      ("g3", "y", 0.0))
      .toDF("g", "k", "v")
    val got = CoreOps.hhiConcentration(df, "g", "k", "v")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // g1: shares (¼, ¼, ½) -> 1/16 + 1/16 + 1/4 = 0.375
    assert(got("g1") == ((3L, 400L, Some(0.375))))
    assert(got("g2") == ((1L, 500L, Some(1.0))))
    assert(got("g3") == ((1L, 0L, None)))
    assertThrows[Exception](
      CoreOps.hhiConcentration(df.withColumn("v", lit(-1.0)), "g", "k", "v")
        .collect())
  }

  test("weightedMedian: lower weighted median by integer half-weight rule; " +
      "non-positive weights fail loud") {
    val df = Seq(
      ("a", 1L, 1L), ("a", 3L, 1L), ("a", 5L, 1L), // total 3 -> v=3
      ("b", 10L, 9L), ("b", 100L, 1L),             // heavy low value -> 10
      ("c", 1L, 1L), ("c", 2L, 1L))                // even split -> lower = 1
      .toDF("g", "v", "w")
    val got = CoreOps.weightedMedian(df, "g", "v", "w")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("a" -> ((3L, 3L)), "b" -> ((10L, 10L)),
      "c" -> ((2L, 1L))))
    assertThrows[Exception]( // assert_true surfaces as a runtime error
      CoreOps.weightedMedian(df.withColumn("w",
        when(col("v") === 100L, 0L).otherwise(col("w"))), "g", "v", "w")
        .collect())
    assertThrows[IllegalArgumentException](
      CoreOps.weightedMedian(df.withColumn("v", col("v").cast("double")),
        "g", "v", "w"))
  }

  test("timeWeightedAvg: step-interpolated mean, ties drop, single sample " +
      "yields NULL") {
    val df = Seq(
      ("k1", 0L, 1L, 10.0), ("k1", 10L, 2L, 20.0), ("k1", 40L, 3L, 2.0),
      ("k2", 5L, 4L, 9.0),
      // tied timestamps: only the tiebreak-last value carries weight
      ("k3", 0L, 5L, 100.0), ("k3", 0L, 6L, 4.0), ("k3", 10L, 7L, 8.0))
      .toDF("k", "msr", "eid", "v")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val got = CoreOps.timeWeightedAvg(df, "k", "ts", "eid", "v")
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // k1: (10*10 + 20*30) / 40 = 17.5
    assert(got("k1") == ((3L, 40L, Some(17.5))))
    assert(got("k2") == ((1L, 0L, None)))
    // k3: first tied row gets dt 0, second spans to t=10: 4*10/10 = 4
    assert(got("k3") == ((3L, 10L, Some(4.0))))
  }

  test("minMaxNormalize scales per group; constant groups yield NULL") {
    val df = Seq(("g1", 10.0), ("g1", 15.0), ("g1", 20.0),
      ("g2", 7.0), ("g2", 7.0)).toDF("g", "v")
    val got = CoreOps.minMaxNormalize(df, "g", "v", "norm")
      .select("g", "v", "norm").orderBy("g", "v")
      .as[(String, Double, Option[Double])].collect().toSeq
    assert(got == Seq(("g1", 10.0, Some(0.0)), ("g1", 15.0, Some(0.5)),
      ("g1", 20.0, Some(1.0)), ("g2", 7.0, None), ("g2", 7.0, None)))
    assertThrows[IllegalArgumentException](
      CoreOps.minMaxNormalize(df, "g", "v", "v"))
  }

  test("profileDiff lines up per-column stats of two slices with exact deltas") {
    val a = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val b = Seq((3L, 15.0), (4L, 35.0), (5L, Double.NaN)).toDF("id", "v")
      .withColumn("v", when(col("id") === 5, lit(null).cast("double"))
        .otherwise(col("v")))
    val got = CoreOps.profileDiff(a, b, Seq("v"))
      .select("column", "n_rows_a", "n_rows_b", "n_nulls_b", "min_delta",
        "max_delta")
      .as[(String, Long, Long, Long, Double, Double)].collect().toSeq
    assert(got == Seq(("v", 2L, 3L, 1L, 5.0, 15.0)))
  }

  test("skylineMax2D keeps exactly the non-dominated points") {
    val df = Seq((1L, 10L, 5.0), (2L, 20L, 3.0), (3L, 20L, 7.0),
      (4L, 30L, 4.0), (5L, 5L, 9.0)).toDF("id", "x", "y")
    val got = CoreOps.skylineMax2D(df, "x", "y")
      .select("id").as[Long].collect().toSet
    // (20,3) loses to peer (20,7); (10,5) loses to later (20,7)
    assert(got == Set(3L, 4L, 5L))
    // equal (x, y) duplicates do not dominate each other: both survive
    val dup = Seq((1L, 10L, 5.0), (2L, 10L, 5.0), (3L, 5L, 1.0))
      .toDF("id", "x", "y")
    assert(CoreOps.skylineMax2D(dup, "x", "y")
      .select("id").as[Long].collect().toSet == Set(1L, 2L))
    assertThrows[IllegalArgumentException](
      CoreOps.skylineMax2D(df.withColumn("x", col("x").cast("double")),
        "x", "y"))
  }

  test("skylineMax2D matches an all-pairs check under any partitioning") {
    val rnd = new scala.util.Random(7)
    val pts = (1 to 300).map(i =>
      (i.toLong, rnd.nextInt(40).toLong, (rnd.nextInt(1000) / 100.0)))
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, qx, qy) =>
        (qx > x && qy >= y) || (qx >= x && qy > y) }
    }.map(_._1).toSet
    val got = CoreOps.skylineMax2D(
      pts.toDF("id", "x", "y").repartition(7), "x", "y")
      .select("id").as[Long].collect().toSet
    assert(got == expected)
  }

  test("intervalUnionLength merges islands, counts them, and sums coverage") {
    val df = Seq(("a", 0L, 10L), ("a", 5L, 12L), ("a", 20L, 25L),
      ("b", 1L, 2L)).toDF("k", "s", "e")
    val got = CoreOps.intervalUnionLength(df, "k", "s", "e")
      .orderBy("k").as[(String, Long, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 2L, 17L), ("b", 1L, 1L, 1L)))
    // half-open adjacency merges; containment never double-counts
    val adj = Seq(("a", 0L, 5L), ("a", 5L, 10L), ("c", 0L, 100L),
      ("c", 10L, 20L)).toDF("k", "s", "e")
    val got2 = CoreOps.intervalUnionLength(adj, "k", "s", "e")
      .orderBy("k").as[(String, Long, Long, Long)].collect().toSeq
    assert(got2 == Seq(("a", 2L, 1L, 10L), ("c", 2L, 1L, 100L)))
  }

  test("intervalUnionLength fails loudly on empty or boundless intervals") {
    val bad = Seq(("a", 5L, 5L)).toDF("k", "s", "e")
    val err = intercept[Exception] {
      CoreOps.intervalUnionLength(bad, "k", "s", "e").collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("intervalUnionLength"))
    val nul = Seq(("a", Option(5L), Option.empty[Long])).toDF("k", "s", "e")
    assertThrows[Exception](
      CoreOps.intervalUnionLength(nul, "k", "s", "e").collect())
    assertThrows[IllegalArgumentException](
      CoreOps.intervalUnionLength(
        Seq(("a", 1.0, 2L)).toDF("k", "s", "e"), "k", "s", "e"))
  }

  test("firstTouchAttribution credits each conversion to its session's first event") {
    val df = ev(
      (1, 1000, 1, "view", 0), (2, 2000, 1, "click", 0),
      (3, 3000, 1, "purchase", 0),              // session 1: credit 'view'
      (4, 5004000, 1, "click", 0), (5, 5005000, 1, "purchase", 0), // session 2
      (6, 9000, 2, "purchase", 0))              // conversion IS the first
    val got = CoreOps.firstTouchAttribution(df, "user_id", "ts", "event_id",
      "event_type", 5000000L, col("event_type") === "purchase")
      .select("event_id", "session_seq", "first_touch", "time_to_convert_ms")
      .orderBy("event_id").as[(Long, Long, String, Long)].collect().toSeq
    assert(got == Seq((3L, 1L, "view", 2000L), (5L, 2L, "click", 1000L),
      (6L, 1L, "purchase", 0L)))
  }

  test("firstTouchAttribution breaks session-start ties by tiebreak and guards names") {
    val df = ev((2, 1000, 1, "b", 0), (1, 1000, 1, "a", 0),
      (3, 2000, 1, "purchase", 0))
    val got = CoreOps.firstTouchAttribution(df, "user_id", "ts", "event_id",
      "event_type", 10000L, col("event_type") === "purchase")
      .select("first_touch").as[String].collect().toSeq
    assert(got == Seq("a")) // id 1 wins the ms=1000 tie
    assertThrows[IllegalArgumentException](
      CoreOps.firstTouchAttribution(df.withColumn("conv_ms", lit(1)),
        "user_id", "ts", "event_id", "event_type", 10000L, lit(true)))
  }

  test("transitionMatrix counts consecutive pairs with deterministic tie order") {
    val df = ev(
      (1, 1000, 1, "a", 0), (2, 2000, 1, "b", 0), (3, 3000, 1, "a", 0),
      (4, 4000, 1, "c", 0),                      // user 1: a>b>a>c
      (6, 5000, 2, "b", 0), (5, 5000, 2, "a", 0) // tie at 5000: id 5 first
    )
    val got = CoreOps.transitionMatrix(df, "user_id", "ts", "event_id",
      "event_type")
      .orderBy("from_state", "to_state")
      .as[(String, String, Long, Long, Double)].collect().toSeq
    // a->b twice (users 1 and 2), a->c once, b->a once
    assert(got == Seq(("a", "b", 2L, 3L, 0.666666), ("a", "c", 1L, 3L, 0.333333),
      ("b", "a", 1L, 1L, 1.0)))
  }

  test("transitionMatrix2 counts trigram chains; two-event keys contribute " +
      "nothing") {
    val df = ev(
      (1, 1000, 1, "a", 0), (2, 2000, 1, "b", 0), (3, 3000, 1, "a", 0),
      (4, 4000, 1, "c", 0),                       // user 1: a>b>a>c
      (5, 1000, 2, "a", 0), (6, 2000, 2, "b", 0), // user 2: only 2 events
      (7, 1000, 3, "a", 0), (8, 2000, 3, "b", 0), (9, 3000, 3, "a", 0))
    val got = CoreOps.transitionMatrix2(df, "user_id", "ts", "event_id",
        "event_type")
      .orderBy("from2_state", "from1_state", "to_state")
      .as[(String, String, String, Long, Long, Double)].collect().toSeq
    // trigrams: u1 (a,b)->a, (b,a)->c; u3 (a,b)->a
    assert(got == Seq(("a", "b", "a", 2L, 2L, 1.0),
      ("b", "a", "c", 1L, 1L, 1.0)))
  }

  test("transitionMatrix drops NULL states and guards emitted names") {
    val df = ev((1, 1000, 1, "a", 0), (2, 2000, 1, "b", 0))
      .withColumn("event_type",
        when(col("event_id") === 2, lit(null: String)).otherwise(col("event_type")))
    // the NULL state can neither end nor start a transition: no pairs at all
    assert(CoreOps.transitionMatrix(df, "user_id", "ts", "event_id",
      "event_type").isEmpty)
    assertThrows[IllegalArgumentException](
      CoreOps.transitionMatrix(df.withColumn("prob", lit(1)), "user_id", "ts",
        "event_id", "event_type"))
  }

  test("scd2 chains validity intervals and keeps the latest row open") {
    val df = ev((1, 1000, 1, "a", 0), (2, 3000, 1, "b", 0), (3, 7000, 1, "c", 0),
      (4, 500, 2, "x", 0))
    val got = CoreOps.scd2(df, "user_id", "ts", "event_id")
      .select("event_id", "valid_from_ms", "valid_to_ms", "is_current")
      .orderBy("event_id")
      .as[(Long, Long, Option[Long], Boolean)].collect().toSeq
    assert(got == Seq((1L, 1000L, Some(3000L), false),
      (2L, 3000L, Some(7000L), false), (3L, 7000L, None, true),
      (4L, 500L, None, true)))
  }

  test("scd2 orders tied instants by tiebreak and fails loudly on NULL ts") {
    val tied = ev((2, 1000, 1, "b", 0), (1, 1000, 1, "a", 0))
    val got = CoreOps.scd2(tied, "user_id", "ts", "event_id")
      .select("event_id", "valid_to_ms", "is_current").orderBy("event_id")
      .as[(Long, Option[Long], Boolean)].collect().toSeq
    // id 1 closes at the same instant (zero-length interval); id 2 is current
    assert(got == Seq((1L, Some(1000L), false), (2L, None, true)))
    val bad = tied.withColumn("ts",
      when(col("event_id") === 1, lit(null).cast("timestamp")).otherwise(col("ts")))
    val err = intercept[Exception] {
      CoreOps.scd2(bad, "user_id", "ts", "event_id").collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("NULL 'ts'"))
  }

  test("valueHistogram clamps edge bins and keeps exact per-bin extremes") {
    val df = Seq(-3.0, 0.0, 4.9, 5.0, 7.5, 102.0).toDF("v")
    val got = CoreOps.valueHistogram(df, "v", 0d, 5d, 3)
      .orderBy("bin").as[(Long, Double, Long, Double, Double)].collect().toSeq
    // bin 0: clamped -3.0 plus [0,5); bin 1: [5,10); bin 2 clamps 102.0
    assert(got == Seq((0L, 0.0, 3L, -3.0, 4.9), (1L, 5.0, 2L, 5.0, 7.5),
      (2L, 10.0, 1L, 102.0, 102.0)))
    assert(CoreOps.valueHistogram(
      Seq(Option.empty[Double]).toDF("v"), "v", 0d, 5d, 3).isEmpty)
    assertThrows[IllegalArgumentException](
      CoreOps.valueHistogram(df, "v", 0d, 0d, 3))
    assertThrows[IllegalArgumentException](
      CoreOps.valueHistogram(df, "v", 0d, 5d, 0))
  }

  test("giniImpurity is 0 for pure groups and the exact ratio otherwise") {
    val df = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"), (3L, "b"), (3L, "b"), (3L, "c"),
      (4L, Option.empty[String].orNull)).toDF("g", "lab")
    val got = CoreOps.giniImpurity(df.filter(col("lab").isNotNull ||
        col("g") === 4), "g", "lab")
      .orderBy("g").as[(Long, Long, Long, Double)].collect().toSeq
    // g=3: counts (a:1,b:2,c:1), n=4, s2=6 -> (16-6)/16 = 0.625
    assert(got == Seq((1L, 2L, 1L, 0.0), (2L, 2L, 2L, 0.5),
      (3L, 4L, 3L, 0.625)))
    assertThrows[IllegalArgumentException](
      CoreOps.giniImpurity(df.withColumnRenamed("g", "gini"), "gini", "lab"))
  }

  test("welchTTest: hand-checked t2/df against the same double chain; " +
      "n<=1 cohorts yield NULL stats; integral guard") {
    val df = Seq((true, 10L), (true, 20L),
      (false, 30L), (false, 40L), (false, 50L)).toDF("a", "c")
    val got = CoreOps.welchTTest(df, col("a"), "c")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    // expectations via the operator's own fixed left-assoc double chain
    val (na, sa, ssa) = (2d, 30d, 500d)
    val (nb, sb, ssb) = (3d, 120d, 5000d)
    val va = na * ssa - sa * sa; val vb = nb * ssb - sb * sb
    val sna = va / (na - 1) / na / na; val snb = vb / (nb - 1) / nb / nb
    val den = sna + snb; val d = sa / na - sb / nb
    def t6(x: Double) = math.floor(x * 1000000d) / 1000000d
    assert(got == ((2L, 3L, Some(t6(15d)), Some(t6(40d)),
      Some(t6(d * d / den)),
      Some(t6(den * den / (sna * sna / (na - 1) + snb * snb / (nb - 1)))))))
    // a 1-row cohort has no variance: t2/df NULL, means still emitted
    val one = CoreOps.welchTTest(
      Seq((true, 10L), (false, 30L), (false, 40L)).toDF("a", "c"),
      col("a"), "c")
      .as[(Long, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(one == ((1L, 2L, Some(10.0), Some(35.0), None, None)))
    assertThrows[IllegalArgumentException](
      CoreOps.welchTTest(df.withColumn("c", col("c").cast("double")),
        col("a"), "c"))
  }

  test("trimmedMean: 10% trim drops exactly the rank tails; tiny groups " +
      "keep everything; NULL values drop; bounds guard") {
    val df = ((1L to 10L).map(v => ("g1", v, v)) ++
      Seq(("g2", 11L, 7L), ("g2", 12L, 9L)) ++
      Seq(("g3", 13L, 5L))).toDF("g", "eid", "c")
    val got = CoreOps.trimmedMean(df, "g", "c", "eid", 100)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // g1: n=10, t=1 -> keep ranks 2..9 = values 2..9, mean 44/8 = 5.5
    assert(got("g1") == ((10L, 8L, Some(5.5))))
    assert(got("g2") == ((2L, 2L, Some(8.0)))) // t=0: untrimmed mean
    assert(got("g3") == ((1L, 1L, Some(5.0))))
    // NULL values drop before ranking: g3 stays a 1-row group
    val withNull = CoreOps.trimmedMean(
      df.union(Seq(("g3", 14L)).toDF("g", "eid")
        .withColumn("c", lit(null).cast("long"))
        .select("g", "eid", "c")),
      "g", "c", "eid", 100)
      .as[(String, Long, Long, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(withNull("g3") == ((1L, 1L, Some(5.0))))
    assertThrows[IllegalArgumentException](
      CoreOps.trimmedMean(df, "g", "c", "eid", 500))
    assertThrows[IllegalArgumentException](
      CoreOps.trimmedMean(df, "g", "c", "eid", -1))
    assertThrows[IllegalArgumentException](
      CoreOps.trimmedMean(df.withColumn("c", col("c").cast("double")),
        "g", "c", "eid", 100))
  }

  test("expandingAnomaly: spike past 3 sigma of the PRIOR prefix flags with " +
      "the exact-integer predicate; constant prefixes and cold starts never " +
      "flag") {
    val df = Seq(
      // k1: alternating 10/12 (variance > 0), then a spike
      ("k1", 0L, 1L, 10L), ("k1", 1L, 2L, 12L), ("k1", 2L, 3L, 10L),
      ("k1", 3L, 4L, 12L), ("k1", 4L, 5L, 10L), ("k1", 5L, 6L, 12L),
      ("k1", 6L, 7L, 100L),
      // k2: spike arrives with only 4 predecessors -> below minPrior
      ("k2", 0L, 8L, 10L), ("k2", 1L, 9L, 12L), ("k2", 2L, 10L, 10L),
      ("k2", 3L, 11L, 12L), ("k2", 4L, 12L, 500L),
      // k3: constant prefix -> zero variance -> never flags
      ("k3", 0L, 13L, 10L), ("k3", 1L, 14L, 10L), ("k3", 2L, 15L, 10L),
      ("k3", 3L, 16L, 10L), ("k3", 4L, 17L, 10L), ("k3", 5L, 18L, 10L),
      ("k3", 6L, 19L, 999L))
      .toDF("k", "msr", "eid", "c")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val got = CoreOps.expandingAnomaly(df, "k", "ts", "eid", "c", 3, 5)
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    // k1 spike: n=6, S=66, SS=732 -> dev=534, var=36, z=534/6=89 exactly
    assert(got == Seq(("k1", 7L, 6L, 100L, 6L, 89.0)))
    assertThrows[IllegalArgumentException](
      CoreOps.expandingAnomaly(df.withColumn("c", col("c").cast("double")),
        "k", "ts", "eid", "c", 3, 5))
    assertThrows[IllegalArgumentException](
      CoreOps.expandingAnomaly(df, "k", "ts", "eid", "c", 0, 5))
    assertThrows[IllegalArgumentException](
      CoreOps.expandingAnomaly(df, "k", "ts", "eid", "c", 3, 1))
  }

  test("quantileNormalize: rank-exact mapping onto the global grid, " +
      "hand-checked targets; tiny grain exercises multi-cell intervals") {
    // global sorted: [1, 2, 3, 10, 20, 30]  (N = 6)
    val df = Seq(("a", 1L, 1L), ("a", 2L, 2L), ("a", 3L, 3L),
      ("b", 4L, 10L), ("b", 5L, 20L), ("b", 6L, 30L))
      .toDF("g", "eid", "c")
    def run(grain: Long) =
      CoreOps.quantileNormalize(df, "g", "c", "eid", grain)
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._2 -> r._4).toMap
    // both groups have n=3: r=1,2,3 -> target ranks ceil(rN/n) = 2,4,6
    //   -> global values at ranks 2,4,6 = 2, 10, 30 for EACH group
    val want = Map(1L -> 2L, 2L -> 10L, 3L -> 30L,
      4L -> 2L, 5L -> 10L, 6L -> 30L)
    assert(run(1024L) == want)
    assert(run(1L) == want) // one cell per rank: max interval splitting
    assertThrows[IllegalArgumentException](
      CoreOps.quantileNormalize(df.withColumn("c", col("c").cast("double")),
        "g", "c", "eid"))
    assertThrows[IllegalArgumentException](
      CoreOps.quantileNormalize(df, "g", "c", "eid", 0L))
  }

  test("asofJoinTolerant: fresh matches carry, stale matches null out " +
      "exactly like no-match; bound guard") {
    val left = Seq((1L, 100L, 10L), (1L, 500L, 11L), (2L, 100L, 12L))
      .toDF("k", "msr", "lid")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val right = Seq((1L, 90L, 20L), (2L, 5L, 21L))
      .toDF("k", "rms", "rid")
      .withColumn("ts", timestamp_millis(col("rms")))
    val got = CoreOps.asofJoinTolerant(left, right, "k", "ts",
        Seq("rms", "rid"), 50L)
      .select("lid", "rms", "rid")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // lid 10: match at 90, age 10 <= 50 -> carries
    // lid 11: same match, age 410 > 50 -> nulls
    // lid 12: match at 5, age 95 > 50 -> nulls
    assert(got == Map(10L -> ((Some(90L), Some(20L))),
      11L -> ((None, None)), 12L -> ((None, None))))
    // the unbounded join still carries all three
    val free = CoreOps.asofJoin(left, right, "k", "ts", Seq("rms", "rid"))
      .select("lid", "rid").as[(Long, Option[Long])].collect().toMap
    assert(free == Map(10L -> Some(20L), 11L -> Some(20L), 12L -> Some(21L)))
    assertThrows[IllegalArgumentException](
      CoreOps.asofJoinTolerant(left, right, "k", "ts", Seq("rms", "rid"), 0L))
  }

  test("funnelTimed: a stage landing past the deadline stops the chain; " +
      "inside it the timed funnel equals the unbounded one") {
    val df = Seq(
      // u1: view@0 -> click@50 -> purchase@80: all inside a 100ms window
      (1L, 0L, "view"), (1L, 50L, "click"), (1L, 80L, "purchase"),
      // u2: click arrives 200ms after view -> chain stops at stage 0
      (2L, 0L, "view"), (2L, 200L, "click"), (2L, 250L, "purchase"),
      // u3: click in time, purchase 150ms after the click -> 2 stages only
      (3L, 0L, "view"), (3L, 90L, "click"), (3L, 240L, "purchase"))
      .toDF("u", "msr", "et")
      .withColumn("ts", timestamp_millis(col("msr"))).drop("msr")
    val stages = Seq(col("et") === "view", col("et") === "click",
      col("et") === "purchase")
    val timed = CoreOps.funnelTimed(df, "u", "ts", stages, 100L)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(timed == Seq((1L, 0L, 50L, 80L))) // only u1 completes
    // u1 completes in the unbounded funnel too, identically
    val free = CoreOps.funnel(df.filter(col("u") === 1L), "u", "ts", stages)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(free == Seq((1L, 0L, 50L, 80L)))
    assertThrows[IllegalArgumentException](
      CoreOps.funnelTimed(df, "u", "ts", stages, 0L))
  }

  test("exactRegression2: recovers an exact planar fit; collinear and " +
      "tiny groups yield NULL coefficients; integral guard") {
    // y = 2 + 3·x1 + 5·x2 exactly -> b=(2,3,5), sse=0
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 1L))
    val df = pts.map { case (a, b) => ("g", 2 + 3 * a + 5 * b, a, b) }
      .toDF("g", "y", "x1", "x2")
    val got = CoreOps.exactRegression2(df, "g", "y", "x1", "x2")
      .as[(String, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    def t6(x: Double) = math.floor(x * 1000000d) / 1000000d
    // expectations through the operator's own fixed double chain
    val (n, s1, s2, sy) = (5d, 4d, 3d, 37d)
    val (s11, s12, s22) = (6d, 3d, 3d)
    val (s1y, s2y, syy) = (41d, 30d, 347d)
    def det3(a: Double, b: Double, c: Double, d: Double, e: Double,
             f: Double, g: Double, h: Double, i: Double) =
      a * (e * i - f * h) - b * (d * i - f * g) + c * (d * h - e * g)
    val dd = det3(n, s1, s2, s1, s11, s12, s2, s12, s22)
    val b0 = det3(sy, s1, s2, s1y, s11, s12, s2y, s12, s22) / dd
    val b1 = det3(n, sy, s2, s1, s1y, s12, s2, s2y, s22) / dd
    val b2 = det3(n, s1, sy, s1, s11, s1y, s2, s12, s2y) / dd
    val sst = syy - sy * sy / n
    val r2 = 1.0d - (syy - b0 * sy - b1 * s1y - b2 * s2y) / sst
    assert(got == (("g", 5L, Some(t6(b0)), Some(t6(b1)), Some(t6(b2)),
      Some(t6(r2)))))
    // collinear regressors (x2 = 2·x1): Gram determinant exactly 0
    val coll = Seq(1L, 2L, 3L, 4L)
      .map(a => ("c", a, a, 2 * a)).toDF("g", "y", "x1", "x2")
    val gc = CoreOps.exactRegression2(coll, "g", "y", "x1", "x2")
      .as[(String, Long, Option[Double], Option[Double], Option[Double],
        Option[Double])].collect().head
    assert(gc == (("c", 4L, None, None, None, None)))
    assertThrows[IllegalArgumentException](
      CoreOps.exactRegression2(df.withColumn("y", col("y").cast("double")),
        "g", "y", "x1", "x2"))
  }

  test("welchTTestByGroup: each group's stats equal the single-group run " +
      "on that slice") {
    val df = Seq(("x", true, 10L), ("x", true, 20L), ("x", false, 30L),
      ("x", false, 40L), ("x", false, 50L),
      ("y", true, 1L), ("y", true, 5L), ("y", false, 2L), ("y", false, 8L))
      .toDF("g", "a", "c")
    val byGroup = CoreOps.welchTTestByGroup(df, "g", col("a"), "c")
      .as[(String, Long, Long, Option[Double], Option[Double],
        Option[Double], Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    Seq("x", "y").foreach { g =>
      val single = CoreOps.welchTTest(df.filter(col("g") === g),
        col("a"), "c")
        .as[(Long, Long, Option[Double], Option[Double], Option[Double],
          Option[Double])].collect().head
      assert(byGroup(g) == single, s"group $g")
    }
    assertThrows[IllegalArgumentException](
      CoreOps.welchTTestByGroup(df.withColumnRenamed("g", "t2"),
        "t2", col("a"), "c"))
  }

  test("calibrationCurve: exact integer bin edges, clamped out-of-range, " +
      "per-bin positive rates") {
    val df = Seq((5L, true), (5L, false), (15L, true), (25L, false),
      (-3L, false), (105L, true)) // -3 clamps to bin 0, 105 to bin 9
      .toDF("s", "y")
    val got = CoreOps.calibrationCurve(df, "s", col("y"), 0L, 100L, 10)
      .as[(Long, Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    def t6(x: Double) = math.floor(x * 1000000d) / 1000000d
    assert(got.keySet == Set(0L, 1L, 2L, 9L))
    assert(got(0L) == ((3L, 1L, t6(7d / 3d), t6(1d / 3d)))) // 5,5,-3
    assert(got(1L) == ((1L, 1L, 15.0, 1.0)))
    assert(got(2L) == ((1L, 0L, 25.0, 0.0)))
    assert(got(9L) == ((1L, 1L, 105.0, 1.0)))
    assertThrows[IllegalArgumentException](
      CoreOps.calibrationCurve(df, "s", col("y"), 0L, 0L, 10))
    assertThrows[IllegalArgumentException](
      CoreOps.calibrationCurve(df.withColumn("s", col("s").cast("double")),
        "s", col("y"), 0L, 100L, 10))
  }

  test("quantileNormalizeApprox emits actual global values; the checked " +
      "twin's rank-space verdict holds on every row") {
    val df = (1L to 100L)
      .map(i => (if (i % 2 == 0) "a" else "b", i, i))
      .toDF("g", "tb", "v")
    val approx = CoreOps.quantileNormalizeApprox(df, "g", "v", "tb")
      .as[(String, Long, Long, Long)].collect()
    assert(approx.length == 100)
    val vals = (1L to 100L).toSet
    assert(approx.forall(r => vals.contains(r._4))) // sketch returns data
    val checked = CoreOps.quantileNormalizeChecked(df, "g", "v", "tb")
    assert(checked.count() == 100L)
    assert(checked.filter(!col("within_bound")).count() == 0L)
    // exact twin agrees with quantileNormalize on the shared columns
    val exact = CoreOps.quantileNormalize(df, "g", "v", "tb")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(checked.select("g", "tb", "v", "qn_value")
      .as[(String, Long, Long, Long)].collect().toSet == exact)
    assertThrows[IllegalArgumentException](
      CoreOps.quantileNormalizeApprox(
        df.withColumn("v", col("v").cast("double")), "g", "v", "tb"))
  }

  test("spearmanCorr: monotonic-but-curved ≈ 1, reversed ≈ -1, ties use " +
      "average ranks (doubled-int encoding); expectations mirror the " +
      "exact double chain") {
    // the operator's closing chain verbatim (num/va/vb are exact ints)
    def expect(num: Double, va: Double, vb: Double): Double =
      math.floor(num / (math.sqrt(va) * math.sqrt(vb)) * 1e6) / 1e6
    // x strictly increasing, y = x³ (monotone, nonlinear): Spearman 1.
    // r2 = (2,4,..,12) both axes → num = va = vb = 420
    val mono = (1L to 6L).map(i => ("m", i, i * i * i)).toDF("g", "x", "y")
    assert(CoreOps.spearmanCorr(mono, "g", "x", "y")
      .as[(String, Long, Double)].head() == (("m", 6L, expect(420, 420, 420))))
    // reversed: same ranks opposite order → num = −420
    val rev = (1L to 6L).map(i => ("r", i, -i)).toDF("g", "x", "y")
    assert(CoreOps.spearmanCorr(rev, "g", "x", "y")
      .as[(String, Long, Double)].head() == (("r", 6L, expect(-420, 420, 420))))
    // ties on both axes: x=(1,2,2,3) → r2=(2,5,5,8) (avg rank 2.5 for the
    // tied pair); identical on y → num = va = vb = 72
    val tied = Seq(("t", 1L, 10L), ("t", 2L, 20L), ("t", 2L, 20L),
      ("t", 3L, 30L)).toDF("g", "x", "y")
    assert(CoreOps.spearmanCorr(tied, "g", "x", "y")
      .as[(String, Long, Double)].head() == (("t", 4L, expect(72, 72, 72))))
    // tie asymmetry: x=(1,2,3,4) → r2x=(2,4,6,8); y=(10,10,20,30) →
    // r2y=(3,3,6,8). num = 4·118−400 = 72, va = 4·120−400 = 80, vb = 72
    val mixed = Seq(("h", 1L, 10L), ("h", 2L, 10L), ("h", 3L, 20L),
      ("h", 4L, 30L)).toDF("g", "x", "y")
    val got = CoreOps.spearmanCorr(mixed, "g", "x", "y")
      .as[(String, Long, Double)].head()
    assert(got == (("h", 4L, expect(72, 80, 72))))
    assert(got._3 > 0.94 && got._3 < 0.95) // sanity on the hand value
    // doubles are legal inputs (comparison-only ranks): r2=(2,4,6) → V=24
    val dbl = Seq(("d", 0.5, 5L), ("d", 1.5, 7L), ("d", 2.5, 9L))
      .toDF("g", "x", "y")
    assert(CoreOps.spearmanCorr(dbl, "g", "x", "y")
      .as[(String, Long, Double)].head()._3 == expect(24, 24, 24))
    assertThrows[IllegalArgumentException](
      CoreOps.spearmanCorr(mixed, "g", "x", "x"))
  }

  test("completedStreaks: closed islands only, duplicate days collapse, " +
      "a single-run user emits nothing") {
    def ts(day: Long, h: Long) = (day * 86400000L + h * 3600000L)
    val df = Seq(
      (1L, ts(1, 1)), (1L, ts(1, 5)), (1L, ts(2, 0)),  // run 1-2 (dupe day)
      (1L, ts(4, 0)),                                  // run 4 (closes 1-2)
      (1L, ts(9, 0)),                                  // open run: excluded
      (2L, ts(5, 0)), (2L, ts(6, 0)))                  // one open run only
      .toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val got = CoreOps.completedStreaks(df, "user_id", "ts")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 2L, 2L), (1L, 4L, 4L, 1L)))
  }

  test("concurrencyProfile: sweep deltas at grain boundaries, inclusive " +
      "ends, zero-length intervals active at their own boundary") {
    // grain 10: A[5,23] → +@10, −@30; B[10,10] → +@10, −@20; C[0,9] →
    // +@0, −@10. Active: 0→1, 10→2, 20→1, 30→0
    val iv = Seq((5L, 23L), (10L, 10L), (0L, 9L)).toDF("s", "e")
    val got = CoreOps.concurrencyProfile(iv, "s", "e", 10L)
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 1L), (10L, 2L), (20L, 1L), (30L, 0L)))
    val bad = Seq((23L, 5L)).toDF("s", "e")
    val err = intercept[Exception] {
      CoreOps.concurrencyProfile(bad, "s", "e", 10L).collect()
    }
    def msg(e: Throwable): String =
      (Option(e.getMessage) ++ Option(e.getCause).map(msg)).mkString(" ")
    assert(msg(err).contains("concurrencyProfile"))
    assertThrows[IllegalArgumentException](
      CoreOps.concurrencyProfile(iv, "s", "e", 0L))
  }

  test("asofJoin guards its internal carry columns (_r, _rts, _side)") {
    val l = Seq((1L, 1000L, "x")).toDF("k", "t", "_rts")
    val r = Seq((1L, 500L, "m")).toDF("k", "t", "payload")
    val e = intercept[IllegalArgumentException](
      CoreOps.asofJoin(l, r, "k", "t", Seq("payload")))
    assert(e.getMessage.contains("_rts"))
    assertThrows[IllegalArgumentException](
      CoreOps.asofJoin(l.withColumnRenamed("_rts", "a"),
        r.withColumnRenamed("payload", "_side"), "k", "t", Seq("_side")))
  }

  test("kaplanMeier: censoring shrinks risk sets without counting as " +
      "death; the quantized-log walk matches the hand fold; a full-death " +
      "step emits survival 0 with NULL logsurv") {
    def qlog(x: Long): Long = math.floor(math.log(x.toDouble) * 1e6).toLong
    def ev(u: Long, days: Seq[Long]) = days.map(d => (u, d * 86400000L))
    // global max day 30; churn gap 7 => observed churn iff last day <= 23
    val rows =
      ev(1, Seq(0, 1, 2)) ++ ev(2, Seq(0, 1)) ++ ev(3, Seq(0, 2)) ++
      ev(4, 1L to 30L) ++ ev(5, Seq(0, 25)) ++ ev(6, Seq(7, 8))
    val df = rows.toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = CoreOps.kaplanMeier(df, "user_id", "ts", 7, 7)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getLong(5)),
          r.getDouble(6)))).toMap
    // cohort 0: u1(dur 2, death) u2(1, death) u3(2, death)
    //           u4(dur 29, censored: last=30) u5(dur 25, censored)
    val ls1 = qlog(4) - qlog(5)            // dur 1: n=5, d=1
    val ls2 = ls1 + (qlog(2) - qlog(4))    // dur 2: n=4, d=2
    def surv(ls: Long) = math.floor(math.exp(ls.toDouble / 1e6) * 1e6) / 1e6
    assert(got == Map(
      (0L, 1L) -> ((5L, 1L, 0L, Some(ls1), surv(ls1))),
      (0L, 2L) -> ((4L, 2L, 0L, Some(ls2), surv(ls2))),
      // cohort 7: u6 alone, dies at dur 1 — whole risk set gone
      (7L, 1L) -> ((1L, 1L, 0L, None, 0.0))))
  }

  test("funnelReport: NULL-carrying chain counts every stage from one " +
      "frame; Wilson bounds match the hand formula and stay inside [0,1] " +
      "at tiny n") {
    def ev(u: Long, t: Long, k: String) = (u, t, k)
    val rows = Seq(
      ev(1, 10, "view"), ev(1, 20, "click"), ev(1, 30, "purchase"),
      ev(2, 10, "view"), ev(2, 25, "click"),
      ev(3, 10, "view"),
      ev(4, 5, "click"), // click with no prior view: never enters
      ev(5, 10, "view"), ev(5, 9, "click")) // click BEFORE view: no advance
    val df = rows.toDF("user_id", "ms", "event_type")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val got = CoreOps.funnelReport(df, "user_id", "ts",
      Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    def wilson(k: Long, n: Long): (Double, Double, Double) = {
      val nn = n.toDouble; val p = k.toDouble / nn
      val z = 1.96; val z2 = 3.8416
      val denom = 1d + z2 / nn
      val center = (p + z2 / (2d * nn)) / denom
      val half = (z / denom) * math.sqrt(p * (1d - p) / nn + z2 / (4d * nn * nn))
      def t6(x: Double) = math.floor(x * 1e6) / 1e6
      (t6(p), t6(center - half), t6(center + half))
    }
    val (r1, l1, h1) = wilson(2, 4) // views: u1,u2,u3,u5; clicks after: u1,u2
    val (r2, l2, h2) = wilson(1, 2) // purchases after click: u1
    assert(got == Map(1L -> ((4L, 2L, r1, l1, h1)),
      2L -> ((2L, 1L, r2, l2, h2))))
    got.values.foreach { case (_, _, _, lo, hi) =>
      assert(lo >= 0d && hi <= 1d) // the Wilson point: bounds stay in [0,1]
    }
  }

  test("funnelReport deepest-stage count equals funnel's completer count") {
    val df = Tables.events(spark, "/root/testdata/sf0.001")
    val stages = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    val completers = CoreOps.funnel(df, "user_id", "ts", stages).count()
    val deepest = CoreOps.funnelReport(df, "user_id", "ts", stages)
      .filter(col("stage") === 2).collect().head.getLong(2)
    assert(deepest == completers)
  }

  test("ucbScores: under-observed arms outrank well-observed mediocre " +
      "ones; the quantized chain matches the hand fold") {
    val rows = Seq.fill(50)(("steady", 100L)) ++ Seq(("rare", 120L))
    val got = CoreOps.ucbScores(rows.toDF("arm", "cents"), "arm", "cents",
        1000L, 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    def qlog(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    def ucb(n: Long, sc: Long, nn: Long) =
      t6(sc.toDouble / (n.toDouble * 1000d)
        + 2d * math.sqrt((qlog(nn).toDouble / 1e6) / n.toDouble))
    assert(got("steady") == ((50L, 5000L, t6(0.1), ucb(50, 5000, 51))))
    assert(got("rare") == ((1L, 120L, t6(0.12), ucb(1, 120, 51))))
    assert(got("rare")._4 > got("steady")._4) // exploration wins
  }

  test("joinSizeEstimate: the estimate never undershoots the exact join " +
      "size, matches it exactly when w has no collisions, and NULL keys " +
      "drop") {
    import spark.implicits._
    val a = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None).toDF("ka")
    val b = Seq(Some(1L), Some(2L), Some(2L), Some(9L)).toDF("kb")
    // exact: key 1 → 2·1, key 2 → 1·2 ⇒ 4 rows over 2 common keys
    val r = CoreOps.joinSizeEstimate(a, "ka", b, "kb", 4, 512).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (4L, 4L, 2L, 4L))
    assert(r.getLong(4) >= 4L)     // CM inner product is an upper bound
    assert(r.getBoolean(5))        // and within ε = 3/w here
    // a huge width makes collisions vanishingly unlikely on 4 keys:
    // estimate == exact
    val r2 = CoreOps.joinSizeEstimate(a, "ka", b, "kb", 4, 1 << 20).head()
    assert(r2.getLong(4) == 4L)
    // empty side: estimate and exact both 0
    val r3 = CoreOps.joinSizeEstimate(a.filter(col("ka") > 100L), "ka",
      b, "kb", 4, 64).head()
    assert(r3.getLong(3) == 0L && r3.getLong(4) == 0L)
  }

  test("theilSen: one corrupt point cannot move the median slope; " +
      "negative slopes TRUNCATE like DuckDB //; oversize input fails loud") {
    import spark.implicits._
    // y = 2x with one wild outlier at x=4
    val pts = Seq((0L, 0L), (1L, 2L), (2L, 4L), (3L, 6L), (4L, 100L))
      .toDF("x", "y")
    val r = CoreOps.theilSen(pts, "x", "y").head()
    assert((r.getLong(0), r.getLong(1)) == (5L, 10L))
    assert(r.getLong(2) == 2000000L && r.getDouble(3) == 2.0)
    assert(r.getLong(4) == 0L) // median intercept of the clean majority
    // (0,5) → (3,3): slope −2/3 must TRUNCATE to −666666 — DuckDB's
    // BIGINT // truncates toward zero (probed: -7//2 = -3), so a FLOOR
    // to −666667 would hash-mismatch the oracle on any declining series
    val rn = CoreOps.theilSen(Seq((0L, 5L), (3L, 3L)).toDF("x", "y"),
      "x", "y").head()
    assert(rn.getLong(2) == -666666L)
    // declining series whose MEDIAN slope is negative and non-divisible:
    // all three pairwise slopes are −7e6/3 → trunc −2333333 (floor would
    // give −2333334); intercepts then land at {0, −1, −2}, lower-median −1
    val rd = CoreOps.theilSen(
      Seq((0L, 0L), (3L, -7L), (6L, -14L)).toDF("x", "y"), "x", "y").head()
    assert(rd.getLong(2) == -2333333L)
    assert(rd.getLong(4) == -1L)
    // a single point has no pairs → empty frame, not a fake zero trend
    assert(CoreOps.theilSen(Seq((1L, 1L)).toDF("x", "y"), "x", "y").isEmpty)
    val e = intercept[IllegalArgumentException] {
      CoreOps.theilSen((1L to 30L).map(i => (i, i)).toDF("x", "y"),
        "x", "y", maxPoints = 10)
    }
    assert(e.getMessage.contains("theilSen"))
  }

  test("diffInDiff: the textbook four-cell hand case; empty cells NULL " +
      "the estimate, n<=1 cells NULL the se") {
    // control pre {0,2} post {2,4}; treat pre {0,2} post {6,8}:
    // DiD = (7−1) − (3−1) = 4; each cell s²/n = 1 → se = 2, z = 2
    val df = Seq(
      (false, false, 0L), (false, false, 2L),
      (false, true, 2L), (false, true, 4L),
      (true, false, 0L), (true, false, 2L),
      (true, true, 6L), (true, true, 8L)).toDF("t", "p", "v")
    val r = CoreOps.diffInDiff(df, col("t"), col("p"), "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 2L, 2L)))
    assert(r.getDouble(4) == 4.0 && r.getDouble(5) == 2.0 &&
      r.getDouble(6) == 2.0)
    // an empty cell: no treated-post rows
    val sparse = df.filter(!(col("t") && col("p")))
    val rs = CoreOps.diffInDiff(sparse, col("t"), col("p"), "v").head()
    assert(rs.isNullAt(4) && rs.isNullAt(5) && rs.isNullAt(6))
  }

  test("cupedAdjustedDiff: pooled-theta hand case; zero pre-variance " +
      "NULLs theta and the adjusted diff but not the raw one") {
    // treat (x,y): (0,2),(2,6); control: (2,0),(4,4)
    // θ = 0.5, raw = 2, adj = 2 − 0.5·(1 − 3) = 3
    val df = Seq((1L, true, 0L, 2L), (2L, true, 2L, 6L),
      (3L, false, 2L, 0L), (4L, false, 4L, 4L))
      .toDF("id", "t", "x", "y")
    val r = CoreOps.cupedAdjustedDiff(df, col("t"), "x", "y").head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 0.5 && r.getDouble(3) == 2.0 &&
      r.getDouble(4) == 3.0)
    val flat = df.withColumn("x", lit(7L))
    val rf = CoreOps.cupedAdjustedDiff(flat, col("t"), "x", "y").head()
    assert(rf.isNullAt(2) && rf.getDouble(3) == 2.0 && rf.isNullAt(4))
  }

  test("wassersteinDistance: a pure shift costs exactly the shift, " +
      "identical samples cost 0, an empty side is NULL") {
    val a = Seq(0L, 0L).toDF("v")
    val b = Seq(2L, 2L).toDF("v")
    val r = CoreOps.wassersteinDistance(a, b, "v").head()
    // grid {0, 2}: |2·2 − 0·2| = 4 over gap 2 → num 8, W1 = 8/4 = 2
    assert(r.getLong(0) == 2L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 8d && r.getDouble(3) == 2.0)
    assert(CoreOps.wassersteinDistance(a, a, "v").head().getDouble(3) == 0.0)
    // mixed-mass hand case: a = {0, 10}, b = {0, 0} → F gap 0 then 1/2
    // over gap 10 → W1 = 5
    val r2 = CoreOps.wassersteinDistance(Seq(0L, 10L).toDF("v"),
      Seq(0L, 0L).toDF("v"), "v").head()
    assert(r2.getDouble(3) == 5.0)
    val empty = Seq.empty[Long].toDF("v")
    val re = CoreOps.wassersteinDistance(a, empty, "v").head()
    assert(re.getLong(1) == 0L && re.isNullAt(3))
  }

  test("nelsonAalen: hand-checked hazard steps; the additive companion " +
      "of kaplanMeier shares its lifetime construction") {
    // u1, u2 live day 0 only (deaths at dur 0); u3 lives days 0..1
    // (censored at the frontier). n_risk at dur 0 = 3 → Ĥ = 2/3.
    val day = 86400000L
    val ev = Seq((1L, 0L), (2L, 0L), (3L, 0L), (3L, day))
      .toDF("user_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
    val out = CoreOps.nelsonAalen(ev, "user_id", "ts", 1, 7).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L && r.getLong(2) == 3L
      && r.getLong(3) == 2L)
    assert(r.getLong(4) == 2L * 1000000000000L / 3L)
    assert(r.getDouble(5) == (2L * 1000000000000L / 3L).toDouble / 1e12)
  }

  test("lorenzCurve: exact cumulative shares on a hand case; negative " +
      "values fail loud") {
    // entities with values 0, 1, 1, 2 → T = 4
    val df = Seq(0L, 1L, 1L, 2L).toDF("v")
    val out = CoreOps.lorenzCurve(df, "v")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(0L).getLong(2) == 1L && out(0L).getLong(3) == 0L)
    assert(out(0L).getDouble(4) == 0.25 && out(0L).getDouble(5) == 0.0)
    assert(out(1L).getLong(2) == 3L && out(1L).getLong(3) == 2L)
    assert(out(1L).getDouble(4) == 0.75 && out(1L).getDouble(5) == 0.5)
    assert(out(2L).getDouble(4) == 1.0 && out(2L).getDouble(5) == 1.0)
    val e = intercept[Exception] {
      CoreOps.lorenzCurve(Seq(-1L).toDF("v"), "v").collect()
    }
    assert(e.getMessage.contains("lorenzCurve"))
  }

  test("wassersteinByGroup == wassersteinDistance applied per group " +
      "slice; one-sided groups emit NULL") {
    val aRows = Seq(("x", 0L), ("x", 0L), ("x", 10L), ("y", 5L), ("z", 1L))
    val bRows = Seq(("x", 2L), ("x", 8L), ("y", 5L))
    val grouped = CoreOps.wassersteinByGroup(
        aRows.toDF("g", "v"), bRows.toDF("g", "v"), "g", "v")
      .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    for (g <- Seq("x", "y")) {
      val slice = CoreOps.wassersteinDistance(
        aRows.filter(_._1 == g).map(_._2).toDF("v"),
        bRows.filter(_._1 == g).map(_._2).toDF("v"), "v").head().toSeq
      assert(grouped(g) == slice, s"group $g")
    }
    assert(grouped("z")(3) == null) // absent side → NULL w1
  }

  test("stratifiedAte: weighted per-stratum diffs against a hand fold; " +
      "single-arm strata excluded from both the fold and N") {
    // stratum p: treat mean 30, control mean 10 (diff 20, n=4)
    // stratum q: treat mean 5,  control mean 15 (diff -10, n=2)
    // stratum r: treat only — excluded
    val rows = Seq(
      ("p", 0L, 20L), ("p", 0L, 40L), ("p", 1L, 10L), ("p", 1L, 10L),
      ("q", 0L, 5L), ("q", 1L, 15L),
      ("r", 0L, 99L)
    ).toDF("stratum", "arm", "cents")
    val r = CoreOps.stratifiedAte(rows, "stratum", col("arm") === 0, "cents")
      .head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 6L)))
    val expect =
      math.floor(20.0 * 4 / 6 * 1e6).toLong +
        math.floor(-10.0 * 2 / 6 * 1e6).toLong
    assert(r.getLong(3) == expect)
  }

  test("dpRelease: contribution clamp, k-min suppression, and the seeded " +
      "noise formula replayed by hand") {
    // u1 spams category a 5× (clamped to 2); b has a single contributor
    // row (suppressed at kMin=2); c clears the gate exactly
    val rows = Seq(
      (1L, "a", 1L), (1L, "a", 2L), (1L, "a", 3L), (1L, "a", 4L),
      (1L, "a", 5L), (2L, "a", 6L),
      (1L, "b", 7L),
      (1L, "c", 8L), (2L, "c", 9L)
    ).toDF("user", "cat", "eid")
    val got = CoreOps.dpRelease(rows, "user", "cat", "eid", 2, 2L, "dp")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    def noise(cat: String): Long = {
      val h = graft.expressions.Md5Hash.first32(
        org.apache.spark.unsafe.types.UTF8String.fromString(cat + "dp"))
      val v = h - 2147483648L
      val lap = math.floor(math.log(2147483648.0) * 1e6).toLong -
        math.floor(math.log(math.abs(v).toDouble + 1) * 1e6).toLong
      (if (v < 0) -1L else 1L) * lap
    }
    assert(got.keySet == Set("a", "c")) // b suppressed
    assert(got("a") == ((3L, noise("a"), 3L * 1000000L + 2L * noise("a"))))
    assert(got("c") == ((2L, noise("c"), 2L * 1000000L + 2L * noise("c"))))
  }

  test("intervalOverlapJoin: matches the brute-force O(n²) overlap join, " +
      "emits cross-cell pairs exactly once, drops empty intervals, and " +
      "fails loud past maxCells") {
    val left = Seq((1L, 0L, 2500L), (2L, 4000L, 4000L), (3L, 900L, 1100L))
      .toDF("a_id", "a_s", "a_e") // id 2 is empty → dropped
    val right = Seq((10L, 2000L, 3000L), (11L, 0L, 5000L), (12L, 2600L, 2900L))
      .toDF("b_id", "b_s", "b_e")
    val got = CoreOps.intervalOverlapJoin(left, "a_s", "a_e",
        right, "b_s", "b_e", 1000L, 10)
      .select(col("a_id"), col("b_id"), col("overlap_ms"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val l = Seq((1L, 0L, 2500L), (3L, 900L, 1100L))
    val rr = Seq((10L, 2000L, 3000L), (11L, 0L, 5000L), (12L, 2600L, 2900L))
    val brute = for {
      (li, ls, le) <- l; (ri, rs, re) <- rr
      if ls < re && rs < le
    } yield (li, ri, math.min(le, re) - math.max(ls, rs))
    assert(got == brute.toSet)
    // the (1, 11) pair co-resides in cells 0,1,2 — exactly-once is the
    // set-vs-bag check: recount as a bag
    val bag = CoreOps.intervalOverlapJoin(left, "a_s", "a_e",
      right, "b_s", "b_e", 1000L, 10).count()
    assert(bag == brute.size.toLong)
    // span guard: an interval across >= maxCells cells aborts
    val wide = Seq((9L, 0L, 20000L)).toDF("a_id", "a_s", "a_e")
    val err = intercept[Exception](
      CoreOps.intervalOverlapJoin(wide, "a_s", "a_e",
        right, "b_s", "b_e", 1000L, 10).count())
    assert(err.getMessage.contains("intervalOverlapJoin"))
  }

  test("mannWhitney: doubled-rank U against the brute-force pair count " +
      "with cross-arm ties; all-tied input yields NULL z") {
    // A = [1, 3, 3], B = [2, 3] — a tie within and across arms
    val rows = Seq((0L, 1L), (0L, 3L), (0L, 3L), (1L, 2L), (1L, 3L))
      .toDF("arm", "v")
    val r = CoreOps.mannWhitney(rows, col("arm") === 0, "v").head()
    // brute force: U_a = #(a > b) + #(a = b)/2 over all (a, b) pairs
    val a = Seq(1L, 3L, 3L); val b = Seq(2L, 3L)
    val u2 = (for { x <- a; y <- b } yield
      (if (x > y) 2L else if (x == y) 1L else 0L)).sum
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, u2)))
    // tie term: value 3 has t=3 → 24; others t=1 → 0
    assert(r.getLong(3) == 24L)
    assert(r.getLong(4) == ((u2 - 6L) * 1000000L) / 6L)
    val tied = Seq((0L, 5L), (1L, 5L), (0L, 5L)).toDF("arm", "v")
    assert(CoreOps.mannWhitney(tied, col("arm") === 0, "v").head().isNullAt(5))
  }

  test("permutationEntropy: a strictly rising series is one pattern " +
      "(entropy 0); a balanced two-pattern series lands at ln2/ln6; " +
      "short keys emit nothing") {
    val rising = (1L to 6L).map(i => ("k", i, i, i * 10L))
      .toDF("key", "ts", "eid", "v")
    val r1 = CoreOps.permutationEntropy(rising, "key", "ts", "eid", "v").head()
    assert((r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((4L, 1L, 0L)))
    // zig-zag 1,9,2,8,3 → patterns alternate between exactly two codes
    val zig = Seq(1L, 9L, 2L, 8L, 3L, 7L, 4L).zipWithIndex
      .map { case (v, i) => ("z", i.toLong, i.toLong, v) }
      .toDF("key", "ts", "eid", "v")
    val r2 = CoreOps.permutationEntropy(zig, "key", "ts", "eid", "v")
      .head()
    assert(r2.getLong(2) == 2L)
    // counts (3, 2): H = ln5 - (3ln3 + 2ln2)/5, qlog-quantized then /ln6
    val h = 5L * math.floor(math.log(5d) * 1e6).toLong -
      (3L * math.floor(math.log(3d) * 1e6).toLong
        + 2L * math.floor(math.log(2d) * 1e6).toLong)
    assert(r2.getLong(3) ==
      math.floor(h.toDouble / 5d / math.log(6d)).toLong)
    val short = Seq(("s", 1L, 1L, 1L), ("s", 2L, 2L, 2L))
      .toDF("key", "ts", "eid", "v")
    assert(CoreOps.permutationEntropy(short, "key", "ts", "eid", "v")
      .count() == 0L)
  }

  test("logRankTest: O−E and hypergeometric V against a hand fold over " +
      "a pooled grid with censoring in both arms") {
    // lifetimes (first/last day): A(even): (0,2)d (0,5)d (0,100)c;
    // B(odd): (0,2)d (0,95)c — frontier 100, gap 10 → death iff l <= 90
    val days = Seq((0L, 0L), (0L, 2L), (2L, 0L), (2L, 5L), (4L, 0L),
      (4L, 100L), (1L, 0L), (1L, 2L), (3L, 0L), (3L, 95L))
    val ev = days.toDF("user_id", "day")
      .withColumn("ts", timestamp_millis(col("day") * 86400000L))
    val r = CoreOps.logRankTest(ev, "user_id", "ts",
      pmod(col("user_id"), lit(2)) === 0, 10).head()
    // t=2: ra=3 rb=2 dt=2 da=1 → oe = 1e6 − 2·3e6 div 5 = −200000,
    //   v = 2·3·2·3·1e6 div (25·4) = 360000
    // t=5: ra=2 rb=1 dt=1 da=1 → oe = 1e6 − 2e6 div 3 = 333334,
    //   v = 1·2·1·2·1e6 div (9·2) = 222222
    val oe = -200000L + 333334L; val v = 360000L + 222222L
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 2L)))
    assert((r.getLong(3), r.getLong(4)) == ((oe, v)))
    assert(r.getLong(5) == oe * oe / v)
  }

  test("isotonicCalibration: the minimax fit equals a hand PAV merge on " +
      "a violating sequence, and is monotone") {
    // bin rates (1.0, 0.0, 0.5, 1.0) with equal mass 2 → PAV pools the
    // first three bins' violations to 0.5 and leaves bin 3 at 1.0
    val rows = Seq((5L, true), (5L, true), (15L, false), (15L, false),
      (25L, true), (25L, false), (35L, true), (35L, true))
      .toDF("score", "y")
    val got = CoreOps.isotonicCalibration(rows, "score", col("y"),
        0L, 40L, 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == Map(
      0L -> ((2L, 2L, 1000000L, 500000L)),
      1L -> ((2L, 0L, 0L, 500000L)),
      2L -> ((2L, 1L, 500000L, 500000L)),
      3L -> ((2L, 2L, 1000000L, 1000000L))))
    val iso = got.toSeq.sortBy(_._1).map(_._2._4)
    assert(iso == iso.sorted) // monotone by construction
  }

  test("seasonalDecompose: an alternating series decomposes to zero " +
      "residual everywhere; edge rows without a full window drop") {
    // v(i) = 10 if i even else 20, period 2, half 1 → pure seasonality
    val rows = (0L to 13L).map(i => ("k", i, if (i % 2 == 0) 10L else 20L))
      .toDF("key", "idx", "v")
    val got = CoreOps.seasonalDecompose(rows, "key", "idx", "v", 2, 1)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got.size == 12 && !got.contains(0L) && !got.contains(13L))
    // odd idx: window sum 40 → trend 13333333, seasonal +6666667
    assert(got(1L) == ((1L, 13333333L, 6666667L, 0L)))
    // even idx: window sum 50 → trend 16666666, seasonal −6666666
    assert(got(2L) == ((0L, 16666666L, -6666666L, 0L)))
    assert(got.values.forall(_._4 == 0L)) // residual-free by construction
  }

  test("dpSumRelease: per-user totals clamp into [0, clampSum], the " +
      "contributor gate suppresses, and the seeded noise replays") {
    val rows = Seq(
      (1L, "a", 6000L), (1L, "a", 7000L), // u1 total 13000 → clamp 10000
      (2L, "a", -500L),                   // u2 total −500 → clamp 0
      (1L, "b", 42L),                     // single contributor → suppressed
      (1L, "c", 3000L), (2L, "c", 4000L)
    ).toDF("user", "cat", "cents")
    val got = CoreOps.dpSumRelease(rows, "user", "cat", "cents", 10000L, 2L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def noise(cat: String): Long = {
      val h = graft.expressions.Md5Hash.first32(
        org.apache.spark.unsafe.types.UTF8String.fromString(cat + "dps"))
      val v = h - 2147483648L
      val lap = math.floor(math.log(2147483648.0) * 1e6).toLong -
        math.floor(math.log(math.abs(v).toDouble + 1) * 1e6).toLong
      (if (v < 0) -1L else 1L) * lap
    }
    assert(got.keySet == Set("a", "c"))
    assert(got("a") == ((2L, 10000L, noise("a"),
      10000L * 1000000L + 10000L * noise("a"))))
    assert(got("c") == ((2L, 7000L, noise("c"),
      7000L * 1000000L + 10000L * noise("c"))))
  }

  test("chiSquareResiduals: adjusted residuals on a symmetric 2x2 against " +
      "the closed form; signs mirror; expected counts exact") {
    // cells x0=3 x1=1 y0=1 y1=3 → E = 2 everywhere, adj = ±√2
    val rows = (Seq.fill(3)(("x", 0L)) ++ Seq(("x", 1L)) ++ Seq(("y", 0L))
      ++ Seq.fill(3)(("y", 1L))).toDF("a", "b")
    val got = CoreOps.chiSquareResiduals(rows, "a", "b")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // the operator's own IEEE chain: num/n / sqrt(e·(1−r/n)·(1−c/n))
    val den = math.sqrt(2.0 * 0.5 * 0.5)
    val pos = math.floor(8.0 / 8.0 / den * 1e6) / 1e6
    val neg = math.floor(-8.0 / 8.0 / den * 1e6) / 1e6
    assert(got == Map(
      ("x", 0L) -> ((3L, 2.0, pos)), ("x", 1L) -> ((1L, 2.0, neg)),
      ("y", 0L) -> ((1L, 2.0, neg)), ("y", 1L) -> ((3L, 2.0, pos))))
    // a degenerate single-column table → NULL residuals, not ±∞
    val degen = Seq(("x", 0L), ("y", 0L)).toDF("a", "b")
    assert(CoreOps.chiSquareResiduals(degen, "a", "b").collect()
      .forall(_.isNullAt(4)))
  }

  test("rmstDiff: exact step-function areas under each arm's KM curve " +
      "against a hand walk; an all-censored arm reads tau exactly") {
    // the logRankTest fixture: A(even): (0,2)d (0,5)d (0,100)c;
    // B(odd): (0,2)d (0,95)c — frontier 100, gap 10, tau 10
    val days = Seq((0L, 0L), (0L, 2L), (2L, 0L), (2L, 5L), (4L, 0L),
      (4L, 100L), (1L, 0L), (1L, 2L), (3L, 0L), (3L, 95L))
    val ev = days.toDF("user_id", "day")
      .withColumn("ts", timestamp_millis(col("day") * 86400000L))
    val r = CoreOps.rmstDiff(ev, "user_id", "ts",
      pmod(col("user_id"), lit(2)) === 0, 10, 10L).head()
    def ql(x: Long) = math.floor(math.log(x.toDouble) * 1e6).toLong
    def sv(ls: Long) = math.floor(math.exp(ls.toDouble / 1e6) * 1e6).toLong
    // A: S(2) from ls = ql2−ql3, S(5) from ls += ql1−ql2
    val sA2 = sv(ql(2) - ql(3)); val sA5 = sv(ql(2) - ql(3) - ql(2))
    val areaA = 2L * 1000000L + 3L * sA2 + 5L * sA5
    // B: S(2) from ls = ql1−ql2; curve flat to tau
    val areaB = 2L * 1000000L + 8L * sv(-ql(2))
    assert((r.getLong(0), r.getLong(1)) == ((3L, 2L)))
    assert((r.getLong(2), r.getLong(3), r.getLong(4))
      == ((areaA, areaB, areaA - areaB)))
    // every odd user censored → arm B has no death step → tau exactly
    val cens = Seq((0L, 0L), (0L, 2L), (1L, 0L), (1L, 95L), (2L, 0L),
      (2L, 100L)).toDF("user_id", "day")
      .withColumn("ts", timestamp_millis(col("day") * 86400000L))
    val r2 = CoreOps.rmstDiff(cens, "user_id", "ts",
      pmod(col("user_id"), lit(2)) === 0, 10, 10L).head()
    assert(r2.getLong(3) == 10L * 1000000L)
  }

  test("simpsonCheck: a constructed paradox flips — every stratum favors " +
      "A, the raw aggregate favors B, sign_flip fires") {
    // p: A {10} vs B {8,8,8} (+2); q: A {2,2,2} vs B {1} (+1);
    // raw: A mean 4 vs B mean 6.25 (−2.25)
    val rows = Seq(
      ("p", 0L, 10L), ("p", 1L, 8L), ("p", 1L, 8L), ("p", 1L, 8L),
      ("q", 0L, 2L), ("q", 0L, 2L), ("q", 0L, 2L), ("q", 1L, 1L)
    ).toDF("st", "arm", "v")
    val r = CoreOps.simpsonCheck(rows, "st", col("arm") === 0, "v").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((2L, 2L, 8L)))
    assert(r.getLong(3) == -2250000L)       // raw favors B
    assert(r.getLong(4) == 1500000L)        // strata favor A
    assert(r.getBoolean(5))                 // the paradox bit
    // no paradox: both read the same direction
    val sane = Seq(("p", 0L, 10L), ("p", 1L, 5L)).toDF("st", "arm", "v")
    assert(!CoreOps.simpsonCheck(sane, "st", col("arm") === 0, "v")
      .head().getBoolean(5))
  }

  test("seasonalStrength: a purely seasonal series reads 1e6 ppm; a " +
      "constant series has no detrended variance and reads NULL") {
    val seasonal = (0L to 13L)
      .map(i => ("k", i, if (i % 2 == 0) 10L else 20L))
      .toDF("key", "idx", "v")
    val r = CoreOps.seasonalStrength(seasonal, "key", "idx", "v", 2, 1)
      .head()
    assert((r.getLong(1), r.getLong(2)) == ((12L, 1000000L)))
    val flat = (0L to 13L).map(i => ("k", i, 10L)).toDF("key", "idx", "v")
    assert(CoreOps.seasonalStrength(flat, "key", "idx", "v", 2, 1)
      .head().isNullAt(2))
  }

  test("ntileKeyed matches the ntile window bit-for-bit: uneven counts, " +
      "ties, n < k, NULL ord both orders, NULL keys") {
    import org.apache.spark.sql.expressions.Window
    // 3 keys with deliberately awkward shapes: 7 rows (7 = 2·3+1 → sizes
    // 3/2/2), heavy ties, a 2-row key (n < k), a NULL-ord row, a NULL key
    val rng = new scala.util.Random(7)
    val rows = (1L to 7L).map(i => ("a", Option(rng.nextInt(3).toLong), i)) ++
      Seq(("a", None, 8L), ("b", Some(5L), 9L), ("b", Some(5L), 10L),
        (null, Some(1L), 11L), (null, Some(2L), 12L)) ++
      (13L to 20L).map(i => ("c", Option(rng.nextInt(2).toLong), i))
    val df = rows.toDF("k", "v", "id")
    for (nullsLast <- Seq(false, true)) {
      val ord = if (nullsLast) col("v").asc_nulls_last else col("v").asc
      val want = df.withColumn("b",
          ntile(3).over(Window.partitionBy(col("k")).orderBy(ord, col("id")))
            .cast("long"))
        .select("id", "b").as[(Long, Long)].collect.toMap
      val got = CoreOps.ntileKeyed(df, col("k"), col("v"), "id", 3, "b",
          nullsLast = nullsLast)
        .select("id", "b").as[(Long, Long)].collect.toMap
      assert(got == want, s"nullsLast=$nullsLast")
    }
  }

  test("orderedPrefixSumKeyed matches the per-key running window and keeps " +
      "the NULL-prefix discipline") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 1L, Some(10L), 1L), ("a", 1L, Some(20L), 2L),
        ("a", 5L, None, 3L), ("a", 9L, Some(1L), 4L),
        ("b", 2L, None, 5L), ("b", 3L, Some(7L), 6L))
      .toDF("k", "t", "v", "id")
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("run", sum(col("v")).over(w))
      .select("id", "run").as[(Long, Option[Long])].collect.toMap
    val got = CoreOps.orderedPrefixSumKeyed(df, col("k"), col("t"), "id",
        "v", "run")
      .select("id", "run").as[(Long, Option[Long])].collect.toMap
    assert(got == want)
    // b's first row precedes any non-NULL value for key b → stays NULL,
    // even though key a already has mass (per-key, not global, discipline)
    assert(got(5L).isEmpty)
  }

  test("orderedPrefixSumsKeyed carries several running sums through ONE " +
      "pass, each equal to its single-column form; double orderings sort " +
      "raw (fractions under one bucket image stay ordered)") {
    import org.apache.spark.sql.expressions.Window
    val df = Seq(("a", 0.10, 1L, 10L, 1L), ("a", 0.05, 1L, 20L, 2L),
        ("a", 0.15, 1L, 5L, 3L), ("b", 2.5, 1L, 7L, 4L),
        ("b", 2.25, 1L, 9L, 5L), ("b", -1.5, 1L, 3L, 6L))
      .toDF("k", "v", "one", "w", "id")
    val multi = CoreOps.orderedPrefixSumsKeyed(df, col("k"), col("v"), "id",
        Seq("one" -> "rk", "w" -> "cw"))
      .select("id", "rk", "cw").as[(Long, Long, Long)].collect
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val wref = Window.partitionBy(col("k")).orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("rk", sum(col("one")).over(wref))
      .withColumn("cw", sum(col("w")).over(wref))
      .select("id", "rk", "cw").as[(Long, Long, Long)].collect
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(multi == want)
  }

  test("orderedPrefixSumsKeyedWithTotals: the fused grand totals equal the " +
      "separate groupBy-sum join (NULL keys and NULL values included), " +
      "the running sums are untouched, and unknown totals columns fail") {
    val df = Seq((Some("a"), 1L, Some(10L), 1L), (Some("a"), 3L, None, 2L),
        (Some("a"), 9L, Some(5L), 3L), (None, 2L, Some(7L), 4L),
        (None, 4L, Some(2L), 5L), (Some("b"), 1L, None, 6L))
      .toDF("k", "t", "v", "id")
    val fused = CoreOps.orderedPrefixSumsKeyedWithTotals(df, col("k"),
        col("t"), "id", Seq("v" -> "run"), Seq("v" -> "tot"))
      .select("id", "run", "tot")
      .as[(Long, Option[Long], Option[Long])].collect
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val runs = CoreOps.orderedPrefixSumKeyed(df, col("k"), col("t"), "id",
        "v", "run")
      .select("id", "run").as[(Long, Option[Long])].collect.toMap
    // the unfused total: a grouped sum joined back NULL-SAFELY (the
    // joinGroupTotals convention — a NULL key is a group of its own)
    val tots = df.select(col("k"), col("id"))
      .join(df.groupBy(col("k").as("k2")).agg(sum(col("v")).as("tot")),
        col("k") <=> col("k2"), "left")
      .select("id", "tot").as[(Long, Option[Long])].collect.toMap
    df.select("id").as[Long].collect.foreach { id =>
      assert(fused(id) == ((runs(id), tots(id))), s"row $id: ${fused(id)}")
    }
    // a NULL key is a group of its own: rows 4+5 share one total
    assert(fused(4L)._2.contains(9L) && fused(5L)._2.contains(9L))
    // key b has only NULL values: total stays NULL, not 0
    assert(fused(6L)._2.isEmpty)
    val bad = intercept[IllegalArgumentException] {
      CoreOps.orderedPrefixSumsKeyedWithTotals(df, col("k"), col("t"), "id",
        Seq("v" -> "run"), Seq("t" -> "tt"))
    }
    assert(bad.getMessage.contains("must also be a `sums` value column"))
  }

  test("orderedPrefixSum, numericProfile and the transition tail each " +
      "compute their upstream once across construction and execution") {
    val n = 2000L
    // a nondeterministic UDF is never duplicated or re-ordered by the
    // optimizer, so its accumulator counts each evaluation of the upstream
    def counted(name: String) = {
      val acc = spark.sparkContext.longAccumulator(name)
      (acc, udf { (x: Long) => acc.add(1L); x }.asNondeterministic())
    }
    val base = spark.range(n).toDF("id")
      .withColumn("user_id", col("id") % 37)
      .withColumn("event_type", (col("id") % 3).cast("string"))

    val (prefixAcc, prefixUdf) = counted("prefix_upstream")
    CoreOps.orderedPrefixSum(base.withColumn("ord", prefixUdf(col("id"))),
      col("ord"), "id", "user_id", "cum").collect()
    assert(prefixAcc.value == n)

    val (profileAcc, profileUdf) = counted("profile_upstream")
    CoreOps.numericProfile(base.withColumn("v", profileUdf(col("id"))),
      Seq("v", "user_id")).collect()
    assert(profileAcc.value == n)

    // the *_stream entries' shape: the StateMachines walk, then the tail.
    // The counter sits on the walk's output, one row per consecutive pair
    // (each of the 37 users' first event has none): a self-join tail reuses
    // the input exchange but runs the walk, whose closures never compare
    // equal, twice
    val (walkAcc, walkUdf) = counted("transition_upstream")
    val counts = StateMachines.transitionPairs(StateMachines.keyedEvents(
        base, col("user_id"), col("id"), col("id"), col("event_type")))
      .withColumn("n_pair", walkUdf(lit(1L)))
      .groupBy(col("from_state"), col("to_state"))
      .agg(sum(col("n_pair")).as("n"))
    CoreOps.withTransitionProbs(counts, Seq("from_state")).collect()
    assert(walkAcc.value == n - 37)
  }
}
