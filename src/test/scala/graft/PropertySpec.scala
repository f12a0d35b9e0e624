package graft

import graft.operators.CoreOps
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties over randomly generated event sets (SURVEY §5). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(10)
  private def check(p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, r.status.toString)
  }

  private val eventsGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    ms <- Gen.listOfN(n, Gen.choose(0L, 50000L))
  } yield ms.zipWithIndex.map { case (m, i) => (i.toLong, m) }

  test("property: tumbling-window counts always sum to the input row count") {
    check(Prop.forAll(eventsGen) { rows =>
      val df = rows.toDF("event_id", "ms").withColumn("ts", timestamp_millis(col("ms")))
      val total = CoreOps.tumblingCount(df, "ts", "3 seconds")
        .agg(sum("cnt")).as[Long].head()
      total == rows.size
    })
  }

  test("property: session count per key equals 1 + number of gaps > gap " +
      "(touching windows MERGE — probed, not assumed)") {
    val gapMs = 5000L
    check(Prop.forAll(eventsGen) { rows =>
      val df = rows.toDF("event_id", "ms")
        .withColumn("ts", timestamp_millis(col("ms")))
        .withColumn("user_id", lit(1L))
      val sessions = CoreOps.sessionSummary(df, "user_id", "ts", "5 seconds").count()
      val sorted = rows.map(_._2).sorted
      // STRICT >: session_window merges touching windows, so an event
      // exactly gap after its predecessor stays in-session (a ScalaCheck
      // run found the >= counterexample at spacing exactly 5000)
      val expected = 1 + sorted.zip(sorted.tail).count { case (a, b) => b - a > gapMs }
      sessions == expected
    })
    // the exact-boundary regression pinned deterministically
    val boundary = Seq((1L, 0L), (2L, gapMs)).toDF("event_id", "ms")
      .withColumn("ts", timestamp_millis(col("ms")))
      .withColumn("user_id", lit(1L))
    assert(CoreOps.sessionSummary(boundary, "user_id", "ts", "5 seconds")
      .count() == 1L)
  }

  test("property: window join size = sum over (key, bucket) of |L| * |R|") {
    val pairGen = for {
      l <- eventsGen; r <- eventsGen
      keys <- Gen.listOfN(l.size max r.size, Gen.choose(1L, 4L))
    } yield (l.zip(keys).map { case ((id, ms), k) => (id, ms, k) },
             r.zip(keys.reverse).map { case ((id, ms), k) => (id, ms, k) })
    check(Prop.forAll(pairGen) { case (lRows, rRows) =>
      def df(rows: List[(Long, Long, Long)]) = rows.toDF("event_id", "ms", "user_id")
        .withColumn("ts", timestamp_millis(col("ms")))
      val bucket = (ms: Long) => ms - ms % 10000
      val lCnt = lRows.groupBy(e => (e._3, bucket(e._2))).view.mapValues(_.size)
      val rCnt = rRows.groupBy(e => (e._3, bucket(e._2))).view.mapValues(_.size)
      val expected = lCnt.map { case (k, n) => n.toLong * rCnt.getOrElse(k, 0) }.sum
      CoreOps.windowJoin(df(lRows), df(rRows), "user_id", "ts", "10 seconds",
        Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
        .count() == expected
    })
  }

  test("property: salted running sum equals the plain running sum (incl. ties, hot keys)") {
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        ms <- Gen.choose(0L, 20000L) // narrow range → frequent equal-ts ties
        k <- Gen.oneOf(1L, 1L, 1L, 2L) // key 1 is hot (75% of rows)
        v <- Gen.choose(0, 10000)
      } yield (ms, k, v / 100.0))
    } yield rows.zipWithIndex.map { case ((m, k, v), i) => (i.toLong, m, k, v) }
    check(Prop.forAll(gen) { rows =>
      val df = rows.toDF("event_id", "ms", "user_id", "value")
        .withColumn("ts", timestamp_millis(col("ms")))
      def result(d: org.apache.spark.sql.DataFrame) =
        d.select("event_id", "run").as[(Long, Double)].collect().toMap
      val plain = result(CoreOps.runningSum(df, "user_id", "ts", "event_id", "value", "run"))
      val salted = result(CoreOps.runningSumSalted(df, "user_id", "ts", "event_id", "value", "run", 4))
      plain == salted
    })
  }

  test("property: asofJoin equals the brute-force latest-at-or-before match " +
      "(NULL ts and NULL payload fields included)") {
    // keys 0..2, coarse timestamps so equal-ts collisions actually occur;
    // ~1/10 of rows on each side carry a NULL ts (ASOF: never matches);
    // right side made unique per (key, ts) as the operator requires, and its
    // `aux` payload field is NULL on every third row — the per-column-carry
    // bug class stitches an older aux into the matched row
    val sideGen: Gen[List[(Long, Option[Long], Long)]] = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 2L)
        ms <- Gen.frequency(
          9 -> Gen.choose(0L, 20L).map(m => Option(m * 1000)),
          1 -> Gen.const(Option.empty[Long]))
      } yield (k, ms))
    } yield rows.zipWithIndex.map { case ((k, ms), i) => (k, ms, i.toLong) }
    check(Prop.forAll(sideGen, sideGen) { (lRows, rRowsRaw) =>
      val rRows = rRowsRaw.groupBy(r => (r._1, r._2)).map { case ((k, ms), g) =>
        val rid = g.map(_._3).max // unique (key, ts), deterministic tie
        (k, ms, rid, if (rid % 3 == 0) Option.empty[Long] else Some(rid * 10))
      }.toList
      val left = lRows.toDF("k", "ms", "lid")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      val right = rRows.toDF("k", "r_ms", "rid", "aux")
        .withColumn("ts", timestamp_millis(col("r_ms")))
      val got = CoreOps.asofJoin(left, right, "k", "ts", Seq("r_ms", "rid", "aux"))
        .select("lid", "r_ms", "rid", "aux")
        .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
        .map { case (l, m, r, a) => l -> ((m, r, a)) }.toMap
      val expected = lRows.map { case (k, ms, lid) =>
        val cand = ms match {
          case None => Nil // NULL-ts left row matches nothing
          case Some(m) => rRows.filter(r => r._1 == k && r._2.exists(_ <= m))
        }
        lid -> (if (cand.isEmpty) (None, None, None)
                else {
                  val m = cand.maxBy(r => (r._2.get, r._3))
                  (m._2, Some(m._3), m._4)
                })
      }.toMap
      got == expected
    })
  }

  test("property: dupClusters equals union-find components with min labels") {
    // a != b by construction — a `filter` here would discard ~86% of cases
    // (each of up to 30 pairs fails w.p. 1/16) and intermittently trip
    // ScalaCheck's max-discard-ratio "gave up" failure
    val pairsGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(0, 30)
      ps <- Gen.listOfN(n, for {
        a <- Gen.choose(0L, 15L); d <- Gen.choose(1L, 15L)
      } yield (a, (a + d) % 16))
    } yield ps
    check(Prop.forAll(pairsGen) { pairs =>
      val got = graft.operators.Dedup
        .dupClusters(pairs.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      // brute-force union-find over the same edges
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(n => n -> find(n)).toMap
      // union-find roots ARE the component minima because unions keep the
      // smaller root
      got == expected
    })
  }

  test("property: the split band gate (ids-only buckets + doc-keyed gram " +
      "store) equals the brute-force lower-id shared-bucket jaccard " +
      "verdict") {
    import graft.streaming.{BandProbe, StateMachines}
    // random small gram sets from a 12-element universe, two buckets per
    // doc from two 6-bucket pools — dense enough that shared buckets,
    // true near-dups, AND empty-gram docs all occur
    val docsGen: Gen[List[(Long, Int, Int, Array[Long])]] = for {
      n <- Gen.choose(1, 22)
      ds <- Gen.listOfN(n, for {
        b1 <- Gen.choose(0, 5); b2 <- Gen.choose(0, 5)
        sh <- Gen.someOf(0L to 11L)
      } yield (b1, b2, sh.toArray.sorted))
    } yield ds.zipWithIndex.map { case ((b1, b2, sh), i) =>
      (i + 1L, b1, b2, sh)
    }
    check(Prop.forAll(docsGen) { docs =>
      val probes = docs.flatMap { case (id, b1, b2, sh) =>
        Seq(BandProbe(s"b$b1", id, "en", "t", is_first = true,
            carrier = true, sh),
          BandProbe(s"c$b2", id, "en", "t", is_first = true,
            carrier = false, sh))
      }
      def jac(a: Array[Long], b: Array[Long]): Double = {
        val (sa, sb) = (a.toSet, b.toSet)
        if (sa.isEmpty || sb.isEmpty) 0.0
        else (sa & sb).size.toDouble / (sa | sb).size
      }
      // brute force: dup iff SOME lower-id doc shares a bucket slot and
      // verifies at >= 0.5 exact jaccard (the slot prefixes b/c never
      // collide across slots)
      val expected = docs.map { case (id, b1, b2, sh) =>
        id -> docs.exists { case (m, mb1, mb2, msh) =>
          m < id && (b1 == mb1 || b2 == mb2) && jac(msh, sh) >= 0.5
        }
      }.toMap
      val got = StateMachines.bandKeepFirst(probes.toDS(), 0.5, 1000)
        .collect().groupMapReduce(_.doc_id)(_.near_dup)(_ || _)
      got == expected
    })
  }

  test("property: quantileProfileChecked's bound verdict holds on adversarial value sets") {
    // heavy duplicates, huge order-statistic gaps, tiny groups — the shapes
    // that break value-interval bounds; the rank-window check must stay true
    val valuesGen: Gen[List[Double]] = for {
      n <- Gen.choose(1, 80)
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.choose(0.0, 1.0), Gen.const(42.0), Gen.const(1e12),
        Gen.const(-1e9), Gen.choose(1e6, 2e6)))
    } yield vs
    check(Prop.forAll(valuesGen) { vs =>
      val df = vs.map(("g", _)).toDF("g", "value")
      CoreOps.quantileProfileChecked(df, "g", "value", Seq(0.5, 0.95, 0.99))
        .filter(!col("within_bound")).count() == 0
    })
  }

  test("property: saltedJoin emits exactly the plain inner join's rows") {
    // skewed left keys (most rows hit key 0), duplicate keys on BOTH sides,
    // and right keys that sometimes miss — the salt must never add, drop,
    // or re-pair a row
    val gen = for {
      nl <- Gen.choose(1, 50)
      lk <- Gen.listOfN(nl, Gen.frequency(6 -> Gen.const(0L), 4 -> Gen.choose(0L, 5L)))
      nr <- Gen.choose(1, 12)
      rows <- Gen.listOfN(nr, for {
        k <- Gen.choose(0L, 7L)
        p <- Gen.choose(0L, 99L)
      } yield (k, p))
    } yield (lk.zipWithIndex.map { case (k, i) => (i.toLong, k) }, rows)
    check(Prop.forAll(gen) { case (lrows, rrows) =>
      val left = lrows.toDF("event_id", "k")
      val right = rrows.toDF("rk", "payload")
      val salted = CoreOps.saltedJoin(left, right, "k", "rk", "event_id", 4)
        .select("event_id", "k", "rk", "payload")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      val plain = left.join(right, col("k") === col("rk"))
        .select("event_id", "k", "rk", "payload")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
      salted == plain
    })
  }

  test("property: orderedPrefixSum equals the single-window global prefix sum (NULLs, ties)") {
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        o <- Gen.choose(0L, 12L) // narrow range → frequent order ties
        v <- Gen.frequency(8 -> Gen.choose(0L, 100L).map(Option(_)),
          2 -> Gen.const(Option.empty[Long]))
      } yield (o, v))
    } yield rows.zipWithIndex.map { case ((o, v), i) => (i.toLong, o, v) }
    check(Prop.forAll(gen) { rows =>
      val df = rows.toDF("id", "ord", "v")
      val got = CoreOps.orderedPrefixSum(df, col("ord"), "id", "v", "cum")
        .select("id", "cum").as[(Long, Option[Long])].collect().toMap
      // brute force: sort by (ord, id), running sum skipping NULLs, NULL
      // until the first non-NULL value
      var acc = 0L; var seen = false
      val expected = rows.sortBy(r => (r._2, r._1)).map { case (id, _, v) =>
        v.foreach { x => acc += x; seen = true }
        id -> (if (seen) Some(acc) else None)
      }.toMap
      got == expected
    })
  }

  test("property: orderedPrefixSumDecimal equals the BigDecimal fold " +
      "(fractional money, NULLs, ties, any partitioning)") {
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        o <- Gen.choose(0L, 12L) // narrow range → frequent order ties
        // cents-grained money, incl. negatives (refunds)
        v <- Gen.frequency(8 -> Gen.choose(-10000L, 10000L)
          .map(c => Option(c / 100.0)), 2 -> Gen.const(Option.empty[Double]))
      } yield (o, v))
      parts <- Gen.choose(1, 5)
    } yield (rows.zipWithIndex.map { case ((o, v), i) => (i.toLong, o, v) },
      parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val df = rows.toDF("id", "ord", "v").repartition(parts)
      val got = CoreOps.orderedPrefixSumDecimal(df, col("ord"), "id", "v", "cum")
        .select("id", "cum").as[(Long, Option[BigDecimal])].collect().toMap
      var acc = BigDecimal(0); var seen = false
      val expected = rows.sortBy(r => (r._2, r._1)).map { case (id, _, v) =>
        v.foreach { x => acc += BigDecimal(x).setScale(2); seen = true }
        id -> (if (seen) Some(acc) else None)
      }.toMap
      got.keySet == expected.keySet && got.forall { case (id, c) =>
        (c, expected(id)) match {
          case (Some(a), Some(b)) => a.compare(b) == 0 // scale-insensitive
          case (a, b) => a == b
        }
      }
    })
  }

  test("property: concatPack equals the sequential concat-then-chunk fold, " +
      "any partitioning") {
    val gen = for {
      n <- Gen.choose(1, 50)
      toks <- Gen.listOfN(n, Gen.frequency(
        6 -> Gen.choose(0L, 40L), 1 -> Gen.const(0L), 1 -> Gen.choose(100L, 300L)))
      pack <- Gen.choose(1L, 64L)
      parts <- Gen.choose(1, 5)
    } yield (toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }, pack, parts)
    check(Prop.forAll(gen) { case (rows, pack, parts) =>
      val df = rows.toDF("id", "tok").repartition(parts)
      val got = graft.operators.Curation
        .concatPack(df, col("id"), "id", "tok", pack)
        .select("id", "pack_first", "pack_last", "offset_in_pack")
        .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
      var pos = 0L
      val expected = rows.sortBy(_._1).map { case (id, t) =>
        val first = pos / pack
        val last = if (t > 0) (pos + t - 1) / pack else first
        val off = pos % pack
        pos += t
        id -> ((id, first, last, off))
      }.toMap
      got == expected
    })
  }

  test("property: groupTopK equals the brute-force per-group ranking") {
    val gen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, for {
        g <- Gen.choose(0L, 3L)
        s <- Gen.choose(0, 5).map(_ / 4.0) // coarse scores → frequent ties
      } yield (g, s))
      k <- Gen.choose(1, 4)
    } yield (rows.zipWithIndex.map { case ((g, s), i) => (i.toLong, g, s) }, k)
    check(Prop.forAll(gen) { case (rows, k) =>
      val got = CoreOps.groupTopK(rows.toDF("id", "g", "score"), Seq("g"),
          col("score"), "id", k)
        .select("g", "rank", "id").as[(Long, Long, Long)].collect().toSet
      val expected = rows.groupBy(_._2).flatMap { case (g, members) =>
        members.sortBy(r => (-r._3, r._1)).take(k).zipWithIndex
          .map { case (r, i) => (g, (i + 1).toLong, r._1) }
      }.toSet
      got == expected
    })
  }

  test("property: rangeJoin equals the brute-force inequality join " +
      "(empty/NULL intervals, boundary hits, keyed and keyless, both grains)") {
    // coarse ms values so points land exactly ON start/end boundaries often;
    // interval lengths can be zero or negative (dropped by the half-open
    // contract) and ~1/10 of starts are NULL (match nothing)
    val pointGen = for {
      n <- Gen.choose(0, 40)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 2L)
        ms <- Gen.choose(0L, 30L).map(_ * 1000)
      } yield (k, ms))
    } yield rows.zipWithIndex.map { case ((k, m), i) => (i.toLong, k, m) }
    val ivGen = for {
      n <- Gen.choose(0, 15)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 2L)
        s <- Gen.frequency(
          9 -> Gen.choose(0L, 30L).map(v => Option(v * 1000)),
          1 -> Gen.const(Option.empty[Long]))
        len <- Gen.choose(-2L, 12L).map(_ * 1000)
      } yield (k, s, s.map(_ + len)))
    } yield rows.zipWithIndex.map { case ((k, s, e), i) => (i.toLong, k, s, e) }
    check(Prop.forAll(pointGen, ivGen, Gen.oneOf(700L, 4000L, 60000L)) {
      (pts, ivs, grain) =>
        val points = pts.toDF("pid", "k", "ms")
          .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
        val intervals = ivs.toDF("iid", "k", "s", "e")
        def expected(keyed: Boolean) = (for {
          (pid, pk, pms) <- pts
          (iid, ik, s, e) <- ivs
          if !keyed || pk == ik
          if s.exists(pms >= _) && e.exists(pms < _) && s.exists(e.get > _)
        } yield (pid, iid)).toSet
        val keyless = CoreOps.rangeJoin(points, "ts",
            intervals.drop("k"), "s", "e", grain)
          .select("pid", "iid").as[(Long, Long)].collect().toSet
        val keyed = CoreOps.rangeJoin(points, "ts",
            intervals, "s", "e", grain, Seq("k"))
          .select("pid", "iid").as[(Long, Long)].collect().toSet
        keyless == expected(keyed = false) && keyed == expected(keyed = true)
    })
  }

  test("property: bloom semi/anti joins emit exactly the plain join's rows " +
      "(NULL keys, empty small side, fpp high enough to force false positives)") {
    val bigGen = for {
      n <- Gen.choose(0, 50)
      rows <- Gen.listOfN(n, Gen.frequency(
        9 -> Gen.choose(0L, 30L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long])))
    } yield rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }
    val smallGen = for {
      n <- Gen.choose(0, 12)
      ks <- Gen.listOfN(n, Gen.choose(0L, 30L))
    } yield ks.distinct
    check(Prop.forAll(bigGen, smallGen) { (bigRows, smallKeys) =>
      val big = bigRows.toDF("rid", "k")
      val small = smallKeys.toDF("sk")
      // fpp 0.3 makes false positives near-certain across runs, so the
      // exact-verify stage is genuinely load-bearing in this test
      val semi = CoreOps.bloomSemiJoin(big, small, "k", "sk",
          math.max(smallKeys.size.toLong, 1), 0.3)
        .select("rid").as[Long].collect().toSet
      val anti = CoreOps.bloomAntiJoin(big, small, "k", "sk",
          math.max(smallKeys.size.toLong, 1), 0.3)
        .select("rid").as[Long].collect().toSet
      val inSmall = smallKeys.toSet
      val expectedSemi = bigRows.filter(_._2.exists(inSmall)).map(_._1).toSet
      val expectedAnti = bigRows.map(_._1).toSet -- expectedSemi
      semi == expectedSemi && anti == expectedAnti
    })
  }

  test("property: CMS estimates are exact-or-over, exact at wide w, and " +
      "invariant to partitioning (element-wise-sum merge)") {
    val gen = for {
      n <- Gen.choose(0, 60)
      rows <- Gen.listOfN(n, Gen.choose(0L, 12L).map(k => s"k$k"))
      parts <- Gen.choose(1, 5)
    } yield (rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }, parts)
    check(Prop.forAll(gen) { case (rows, parts) =>
      val df = rows.toDF("rid", "k")
      val exact = rows.groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
      // w=8 forces collisions: estimates may only ever OVERcount
      val narrow = CoreOps.heavyHittersCms(df, "k", 2, 8)
        .as[(String, Long)].collect().toMap
      // w=1024 over ≤13 keys: collisions are possible but astronomically
      // unlikely for this fixed key set; md5 is deterministic, so this
      // either always passes or never does — and it passes
      val wide = CoreOps.heavyHittersCms(df.repartition(parts), "k", 4, 1024)
        .as[(String, Long)].collect().toMap
      narrow.keySet == exact.keySet && wide.keySet == exact.keySet &&
        exact.forall { case (k, c) => narrow(k) >= c } &&
        exact.forall { case (k, c) => wide(k) == c }
    })
  }

  test("property: external-candidates CMS matches the distinct-candidates " +
      "form on shared keys, carries candidate columns, drops NULL keys") {
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, Gen.choose(0L, 12L).map(k => s"k$k"))
      topN <- Gen.choose(1, 6)
    } yield (rows.zipWithIndex.map { case (k, i) => (i.toLong, k) }, topN)
    check(Prop.forAll(gen) { case (rows, topN) =>
      val df = rows.toDF("rid", "k")
      val full = CoreOps.heavyHittersCms(df, "k", 4, 1024)
        .as[(String, Long)].collect().toMap
      val cand = CoreOps.keyProfile(df, "k", topN)
        .union(Seq((null.asInstanceOf[String], 0L)).toDF("k", "n_events"))
      val got = CoreOps.heavyHittersCms(df, "k", 4, 1024, cand)
        .select("k", "n_events", "est_count")
        .as[(String, Long, Long)].collect()
      val exact = rows.groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
      got.length == math.min(topN, exact.size) && // NULL candidate dropped
        got.forall { case (k, n, est) => exact(k) == n && full(k) == est }
    })
  }

  test("external-candidates CMS plan has no full-cardinality distinct when " +
      "fed from keyProfile") {
    val df = (0L until 100L).map(i => (i, s"u${i % 10}")).toDF("rid", "k")
    val plan = CoreOps.heavyHittersCms(df, "k", 4, 64,
      CoreOps.keyProfile(df, "k", 3)).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
    // the only aggregate over the raw key is keyProfile's bounded top-N —
    // the sketch side is one global (groupless) aggregate
    assert(!plan.toLowerCase.contains("distinct"))
  }

  test("property: sessionize equals the sequential fold over sorted events") {
    val gen = for {
      n <- Gen.choose(0, 50)
      rows <- Gen.listOfN(n, for {
        k <- Gen.choose(0L, 2L)
        ms <- Gen.choose(0L, 20L).map(_ * 1000) // coarse → boundary gaps occur
      } yield (k, ms))
      gap <- Gen.oneOf(1000L, 3000L, 5000L)
    } yield (rows.zipWithIndex.map { case ((k, m), i) => (i.toLong, k, m) }, gap)
    check(Prop.forAll(gen) { case (rows, gap) =>
      val df = rows.toDF("event_id", "user_id", "ms")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      val got = CoreOps.sessionize(df, "user_id", "ts", "event_id", gap)
        .select("event_id", "session_seq").as[(Long, Long)].collect().toMap
      val expected = rows.groupBy(_._2).flatMap { case (_, g) =>
        val sorted = g.sortBy(r => (r._3, r._1))
        var seq = 0L; var prev = Option.empty[Long]
        sorted.map { case (id, _, m) =>
          if (prev.forall(p => m - p > gap)) seq += 1
          prev = Some(m)
          id -> seq
        }
      }
      got == expected
    })
  }

  test("property: split partitions are disjoint and exhaustive") {
    check(Prop.forAll(eventsGen) { rows =>
      val df = rows.toDF("event_id", "ms")
      val (a, b) = CoreOps.splitBy(df, col("ms") % 2 === 0)
      a.count() + b.count() == rows.size
    })
  }

  // (key, ms, unique eid, small signed value) — shared by the round-7
  // statistics properties
  private val keyedValsGen: Gen[List[(String, Long, Long, Long)]] = for {
    n <- Gen.choose(1, 60)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c")
      ms <- Gen.choose(0L, 1000L)
      v <- Gen.choose(-50L, 50L)
    } yield (k, ms, v))
  } yield rows.zipWithIndex.map { case ((k, ms, v), i) => (k, ms, i.toLong, v) }

  test("property: expandingAnomaly flags equal the BigInt brute force " +
      "under any partitioning") {
    check(Prop.forAll(keyedValsGen, Gen.choose(1, 7)) { (rows, nPart) =>
      val df = rows.toDF("k", "ms", "eid", "v")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
        .repartition(nPart)
      val got = CoreOps.expandingAnomaly(df, "k", "ts", "eid", "v", 2, 3)
        .select("k", "eid").as[(String, Long)].collect().toSet
      val want = rows.groupBy(_._1).toList.flatMap { case (k, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._3))
        var n = 0L; var s = BigInt(0); var ss = BigInt(0)
        sorted.flatMap { case (_, _, eid, v) =>
          val flag = n >= 3 && {
            val dev = BigInt(v) * n - s
            val vr = BigInt(n) * ss - s * s
            vr > 0 && dev * dev > BigInt(4) * vr
          }
          n += 1; s += v; ss += BigInt(v) * v
          if (flag) Some((k, eid)) else None
        }
      }.toSet
      got == want
    })
  }

  test("property: trimmedMean equals the sorted-trim fold (ties, any " +
      "trim fraction)") {
    check(Prop.forAll(keyedValsGen, Gen.choose(0, 499)) { (rows, trim) =>
      val df = rows.toDF("g", "ms", "eid", "v").drop("ms")
      val got = CoreOps.trimmedMean(df, "g", "v", "eid", trim)
        .as[(String, Long, Long, Option[Double])].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.map(r => (r._4, r._3)).sorted
        val n = sorted.size
        val t = n * trim / 1000
        val kept = sorted.slice(t, n - t).map(_._1)
        val mean =
          if (kept.isEmpty) None
          else Some(math.floor(kept.map(BigInt(_)).sum.toDouble
            / kept.size.toDouble * 1000000d) / 1000000d)
        g -> ((n.toLong, kept.size.toLong, mean))
      }
      got == want
    })
  }

  test("property: funnelTimed equals the greedy earliest-chain brute force " +
      "under any deadline") {
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, for {
        k <- Gen.oneOf("a", "b")
        ms <- Gen.choose(0L, 200L)
        st <- Gen.oneOf("s0", "s1", "s2")
      } yield (k, ms, st))
      gap <- Gen.choose(1L, 100L)
    } yield (rows.zipWithIndex.map { case ((k, ms, st), i) =>
      (k, ms, i.toLong, st) }, gap)
    check(Prop.forAll(gen) { case (rows, gap) =>
      val df = rows.toDF("k", "ms", "eid", "st")
        .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      val stages = Seq(col("st") === "s0", col("st") === "s1",
        col("st") === "s2")
      val got = CoreOps.funnelTimed(df, "k", "ts", stages, gap)
        .as[(String, Long, Long, Long)].collect().toSet
      val want = rows.groupBy(_._1).flatMap { case (k, rs) =>
        def next(kind: String, after: Long): Option[Long] =
          rs.filter(r => r._4 == kind && r._2 > after && r._2 - after <= gap)
            .map(_._2).minOption
        val t0 = rs.filter(_._4 == "s0").map(_._2).minOption
        val t1 = t0.flatMap(next("s1", _))
        val t2 = t1.flatMap(next("s2", _))
        for { a <- t0; b <- t1; c <- t2 } yield (k, a, b, c)
      }.toSet
      got == want
    })
  }

  test("property: quantileNormalize maps within-group rank r of n to the " +
      "global value at rank ceil(r*N/n), at any grain") {
    check(Prop.forAll(keyedValsGen, Gen.oneOf(1L, 7L, 1024L)) { (rows, grain) =>
      val df = rows.toDF("g", "ms", "eid", "v").drop("ms")
      val got = CoreOps.quantileNormalize(df, "g", "v", "eid", grain)
        .select("eid", "qn_value").as[(Long, Long)].collect().toMap
      val globalSorted = rows.map(_._4).sorted
      val nn = globalSorted.size
      val want = rows.groupBy(_._1).toList.flatMap { case (_, rs) =>
        val sorted = rs.sortBy(r => (r._4, r._3))
        val n = sorted.size
        sorted.zipWithIndex.map { case ((_, _, eid, _), i) =>
          val t = ((i + 1).toLong * nn + n - 1) / n
          eid -> globalSorted((t - 1).toInt)
        }
      }.toMap
      got == want
    })
  }

  test("property: spearmanCorr is invariant under strictly monotone " +
      "transforms of either axis (ranks see order, never magnitude)") {
    val xyGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.choose(3, 40)
      xs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
      ys <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield xs.zip(ys)
    check(Prop.forAll(xyGen) { rows =>
      val df = rows.toDF("x", "y").withColumn("g", lit("g"))
      // x → 2x³ + 7 is strictly monotone: rank order identical
      val tf = df.withColumn("x", col("x") * col("x") * col("x") * 2 + 7)
      val a = CoreOps.spearmanCorr(df, "g", "x", "y")
        .as[(String, Long, Option[Double])].head()
      val b = CoreOps.spearmanCorr(tf, "g", "x", "y")
        .as[(String, Long, Option[Double])].head()
      a == b
    })
  }

  test("property: burstEnds (batch) equals the sequential hysteresis fold " +
      "over sorted events — open bursts never emit") {
    import graft.streaming.{StateMachines, KeyedEvent, BurstEnd}
    val (lo, hi) = (3000L, 9000L)
    check(Prop.forAll(eventsGen) { rows =>
      val evs = rows.map { case (id, ms) => KeyedEvent("k", ms, id, "a") }
      val got = StateMachines.burstEnds(evs.toDS(), lo, hi).collect().toSet
      // brute force over the sorted walk
      val sorted = evs.sortBy(e => (e.tsMs, e.tiebreak))
      var bstart = -1L; var n = 0L; var last = -1L
      val out = scala.collection.mutable.Set.empty[BurstEnd]
      sorted.foreach { e =>
        if (last < 0) last = e.tsMs
        else {
          val gap = e.tsMs - last
          if (bstart >= 0) {
            if (gap <= hi) n += 1
            else { out += BurstEnd("k", bstart, last, n); bstart = -1; n = 0 }
          } else if (gap <= lo) { bstart = last; n = 2 }
          last = e.tsMs
        }
      }
      got == out.toSet
    })
  }

  test("property: tokenBucket (batch) equals the sequential refill fold") {
    import graft.streaming.{StateMachines, KeyedEvent, ThrottleDecision}
    val (cap, num, den) = (2, 137L, 3L)
    check(Prop.forAll(eventsGen) { rows =>
      val evs = rows.map { case (id, ms) => KeyedEvent("k", ms, id, "a") }
      val got = StateMachines.tokenBucket(evs.toDS(), cap, num, den)
        .collect().toSet
      val capM = cap * 1000000L
      var last = -1L; var avail = 0L
      val out = evs.sortBy(e => (e.tsMs, e.tiebreak)).map { e =>
        val refilled =
          if (last < 0) capM
          else math.min(capM, avail + ((e.tsMs - last) * num) / den)
        val adm = refilled >= 1000000L
        avail = refilled - (if (adm) 1000000L else 0L)
        last = e.tsMs
        ThrottleDecision("k", e.tiebreak, e.tsMs, adm, avail)
      }.toSet
      got == out
    })
  }

  test("property: ewmaSnapshots (batch) equals the integer recurrence fold") {
    import graft.streaming.{StateMachines, ValuedEvent, EwmaSnapshot}
    val gen = for {
      n <- Gen.choose(1, 40)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 50000L),
        Gen.choose(-500L, 500L)))
    } yield rows.zipWithIndex.map { case ((ms, v), i) =>
      ValuedEvent("k", ms, i.toLong, v)
    }
    check(Prop.forAll(gen) { evs =>
      val got = StateMachines.ewmaSnapshots(evs.toDS(), 1, 4, 100L)
        .collect().toSet
      val sorted = evs.sortBy(e => (e.tsMs, e.tiebreak))
      var s = 0L; var n = 0L
      sorted.foreach { e =>
        val vs = e.value * 100L
        s = if (n == 0L) vs else (1L * vs + 3L * s) / 4L
        n += 1
      }
      got == Set(EwmaSnapshot("k", n, sorted.last.tsMs, s))
    })
  }

  test("property: quantized entropy is within 2 quantization units of the " +
      "float entropy, 0 for single-category, and partitioning-invariant") {
    import graft.operators.InfoTheory
    val gen = for {
      n <- Gen.choose(1, 80)
      cats <- Gen.listOfN(n, Gen.choose(0, 6))
    } yield cats.map(c => ("g", s"c$c"))
    check(Prop.forAll(gen) { rows =>
      val df = rows.toDF("g", "cat")
      val r = InfoTheory.entropy(df.repartition(5), "g", "cat")
        .collect().head
      val r2 = InfoTheory.entropy(df.repartition(1), "g", "cat")
        .collect().head
      val counts = rows.groupBy(_._2).map(_._2.size.toDouble)
      val tot = counts.sum
      val hFloat = counts.map(c => -(c / tot) * math.log(c / tot)).sum
      val ok = math.abs(r.getDouble(4) - hFloat) <= 2e-6 + 1e-9
      ok && r.getLong(3) == r2.getLong(3) &&
        (counts.size > 1 || r.getLong(3) == 0L)
    })
  }

  private val edgeGen: Gen[List[(Long, Long)]] = for {
    n <- Gen.choose(1, 40)
    es <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)))
  } yield es

  test("property: adamicAdar is invariant under edge orientation flips " +
      "and duplicate edges (canonical distinct)") {
    import graft.operators.Graph
    def aa(es: List[(Long, Long)]) = Graph.adamicAdarFrom(
        Graph.commonNeighborStatsOn(
          Graph.undirectedLayout(es.toDF("s", "d"), "s", "d"), 64), 1000)
      .collect().map(_.toSeq).toSeq
    check(Prop.forAll(edgeGen) { es =>
      val flipped = es.map(_.swap) ++ es // all reversed + originals again
      aa(es) == aa(flipped)
    })
  }

  test("property: asofMatches (batch) equals the sequential latest-right " +
      "fold, rights-first at ties") {
    import graft.streaming.{StateMachines, AsofEvent, AsofMatch}
    val gen = for {
      n <- Gen.choose(1, 50)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 200L), Gen.oneOf(true, false)))
    } yield rows.zipWithIndex.map { case ((ms, left), i) =>
      AsofEvent("k", ms, i.toLong, left)
    }
    check(Prop.forAll(gen) { evs =>
      val got = StateMachines.asofMatches(evs.toDS()).collect().toSet
      var last: Option[(Long, Long)] = None
      val out = scala.collection.mutable.Set.empty[AsofMatch]
      evs.sortBy(e => (e.tsMs, e.isLeft, e.tiebreak)).foreach { e =>
        if (e.isLeft)
          out += (last match {
            case Some((ts, tb)) if ts <= e.tsMs =>
              AsofMatch("k", e.tiebreak, e.tsMs, Some(ts), Some(tb))
            case _ => AsofMatch("k", e.tiebreak, e.tsMs, None, None)
          })
        else if (last.forall(l => e.tsMs > l._1
            || (e.tsMs == l._1 && e.tiebreak > l._2)))
          last = Some((e.tsMs, e.tiebreak))
      }
      got == out.toSet
    })
  }

  test("property: labelPropagation commutes with any ORDER-PRESERVING " +
      "node relabeling (min-label ties depend only on the id order)") {
    // f(n) = 3n + 7 is strictly increasing, so every most-frequent vote
    // and every min-label tie resolves to the same winner before and
    // after; the partition must map through f exactly
    def f(n: Long) = 3 * n + 7
    import graft.operators.Graph
    def labels(es: List[(Long, Long)], iters: Int): Map[Long, Long] =
      Graph.labelPropagationWithMovementOn(
          Graph.lpaLayout(es.toDF("s", "d"), "s", "d"), iters)._1
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    check(Prop.forAll(edgeGen, Gen.choose(1, 5)) { (es, iters) =>
      val base = labels(es, iters)
      val mapped = labels(es.map { case (a, b) => (f(a), f(b)) }, iters)
      base.isEmpty == mapped.isEmpty &&
        base.forall { case (n, l) => mapped.get(f(n)).contains(f(l)) }
    })
  }

  test("property: the CM join-size estimate never undershoots the exact " +
      "join size, and a collision-free width recovers it exactly") {
    val keysGen = for {
      n <- Gen.choose(0, 30)
      ks <- Gen.listOfN(n, Gen.choose(0L, 8L))
      m <- Gen.choose(0, 30)
      ls <- Gen.listOfN(m, Gen.choose(0L, 8L))
    } yield (ks, ls)
    check(Prop.forAll(keysGen) { case (ks, ls) =>
      val (a, b) = (ks.toDF("k"), ls.toDF("k"))
      val r = CoreOps.joinSizeEstimate(a, "k", b, "k", 3, 64).head()
      val exact = r.getLong(3)
      val wide = CoreOps.joinSizeEstimate(a, "k", b, "k", 3, 1 << 20)
        .head().getLong(4)
      r.getLong(4) >= exact && wide == exact
    })
  }

  test("property: jsDivergence is symmetric, bounded by ln 2 + quantum, " +
      "and exactly 0 on identical sides") {
    val sidesGen = for {
      n <- Gen.choose(1, 25)
      p <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d"))
      m <- Gen.choose(1, 25)
      q <- Gen.listOfN(m, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield (p, q)
    check(Prop.forAll(sidesGen) { case (p, q) =>
      import graft.operators.InfoTheory
      def jsd(x: Seq[String], y: Seq[String]) =
        InfoTheory.jsDivergence(
          (x.map(c => (c, true)) ++ y.map(c => (c, false))).toDF("cat", "p"),
          "cat", col("p")).head()
      val f = jsd(p, q)
      val r = jsd(q, p)
      val sym = f.getDouble(5) == r.getDouble(5) &&
        f.getLong(3) == r.getLong(4) && f.getLong(4) == r.getLong(3)
      val bounded = f.getDouble(5) >= -2e-6 &&
        f.getDouble(5) <= math.log(2.0) + 2e-6
      val selfZero = jsd(p, p).getDouble(5) == 0.0
      sym && bounded && selfZero
    })
  }

  test("property: rboOverlap of a list with itself is the closed-form " +
      "depth sum; disjoint lists score 0; RBO never exceeds the self " +
      "score") {
    import graft.operators.Similarity
    val permGen = for {
      n <- Gen.choose(1, 5)
      perm <- Gen.pick(n, 10L to 19L)
    } yield perm.toSeq
    val selfScore = Similarity.rboWeightsScaled(5, 1, 2).zipWithIndex
    check(Prop.forAll(permGen, permGen) { (la, lb) =>
      def ranked(l: Seq[Long]) = l.zipWithIndex
        .map { case (doc, i) => (1L, (i + 1).toLong, doc) }
        .toDF("q", "rank", "doc")
      val self = Similarity.rboOverlap(ranked(la), ranked(la),
        "q", "rank", "doc", 5).head()
      val expectedSelf = selfScore.take(la.length).map(_._1).sum
      val cross = Similarity.rboOverlap(ranked(la), ranked(lb),
        "q", "rank", "doc", 5).head()
      val disj = Similarity.rboOverlap(ranked(la),
        ranked(lb.map(_ + 100L)), "q", "rank", "doc", 5).head()
      self.getLong(2) == expectedSelf &&
        cross.getLong(2) <= self.getLong(2) &&
        disj.getLong(1) == 0L && disj.getDouble(3) == 0.0
    })
  }

  test("property: wassersteinDistance is symmetric and a pure shift of " +
      "one side costs exactly the shift") {
    val gen = for {
      n <- Gen.choose(1, 20)
      vs <- Gen.listOfN(n, Gen.choose(0L, 50L))
      c <- Gen.choose(1L, 20L)
    } yield (vs, c)
    check(Prop.forAll(gen) { case (vs, c) =>
      val a = vs.toDF("v")
      val shifted = vs.map(_ + c).toDF("v")
      val r = CoreOps.wassersteinDistance(a, shifted, "v").head()
      val sym = CoreOps.wassersteinDistance(shifted, a, "v").head()
      // identical shapes: the optimal plan moves every unit exactly c
      r.getDouble(3) == c.toDouble &&
        sym.getDouble(2) == r.getDouble(2) &&
        sym.getDouble(3) == r.getDouble(3)
    })
  }

  test("property: theilSen slope is invariant under a constant y shift, " +
      "which moves only the intercept by the shift") {
    val ptsGen = for {
      n <- Gen.choose(2, 12)
      ys <- Gen.listOfN(n, Gen.choose(-50L, 50L))
    } yield ys.zipWithIndex.map { case (y, i) => (i.toLong, y) }
    check(Prop.forAll(ptsGen) { pts =>
      val base = CoreOps.theilSen(pts.toDF("x", "y"), "x", "y").head()
      val shifted = CoreOps.theilSen(
        pts.map { case (x, y) => (x, y + 7L) }.toDF("x", "y"),
        "x", "y").head()
      shifted.getLong(2) == base.getLong(2) &&
        shifted.getLong(4) == base.getLong(4) + 7L * 1000000L
    })
  }

  test("property: isotonicCalibration's repaired map is monotone in the " +
      "raw score for ANY (score, outcome) sample — the q_logreg_isotonic " +
      "contract (bins order by score, iso_ppm non-decreasing in bin)") {
    val gen = for {
      n <- Gen.choose(1, 60)
      rows <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 99L), Gen.oneOf(true, false)))
    } yield rows
    check(Prop.forAll(gen) { rows =>
      val df = rows.toDF("s", "y")
      val iso = CoreOps.isotonicCalibration(df, "s", col("y"), 0L, 100L, 10)
        .orderBy("bin")
        .select("bin", "iso_ppm").as[(Long, Long)].collect.toSeq
      // bins are keyed by the exact integer score grid, so monotone in
      // bin IS monotone in raw score; adjacent occupied bins must never
      // invert
      iso.sliding(2).forall {
        case Seq((_, a), (_, b)) => a <= b
        case _ => true
      }
    })
  }
}
