package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR.
  *
  * A warm-up pass runs first so the timed pass measures plan execution, not
  * JVM/codegen/JIT startup (round-1 numbers were ~90% harness overhead).
  * Failures are NOT swallowed: a broken query must fail the bench loudly
  * rather than record a fast -1. The JSON line is written both to stdout
  * (unprefixed — build.sbt routes forked run output straight through) and to
  * BENCH.json so the driver can machine-read it either way.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the run (isolation / iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.queries.toSeq
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // one-time memoized builds FIRST, each timed once from cold as its own
    // `_build:<name>` line item (single-shot: a rebuild would hit the memo
    // cache, and the build IS the one-time cost being measured) — without
    // these the shared-frame work hides in the warm-up pass and the fused
    // consumers' ~0.1s readings understate the engine's real spend
    val buildResults = SparkEntry.builds
      .filter { case (n, _) => only.forall(_.contains(s"_build:$n")) }
      .map { case (name, fn) =>
        val t0 = System.nanoTime()
        fn(spark, sfDir)
        s"_build:$name" -> (System.nanoTime() - t0) / 1e9
      }
    // evaluate via the noop sink, not count(): count() lets Catalyst prune
    // unreferenced projections, so map-only queries would time as bare scans
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    queries.foreach { case (_, fn) => run(fn) } // warm-up
    // one extra UNRECORDED execution right before the measured loop: the
    // warm-up pass leaves JIT/GC debt that otherwise lands on whichever
    // query is measured first (BENCH_r08's first-query spread was ~10×
    // the fleet norm); re-running the first query absorbs it outside
    // the timings
    queries.headOption.foreach { case (_, fn) => run(fn) }
    // five timed passes, keep the per-query MIN as the headline: this
    // machine shares cores with bursty co-tenants, and min-of-k is the
    // standard estimator that reports plan cost rather than whoever else
    // was running. The per-query MEDIAN and max-min "spread" are emitted
    // alongside: with co-tenant noise reaching 15× signal on some passes
    // (round-9 watch item), a burst is distinguishable from a real
    // regression by comparing median movement against spread without
    // re-running by hand.
    def timed(): Seq[(String, Double)] = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      run(fn)
      name -> (System.nanoTime() - t0) / 1e9
    }
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "5").toInt
    val passes = Seq.fill(nPasses)(timed().toMap)
    // builds are single-shot: min = median = the one reading, spread 0
    val results = buildResults ++ queries.map { case (name, _) =>
      name -> passes.map(_(name)).min
    }
    val medians = buildResults ++ queries.map { case (name, _) =>
      val ts = passes.map(_(name)).sorted
      val n = ts.size
      name -> (if (n % 2 == 1) ts(n / 2) else (ts(n / 2 - 1) + ts(n / 2)) / 2)
    }
    val spreads = buildResults.map { case (n, _) => n -> 0.0 } ++
      queries.map { case (name, _) =>
        val ts = passes.map(_(name))
        name -> (ts.max - ts.min)
      }
    def obj(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(results)},"median":${obj(medians)},"spread":${obj(spreads)},"sf":"$sfDir"}"""
    Files.writeString(Paths.get("BENCH.json"), json + "\n")
    // stop FIRST so no Spark shutdown chatter can interleave after the JSON;
    // full line, then a compact summary as the absolute last line — the
    // driver's stdout tail capture always gets something parseable even if
    // the per-query object outgrows its window (round-3 BENCH_r03 lesson)
    spark.stop()
    println(json)
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${results.size}}""")
  }
}
