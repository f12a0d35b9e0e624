package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import scala.collection.mutable

/** `batch_registry`: a fixed, named subset of `SparkEntry.queries` over a
  * seeded `events` table, each call split into construct (the query
  * function building its DataFrame, eager checkpoints included), plan
  * (Catalyst to the executed plan) and execute (running that plan to the
  * end, as the noop sink does). The untimed warm-up pass writes each output,
  * which run.py compares with `SparkEntry.oracleSql` in DuckDB. */
object BatchRegistry {
  /** Events-only entries, so the seeded table below is their whole input;
    * chosen from a timing of all 142 events-only entries (README). */
  val Subset: Seq[String] = Seq(
    // construction-heavy: over 90% of the call runs inside the query function
    "q_session_concurrency", "q_profile_diff",
    // the StateMachines walks in batch mode (no state store): execution-
    // heavy, with little construction
    "q_interval_alert_stream", "q_action_durations_stream", "q_transitions_stream",
    "q_session_funnel_stream")
  /** Most of a call is per-query cost that does not shrink with the input
    * (a pass took 5.1-5.8 s at 50,000 rows and 6.2-7.9 s at 100,000), so
    * the smaller table buys more timed passes per run. */
  val Rows = 50000
  /** Timed passes: one per `PassS` of `--seconds`, at least `MinPasses`.
    * The passes keep speeding up as the JIT warms (e.g. 5.1, 4.6, 4.2 s
    * even after three untimed passes), so each entry's best call depends
    * on how many passes ran; a count fixed by `--seconds` instead of by the
    * clock keeps a slow host from also being measured less warm. `PassS`
    * is a warm pass on the recording box. */
  val PassS = 4.5
  val MinPasses = 3
  val Users = 1500
  val Types = Array("signup", "click", "error", "view", "purchase")
  val SetupReps = 3

  /** The seeded events table, shaped like the engine's `events` input
    * (naive-UTC microsecond timestamps over 30 days, ids in time order). */
  def eventRows(seed: Long): IndexedSeq[Row] = {
    val rnd = new java.util.SplittableRandom(seed)
    val spanUs = 30L * 86400L * 1000000L
    val offsets = Array.fill(Rows)(rnd.nextLong(spanUs)).sorted
    val base = LocalDateTime.of(2024, 1, 1, 0, 0)
    offsets.indices.map { i =>
      Row(i.toLong, base.plusNanos(offsets(i) * 1000L), 1L + rnd.nextInt(Users),
        Types(rnd.nextInt(Types.length)), rnd.nextInt(15000) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  def writeEvents(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val rows = eventRows(seed)
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampNTZType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
  }

  final case class Timing(construct: Double, plan: Double, exec: Double) {
    def total: Double = construct + plan + exec
  }

  def run(seed: Long, seconds: Double, cores: Int, work: Path, tracer: Tracer): Outcome = {
    val runTrace = tracer.newId()
    val spark = tracer.span("setup.session", trace = runTrace)(_ => Main.session(cores, work))
    val sessionS = Main.jvmAgeS()
    val exec = if (tracer.enabled) Some(new ExecListener) else None
    exec.foreach(spark.sparkContext.addSparkListener)
    val fns = Subset.map(n => n -> SparkEntry.queries(n))

    // set-up: generate the input (repeated; the median counts) and one
    // warm-up pass. The subset depends on no `_build:*` entry.
    val genMs = (0 until SetupReps).map { rep =>
      tracer.span(s"setup.data.rep$rep", trace = runTrace) { _ =>
        val t0 = Clock.nowMs()
        writeEvents(spark, seed, work.resolve(s"data$rep"))
        Clock.nowMs() - t0
      }
    }
    val dir = work.resolve(s"data${SetupReps - 1}").toString
    val t0 = Clock.nowMs()
    def once(name: String, fn: (SparkSession, String) => DataFrame, parent: Long): (Timing, Map[String, Double]) = {
      val before = exec.map(_.snapshot())
      val a = Clock.nowMs()
      val df = tracer.span(s"query.$name.construct", parent, runTrace)(_ => fn(spark, dir))
      val b = Clock.nowMs()
      val mid = exec.map(_.snapshot())
      tracer.span(s"query.$name.plan", parent, runTrace)(_ => df.queryExecution.executedPlan)
      val c = Clock.nowMs()
      tracer.span(s"query.$name.execute", parent, runTrace)(_ => df.queryExecution.toRdd.foreach(_ => ()))
      val d = Clock.nowMs()
      // listener counters for the work done while constructing
      val split = (for (x <- before; y <- mid) yield
        (y - "peak_exec_mem_bytes").map { case (k, v) => k -> (v - x(k)) }).getOrElse(Map.empty)
      (Timing((b - a) / 1e3, (c - b) / 1e3, (d - c) / 1e3), split)
    }
    // the warm-up pass writes each output for the oracle check, which
    // keeps the check outside the timed passes
    val out = work.resolve("out")
    tracer.span("setup.warmup_pass", trace = runTrace)(id => fns.foreach { case (n, f) =>
      tracer.span(s"query.$n.write", id, runTrace)(_ =>
        f(spark, dir).write.mode("overwrite").parquet(out.resolve(n).toString))
    })
    val setupS = sessionS + Stats.median(genMs) / 1e3 + (Clock.nowMs() - t0) / 1e3
    System.err.println(f"[batch_registry] session $sessionS%.1f s, data ${genMs.map(_ / 1e3).mkString(", ")} s, warm-up ${(Clock.nowMs() - t0) / 1e3}%.1f s")

    // timed passes over the subset
    val execStart = exec.map(_.snapshot())
    val nPasses = math.max(MinPasses, (seconds / PassS).round.toInt)
    val passes = (0 until nPasses).map { i =>
      tracer.span(s"pass$i", trace = runTrace) { id =>
        fns.map { case (n, f) => val (t, s) = once(n, f, id); (n, t, s) }
      }
    }
    val execEnd = exec.map(_.snapshot())
    val passS = passes.map(_.map(_._2.total).sum)
    System.err.println(f"[batch_registry] ${passes.size} passes: ${passS.map(x => f"$x%.2f").mkString(", ")} s")

    val oracle = Subset.map(n => n -> SparkEntry.oracleSql(n))
    Files.writeString(out.resolve("oracle.json"), Json.obj(oracle))
    Files.writeString(out.resolve("events_dir"), dir)

    // each entry's best call over the timed passes (Bench's min-of-k: the
    // passes still speed up as the JIT warms, and the host has co-tenants)
    val perQuery = Subset.map(n => n -> passes.map(_.find(_._1 == n).get._2.total).min)
    Subset.foreach { n =>
      val ts = passes.map(_.find(_._1 == n).get._2).toSeq
      System.err.println(f"[batch_registry] $n: construct ${Stats.median(ts.map(_.construct))}%.3f plan ${Stats.median(ts.map(_.plan))}%.3f exec ${Stats.median(ts.map(_.exec))}%.3f s")
    }
    val lat = perQuery.map(_._2 * 1e3).toArray
    val medPass = Stats.median(passS.toSeq)
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_mem_mb" -> Mem.peakRssMb(),
      "latency_p50_ms" -> Stats.pct(lat, 0.5),
      "latency_p99_ms" -> Stats.pct(lat, 0.99))
    def medOf(f: Timing => Double) = Stats.median(passes.map(p => p.map(x => f(x._2)).sum).toSeq)
    val layer = mutable.LinkedHashMap[String, Double](
      "batch.pass_s" -> medPass,
      "batch.events_per_s" -> Rows.toDouble * Subset.size / perQuery.map(_._2).sum,
      "entry.construct_s" -> medOf(_.construct),
      "catalyst.plan_s" -> medOf(_.plan),
      "entry.exec_s" -> medOf(_.exec))
    perQuery.foreach { case (n, s) => layer(s"entry.$n.s") = s }
    // listener totals per pass, and the share of them spent constructing
    for (a <- execStart; b <- execEnd) {
      b.foreach { case (m, v) => layer(s"exec.$m") = (v - a(m)) / passes.size }
      layer("exec.peak_exec_mem_bytes") = b("peak_exec_mem_bytes")
      (b.keySet - "peak_exec_mem_bytes").foreach { m =>
        layer(s"construct.$m") = Stats.median(passes.map(_.map(_._3(m)).sum).toSeq)
      }
    }
    spark.stop()
    Outcome(correct = true, attempted = Subset.size.toLong * passes.size, failed = 0L,
      errors = Nil, e2e = e2e, layer = layer.toMap)
  }
}
