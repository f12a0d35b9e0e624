package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** What one workload run hands back to run.py: the end-to-end metrics
  * (`e2e`) and the per-layer ones (`layer`); run.py prints the first set
  * for untraced runs and the second for traced ones. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                         errors: Seq[String], e2e: Map[String, Double],
                         layer: Map[String, Double])

/** Harness entry point, launched by run.py after the build:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --cores C --work DIR --out FILE
  * Writes one JSON object to FILE; spans go to DIR/spans.json when traced. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)
    val tracer = new Tracer(traced)
    val outcome = workload match {
      case "stream_events" => StreamEvents.run(seed, seconds, cores, work, tracer)
      case "batch_registry" => BatchRegistry.run(seed, seconds, cores, work, tracer)
      case "selftest" => SelfTest.run(work)
      case other => sys.error(s"unknown workload $other")
    }
    tracer.write(work.resolve("spans.json"))
    val json = Json.obj(Seq(
      "correct" -> outcome.correct, "attempted" -> outcome.attempted,
      "failed" -> outcome.failed, "errors" -> outcome.errors,
      "e2e" -> outcome.e2e, "layer" -> outcome.layer,
      "spans" -> tracer.count))
    Files.writeString(Paths.get(opt("out")), json + "\n")
    // Spark's non-daemon threads may outlive the session; the result is out
    System.exit(0)
  }

  /** The session every workload uses: local[cores], UI off, UTC, and all
    * scratch state under the run's work directory. */
  def session(cores: Int, work: Path, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      // Six concurrent streaming queries generate more distinct classes than
      // the default 100-entry codegen cache holds; evictions then depend on
      // thread timing, which made per-trigger cost vary 25-35% between runs
      .config("spark.sql.codegen.cache.maxEntries", "2000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds since this JVM was launched. */
  def jvmAgeS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
