package perfbench

import org.apache.spark.scheduler._
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Executor-side totals from a SparkListener: jobs, stages, tasks, task
  * time, GC, shuffle bytes, spill and the largest per-task execution-memory
  * peak. Registered only in traced runs; `snapshot` lets a caller split the
  * totals at a point (construction vs final execution). */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite,
    spill = new AtomicLong(0L)
  val peakExecMem = new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Current totals under the per-layer metric names. */
  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "run_s" -> runMs.get / 1e3,
    "cpu_s" -> cpuNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
    "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spill_bytes" -> spill.get.toDouble,
    "peak_exec_mem_bytes" -> peakExecMem.get.toDouble)
}

/** In-memory span recorder for traced runs: every span has a name, start,
  * end (epoch ms), its parent span and a trace id; `write` dumps them as
  * one JSON document at exit. A disabled tracer records nothing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, trace: Long, name: String,
                        startMs: Double, endMs: Double)
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0L)

  def newId(): Long = ids.incrementAndGet()

  def add(name: String, startMs: Double, endMs: Double, parent: Long = 0L,
          trace: Long = 0L, id: Long = 0L): Long =
    if (!enabled) 0L else {
      val sid = if (id != 0L) id else newId()
      spans.synchronized(spans += Span(sid, parent, if (trace == 0L) sid else trace,
        name, startMs, endMs))
      sid
    }

  /** Time `f` as a span; returns its result. */
  def span[T](name: String, parent: Long = 0L, trace: Long = 0L)(f: Long => T): T =
    if (!enabled) f(0L) else {
      val id = newId()
      val t0 = Clock.nowMs()
      try f(id) finally add(name, t0, Clock.nowMs(), parent, trace, id)
    }

  def count: Int = spans.synchronized(spans.size)

  def write(path: Path): Unit = if (enabled) {
    val body = spans.synchronized(spans.toList).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    Files.writeString(path, body.mkString("{\"spans\":[\n", ",\n", "\n]}\n"))
  }
}

/** Wall clock in epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

object Stats {
  /** Linear-interpolated percentile of `xs` (q in [0, 1]). */
  def pct(xs: Array[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs.toArray, 0.5)
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Peak resident set size of this JVM (VmHWM), which includes off-heap
  * allocations such as RocksDB's. */
object Mem {
  def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    }
}
