package perfbench

import graft.operators.CoreOps
import graft.streaming.{StateMachines, StreamOps}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import java.nio.file.Path
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `stream_events`: an open-loop, seeded event stream through E1, E4, E5,
  * E6, E7 and E8 running as concurrent queries on one session.
  *
  * Phases: set-up (repeated; the last repetition's queries stay up), then
  * a pre-generated backlog drained at full speed, then rate steps on a
  * fixed schedule, then a far-future flush event that closes every session.
  * Latency is taken per query: the commit time of that query's trigger
  * that consumed an event, minus the event's due time. */
object StreamEvents {
  val Epoch = 1700000000000L
  val LatenessMs = 5000L
  val MaxDelayMs = 2000L
  val Users = 20000
  val ZipfS = 0.8
  val LateUsers = 32
  val LateShare = 0.002
  val BlockMs = 10
  val E1WinMs = 3000L
  val E4GapMs = 5000L
  val E5WinMs = 1000L
  val E6WinMs = 10000L
  val E7ThresholdMs = 2000L
  val SetupReps = 3
  val WarmEvents = 500
  /** p99 latency limit for a step to count as sustainable; see README. */
  val LatencyLimitMs = 10000.0
  /** Backlog above which the generator pauses (the rest of the step is
    * delivered once it falls below half), so overload cannot exhaust the
    * JVM heap. The step then counts as not sustainable. */
  val BacklogCap = 150000L
  val RefStep = "ref"
  /** Fixed trigger interval, about three times the ~1 s a trigger of the
    * six queries takes at the `ref` step on four idle cores. Most of that
    * second is per-trigger cost that does not shrink with the rate, and on
    * half the CPU a trigger takes over 2 s; the interval must stay above
    * that, or the queries run back to back, the backlog grows and latency
    * on a busy host multiplies instead of following its slowdown (README,
    * harness settings). */
  val TriggerMs = 3000L
  /** A run whose generator fell further behind its schedule than this (p99
    * at the `ref` step) is invalid. Latency is timed from the due time, so
    * a late generator is already charged to the system; this only catches
    * a generator that cannot keep up at all. Half a trigger interval. */
  val MaxGenLagMs = TriggerMs / 2.0
  /** One state partition per query: six concurrent queries already keep
    * local[4] busy, and each extra partition adds a task and a state-store
    * commit to every trigger. */
  val Parts = 1

  final case class Step(name: String, rate: Double, share: Double)
  /** The `low` step is one trigger interval at `--seconds 18`; the rest of
    * the measured time goes to `ref`, whose latency is the end-to-end one. */
  val Steps = Seq(Step("low", 1000, 1.0 / 6), Step(RefStep, 2000, 5.0 / 6))
  /** Backlog for the drain phase, and the rate its event times are spread
    * at. */
  val DrainEvents = 20000
  val DrainSpreadRate = 4000.0

  val Names = Seq("E1", "E4", "E5", "E6", "E7", "E8")
  def layerName(q: String): String =
    if (q == "E7" || q == "E8") s"state_machines.$q" else s"stream_ops.$q"

  /** The six queries over six MemoryStreams fed identical blocks (a
    * MemoryStream trims what a query commits, so streams cannot be shared).
    * Sinks are foreachBatch: update-mode outputs keep the latest row per
    * window, append-mode outputs fold into a digest. */
  final class Pipeline(spark: SparkSession, cores: Int, dir: Path) {
    private implicit val evEnc: org.apache.spark.sql.Encoder[Ev] = Encoders.product[Ev]
    // numPartitions: otherwise every addData call becomes its own partition
    val streams: Array[MemoryStream[Ev]] = Array.fill(Names.size)(MemoryStream[Ev](spark, Parts))
    var adds = 0
    val e1 = mutable.Map.empty[Long, (Long, Long, Long)]
    val e6 = mutable.Map.empty[(String, Long), Long]
    val e4 = mutable.Map.empty[(String, Long), (Long, Long)]
    var e4Dups = 0L
    var e5, e7, e8 = Digest.zero
    val rowsOut = mutable.Map.empty[String, Long].withDefaultValue(0L)

    private def input(i: Int): DataFrame =
      streams(i).toDF().withColumn("event_time", timestamp_millis(col("tsMs")))
    private val lateness = s"${LatenessMs / 1000} seconds"

    private def start(name: String, df: DataFrame, mode: String)(f: DataFrame => Long): StreamingQuery = {
      val sinkFn: (DataFrame, Long) => Unit = (b, _) => {
        val n = f(b)
        this.synchronized(rowsOut(name) += n)
      }
      df.writeStream.queryName(name).outputMode(mode)
        .option("checkpointLocation", dir.resolve(name).toString)
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .foreachBatch(sinkFn).start()
    }

    private def ke(df: DataFrame, kind: String) =
      StateMachines.keyedEvents(df, col("user"), col("tsMs"), col("id"), col(kind))

    val queries: Seq[(String, StreamingQuery)] = Seq(
      "E1" -> start("E1", StreamOps.eventTimeTumblingCount(input(0), "event_time",
        lateness, s"${E1WinMs / 1000} seconds"), "update") { b =>
        val rows = b.collect()
        this.synchronized(rows.foreach(r => e1(r.getLong(0)) = (r.getLong(1), r.getLong(2), r.getLong(3))))
        rows.length.toLong
      },
      "E4" -> start("E4", StreamOps.sessionSummary(input(1), "user", "event_time",
        lateness, s"${E4GapMs / 1000} seconds"), "append") { b =>
        val rows = b.collect()
        this.synchronized(rows.foreach { r =>
          val k = (r.getString(0), r.getLong(1))
          if (e4.contains(k)) e4Dups += 1
          e4(k) = (r.getLong(2), r.getLong(3))
        })
        rows.length.toLong
      },
      "E5" -> {
        val in = input(2)
        def side(action: String) = in.filter(col("action") === action)
          .select(col("user"), col("event_time"), col("id"))
        start("E5", StreamOps.windowJoin(side("Login"), side("Logout"), "user",
          "event_time", lateness, s"${E5WinMs / 1000} seconds",
          Seq("id" -> "left_id"), Seq("id" -> "right_id")), "append") { b =>
          val d = Digest.columns(b, Seq("user", "window_start_ms", "left_id", "right_id"))
          this.synchronized(e5 += d)
          d.n
        }
      },
      "E6" -> start("E6", CoreOps.keyedWindowCount(
        input(3).withWatermark("event_time", lateness), Seq("user"), "event_time",
        s"${E6WinMs / 1000} seconds"), "update") { b =>
        val rows = b.collect()
        this.synchronized(rows.foreach(r => e6((r.getString(0), r.getLong(1))) = r.getLong(2)))
        rows.length.toLong
      },
      "E7" -> start("E7", StateMachines.intervalAlerts(ke(input(4), "operation"),
        "Delete", E7ThresholdMs).toDF(), "append") { b =>
        val d = Digest.columns(b, Seq("key", "ts_ms", "gap_ms"))
        this.synchronized(e7 += d)
        d.n
      },
      "E8" -> start("E8", StateMachines.actionDurations(ke(input(5), "action"),
        "Login", "Logout").toDF(), "append") { b =>
        val d = Digest.columns(b, Seq("key", "action", "duration_ms"))
        this.synchronized(e8 += d)
        d.n
      })

    /** Add one block to every stream; returns its offset. */
    def add(evs: Array[Ev]): Int = {
      streams.foreach(_.addData(evs.toSeq))
      adds += 1
      adds - 1
    }

    /** Wait until every query has committed `offset`. Unlike
      * processAllAvailable this does not wait for an empty trigger. */
    def awaitCommitted(offset: Int): Unit =
      while (failure.isEmpty && queries.exists { case (_, q) =>
        Option(q.lastProgress).forall(endOffset(_) < offset) }) Thread.sleep(10)

    def failure: Option[String] = queries.collectFirst {
      case (n, q) if q.exception.isDefined => s"$n: ${q.exception.get.getMessage.take(300)}"
    }

    def stop(): Unit = queries.foreach(_._2.stop())

    def progress(name: String): Seq[StreamingQueryProgress] =
      queries.find(_._1 == name).get._2.recentProgress.toSeq
  }

  def endOffset(p: StreamingQueryProgress): Int = {
    val s = p.sources.head.endOffset
    if (s == null) -1 else s.trim.toInt
  }
  def commitMs(p: StreamingQueryProgress): Double =
    Instant.parse(p.timestamp).toEpochMilli + dur(p, "triggerExecution")
  def dur(p: StreamingQueryProgress, k: String): Double =
    p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)

  /** One delivered block of the measured phase. */
  final case class Block(offset: Int, step: Int, addMs: Double, dueWall: Array[Double])

  def run(seed: Long, seconds: Double, cores: Int, work: Path, tracer: Tracer): Outcome = {
    val runTrace = tracer.newId()
    val spark = tracer.span("setup.session", trace = runTrace)(_ => Main.session(cores, work,
      Seq("spark.sql.shuffle.partitions" -> Parts.toString)))
    val sessionS = Main.jvmAgeS()
    val exec = if (tracer.enabled) Some(new ExecListener) else None
    exec.foreach(spark.sparkContext.addSparkListener)

    val gen = new EventGen(seed, Users, ZipfS, MaxDelayMs, LateUsers,
      lateTsBase = Epoch - LatenessMs - MaxDelayMs - 120000L)
    val delivered = mutable.ArrayBuffer.empty[Ev]

    // set-up, repeated: fresh queries, the warm-up events, and the cold
    // first triggers; the median repetition is the set-up cost
    def setupOnce(rep: Int): (Pipeline, Double) = tracer.span(s"setup.rep$rep", trace = runTrace) { _ =>
      val t0 = Clock.nowMs()
      val g = if (rep == SetupReps - 1) gen else
        new EventGen(seed * 31 + rep, Users, ZipfS, MaxDelayMs, LateUsers, gen.lateTsBase)
      val p = new Pipeline(spark, cores, work.resolve(s"ckpt$rep"))
      val evs = g.block(Epoch, Epoch + 1000, WarmEvents, 0.0)
      if (g eq gen) delivered ++= evs
      p.awaitCommitted(p.add(evs))
      (p, Clock.nowMs() - t0)
    }
    val reps = (0 until SetupReps).map { rep =>
      val (p, ms) = setupOnce(rep)
      if (rep < SetupReps - 1) p.stop()
      (p, ms)
    }
    val pipe = reps.last._1
    val setupS = sessionS + Stats.median(reps.map(_._2)) / 1e3
    System.err.println(f"[stream_events] session $sessionS%.1f s, set-up reps ${reps.map(_._2 / 1e3).mkString(", ")} s")

    // drain: a pre-generated backlog delivered at once and processed at
    // full speed (past the knee); it also warms the queries for the steps.
    // It carries no too-late events: Spark filters late rows against the
    // watermark of the batch before, and the drain can land in the second
    // batch, when that is still unset. The steps start once the drain's
    // batch has committed, so every too-late event they carry meets one.
    val drainEvs = gen.block(Epoch + 1000, Epoch + 1000 + DrainEvents / DrainSpreadRate * 1000,
      DrainEvents, 0.0)
    delivered ++= drainEvs
    val drainOff = tracer.span("drain", trace = runTrace) { _ =>
      val off = pipe.add(drainEvs)
      pipe.awaitCommitted(off)
      off
    }
    val execAtStart = exec.map(_.snapshot())

    // measured phase: rate steps on an open-loop schedule
    val v1 = Epoch + 1000 + DrainEvents / DrainSpreadRate * 1000
    val t1 = Clock.nowMs() + 100.0
    def wallOf(v: Double): Double = t1 + (v - v1)
    val blocks = mutable.ArrayBuffer.empty[Block]
    val cumEvents = mutable.ArrayBuffer.fill(pipe.adds)(0L) // events up to offset, measured only
    var total = 0L
    var capped = Set.empty[Int]
    val genLag = mutable.ArrayBuffer.empty[(Int, Double)]
    def committedOffset(): Int =
      pipe.queries.map { case (_, q) => Option(q.lastProgress).map(endOffset).getOrElse(-1) }.min
    def backlog(): Long = {
      val c = committedOffset()
      total - (if (c >= 0 && c < cumEvents.size) cumEvents(c) else 0L)
    }
    var cursor = v1
    Steps.zipWithIndex.foreach { case (st, si) =>
      tracer.span(s"generator.step.${st.name}", trace = runTrace) { stepSpan =>
        val nBlocks = math.max(1, (seconds * st.share * 1000 / BlockMs).round.toInt)
        val from0 = cursor
        var paused = false
        (0 until nBlocks).foreach { b =>
          val from = from0 + b * BlockMs
          val to = from + BlockMs
          val n = ((st.rate * (b + 1) * BlockMs / 1000).round - (st.rate * b * BlockMs / 1000).round).toInt
          if (!paused) {
            val wait = wallOf(to) - Clock.nowMs()
            if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          }
          if (backlog() > BacklogCap) {
            capped += si; paused = true
            while (backlog() > BacklogCap / 2 && pipe.failure.isEmpty) Thread.sleep(20)
          }
          val evs = gen.block(from, to, n, LateShare)
          val addMs = Clock.nowMs()
          val off = tracer.span("generator.block", stepSpan, runTrace)(_ => pipe.add(evs))
          delivered ++= evs
          total += n
          cumEvents += total
          if (!paused) genLag += ((si, addMs - wallOf(to)))
          blocks += Block(off, si, addMs, evs.map(e => wallOf(e.dueMs.toDouble)))
        }
        cursor = from0 + nBlocks * BlockMs
      }
    }
    def phase(what: String): Unit = System.err.println(f"[stream_events] $what at +${(Clock.nowMs() - t1) / 1e3}%.1f s")
    phase("steps done")

    // flush: a far-future event, which advances every watermark past every
    // session so that E4 emits them all
    val flush = Ev(Long.MaxValue / 2, StreamRef.Flush, "Query", "Query", (cursor + 120000).toLong,
      (cursor + 120000).toLong, late = false)
    delivered += flush
    tracer.span("flush", trace = runTrace)(_ => pipe.awaitCommitted(pipe.add(Array(flush))))
    val execAtEnd = exec.map(_.snapshot())

    phase("flushed")
    val want = StreamRef.compute(delivered.toSeq, E1WinMs, E4GapMs, E5WinMs, E6WinMs, E7ThresholdMs)
    val deadline = Clock.nowMs() + 20000
    while (pipe.synchronized(pipe.e4.size) < want.e4.size && Clock.nowMs() < deadline &&
      pipe.failure.isEmpty) Thread.sleep(50)
    val failure = pipe.failure
    phase("sessions closed")

    // correctness, against the plain-Scala reference
    val prog = Names.map(n => n -> pipe.progress(n)).toMap
    def drops(n: String): Long = prog(n).flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val checks = pipe.synchronized(Seq(
      Compare.maps("E1 window counts", pipe.e1, want.e1),
      Compare.maps("E4 sessions", pipe.e4, want.e4),
      Compare.counts("E4 duplicate sessions", pipe.e4Dups, 0L),
      Compare.digests("E5 join pairs", pipe.e5, want.e5),
      Compare.maps("E6 keyed window counts", pipe.e6, want.e6),
      Compare.digests("E7 alerts", pipe.e7, want.e7),
      Compare.digests("E8 durations", pipe.e8, want.e8),
      // E1/E6 count drops after partial aggregation (one per group), so
      // only E4's count is per event; their outputs prove the drops anyway
      Compare.counts("E4 late drops", drops("E4"), want.late)))
    val errors = failure.toSeq ++ checks.filter(_._1 > 0).map("stream_events: " + _._2)
    val failedRows = checks.map(_._1).sum + (if (failure.isDefined) delivered.size.toLong else 0L)

    // latency: per block and query, the commit of the query's trigger that
    // consumed the block. Each query's output is a result of its own, so
    // every (event, query) pair is a sample; waiting for the slowest of six
    // concurrent triggers would make the figure follow whichever query the
    // scheduler happened to run last.
    val commits: Map[String, Array[(Int, Double)]] = prog.map { case (n, ps) =>
      n -> ps.filter(_.numInputRows > 0).map(p => (endOffset(p), commitMs(p))).sortBy(_._1).toArray
    }
    def commitIn(n: String, off: Int): Double =
      commits(n).find(_._1 >= off).map(_._2).getOrElse(Double.PositiveInfinity)
    def commitOf(off: Int): Double = Names.map(commitIn(_, off)).max
    val stepLat: Map[Int, Array[Double]] = blocks.groupBy(_.step).map { case (si, bs) =>
      si -> bs.toArray.flatMap { b => Names.flatMap { n => val c = commitIn(n, b.offset); b.dueWall.map(c - _) } }
    }
    def p(si: Int, q: Double) = Stats.pct(stepLat.getOrElse(si, Array.empty[Double]), q)
    val refIdx = Steps.indexWhere(_.name == RefStep)
    // drain: the backlog is one block, so each query takes it in one
    // trigger; the slowest of those triggers sets the rate (the wait for
    // the next trigger interval is left out)
    val drainEps = DrainEvents / (Names.map { n =>
      prog(n).find(p => p.numInputRows > 0 && endOffset(p) >= drainOff)
        .map(dur(_, "triggerExecution")).getOrElse(Double.PositiveInfinity)
    }.max / 1e3)
    // backlog: events sent but not yet committed by every query
    def backlogAt(t: Double): Long = {
      val sent = blocks.filter(_.addMs <= t).map(_.dueWall.length.toLong).sum
      val doneOff = Names.map(n => commits(n).filter(_._2 <= t).map(_._1).maxOption.getOrElse(-1)).min
      val done = blocks.filter(_.offset <= doneOff).map(_.dueWall.length.toLong).sum
      sent - done
    }
    // growth: least-squares slope of the backlog sampled every 100 ms over
    // the step, which looks through the sawtooth of individual triggers
    val samples = Steps.indices.map { si =>
      val ts = blocks.filter(_.step == si).grouped(10).map(_.head.addMs).toArray
      (ts, ts.map(t => backlogAt(t).toDouble))
    }
    val growth = samples.map { case (ts, ys) =>
      val mt = ts.sum / ts.length; val my = ys.sum / ys.length
      val cov = ts.indices.map(i => (ts(i) - mt) * (ys(i) - my)).sum
      val vr = ts.map(t => (t - mt) * (t - mt)).sum
      if (vr == 0) 0.0 else cov / vr * 1e3
    }
    // sustainable: the step kept p99 and its last event within the limit
    // (under overload latency climbs through the step, so the last event
    // shows a growing backlog even when the step is a few triggers long)
    val sustainable = Steps.indices.filter { si =>
      val last = blocks.filter(_.step == si).last
      !capped(si) && p(si, 0.99) <= LatencyLimitMs && commitOf(last.offset) - last.dueWall.last <= LatencyLimitMs
    }
    val sustainableEps = sustainable.map(Steps(_).rate).maxOption.getOrElse(0.0)
    val lagRef = genLag.filter(_._1 == refIdx).map(_._2).toArray
    val genValid = Stats.pct(lagRef, 0.99) <= MaxGenLagMs
    val allErrors = errors ++ (if (genValid) Nil else
      Seq(f"stream_events: generator ran ${Stats.pct(lagRef, 0.99)}%.0f ms late at p99 of the ref step; run invalid"))

    Steps.indices.foreach { si =>
      System.err.println(f"[stream_events] step ${Steps(si).name} ${Steps(si).rate}%.0f ev/s: p50 ${p(si, 0.5)}%.0f ms p99 ${p(si, 0.99)}%.0f ms growth ${growth(si)}%.0f rows/s capped ${capped(si)}")
    }
    System.err.println(f"[stream_events] drain $drainEps%.0f ev/s; gen lag p99 ${Stats.pct(genLag.map(_._2).toArray, 0.99)}%.1f ms")
    val e2e = Map(
      "setup_s" -> setupS,
      "peak_mem_mb" -> Mem.peakRssMb(),
      "latency_p50_ms" -> p(refIdx, 0.5),
      "latency_p99_ms" -> p(refIdx, 0.99))

    // per-layer numbers from the measured phase's progress reports
    val measured = prog.map { case (n, ps) =>
      n -> ps.filter(p => Instant.parse(p.timestamp).toEpochMilli >= t1 && p.numInputRows > 0)
    }
    val allMeasured = measured.values.flatten.toSeq
    // phases: mean ms per data trigger (most read a few ms, where a median
    // of whole milliseconds would hide any change)
    def mean(k: String) = allMeasured.map(dur(_, k)).sum / math.max(1, allMeasured.size)
    val stateOps = allMeasured.flatMap(_.stateOperators)
    val lastState = prog.values.flatMap(_.lastOption).flatMap(_.stateOperators)
    val e1Wm = measured("E1").map { p =>
      val wm = Instant.parse(p.eventTime.get("watermark")).toEpochMilli
      (commitMs(p) - t1 + v1) - wm
    }
    val layer = mutable.LinkedHashMap[String, Double](
      "sources.gen_lag_p99_ms" -> Stats.pct(genLag.map(_._2).toArray, 0.99),
      "sources.backlog_rows_max" -> samples.flatMap(_._2).max,
      "sources.backlog_growth_rows_per_s" -> growth.max,
      "sources.latest_offset_ms" -> mean("latestOffset"),
      "sources.get_batch_ms" -> mean("getBatch"),
      "rate.sustainable_eps" -> sustainableEps,
      "rate.drain_eps" -> drainEps,
      "trigger.count" -> allMeasured.size.toDouble,
      "trigger.exec_ms_p50" -> Stats.median(allMeasured.map(dur(_, "triggerExecution"))),
      "trigger.query_planning_ms" -> mean("queryPlanning"),
      "trigger.add_batch_ms" -> mean("addBatch"),
      "trigger.wal_commit_ms" -> mean("walCommit"),
      "trigger.commit_offsets_ms" -> mean("commitOffsets"),
      "state.rows_total" -> lastState.map(_.numRowsTotal).sum.toDouble,
      "state.rows_updated" -> stateOps.map(_.numRowsUpdated).sum.toDouble,
      "state.update_ms" -> stateOps.map(_.allUpdatesTimeMs).sum.toDouble,
      "state.commit_ms" -> stateOps.map(_.commitTimeMs).sum.toDouble,
      "state.memory_bytes" -> lastState.map(_.memoryUsedBytes).sum.toDouble,
      "state.dropped_by_watermark" -> Names.map(drops).sum.toDouble,
      "state.late_drop_ratio" -> (if (want.late == 0) 0.0 else
        drops("E4").toDouble / want.late),
      "watermark.lag_ms" -> Stats.median(e1Wm))
    Steps.zipWithIndex.foreach { case (st, si) =>
      layer(s"rate.${st.name}_p50_ms") = p(si, 0.5)
      layer(s"rate.${st.name}_p99_ms") = p(si, 0.99)
    }
    Names.foreach { n =>
      val ps = measured(n)
      layer(s"${layerName(n)}.rows_in") = ps.map(_.numInputRows).sum.toDouble
      layer(s"${layerName(n)}.rows_out") = pipe.synchronized(pipe.rowsOut(n)).toDouble
      layer(s"${layerName(n)}.add_batch_ms") = ps.map(dur(_, "addBatch")).sum
    }
    for (a <- execAtStart; b <- execAtEnd; (k, v) <- b) layer(s"exec.$k") = v - a(k)
    exec.foreach(e => layer("exec.peak_exec_mem_bytes") = e.peakExecMem.get.toDouble)

    // spans for each measured trigger, with its phases as children laid out
    // in execution order (the progress report gives durations, not starts)
    if (tracer.enabled) measured.foreach { case (n, ps) => ps.foreach { pr =>
      val s0 = Instant.parse(pr.timestamp).toEpochMilli.toDouble
      val id = tracer.add(s"trigger.$n", s0, s0 + dur(pr, "triggerExecution"), trace = runTrace)
      var c = s0
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets").foreach { k =>
        val d = dur(pr, k)
        tracer.add(s"trigger.$n.$k", c, c + d, id, runTrace)
        c += d
      }
    }}

    phase("checked")
    pipe.stop()
    spark.stop()
    phase("stopped")
    Outcome(allErrors.isEmpty, delivered.size.toLong,
      failedRows, allErrors, e2e, layer.toMap)
  }
}
