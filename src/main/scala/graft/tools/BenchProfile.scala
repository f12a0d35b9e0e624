package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement aid (guide §1): per bench entry, wall seconds plus the
  * Spark-side job/stage/task counts and summed task time, so a slow entry
  * can be attributed to "many small jobs" (fixed per-action overhead:
  * driver rounds, codegen, scheduling) vs "few heavy stages" (real
  * compute/shuffle). Mirrors Bench's environment (same defaults, master,
  * shuffle partitions, memoized-build-first ordering, each `_build:*`
  * timed once from cold) but runs ONE pass and never records; purely a
  * diagnosis tool.
  *
  * Streaming builds (`_build:funnel_pipeline`) also print one line per
  * trigger with rows in: Spark's StreamingQueryProgress `durationMs`
  * phases (addBatch = the whole foreachBatch body; the rest is source
  * discovery, offset log and state commit) and each stateful operator's
  * update/commit times and state size — which phase of a trigger the
  * build's seconds go to.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=... \
  *   sbt "runMain graft.tools.BenchProfile [entry,entry,...]"
  * With no args, profiles every build then every query.
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption.map(_.split(",").toSet)
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    // per-job wall attribution (env SPARK_GRAFT_PROF_JOBS=1): which of an
    // entry's actions own the wall — pairs with setJobDescription labels
    val printJobs = sys.env.get("SPARK_GRAFT_PROF_JOBS").contains("1")
    val jobStarts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val stageToJob =
      new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val jobTasks =
      new java.util.concurrent.ConcurrentHashMap[Int, AtomicInteger]()
    val jobShufW =
      new java.util.concurrent.ConcurrentHashMap[Int, AtomicLong]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (printJobs) {
          jobStarts.put(j.jobId, (System.nanoTime(),
            Option(j.properties.getProperty("spark.job.description"))
              .orElse(Option(j.properties.getProperty("callSite.short")))
              .getOrElse("?")))
          j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
          jobTasks.put(j.jobId, new AtomicInteger(0))
          jobShufW.put(j.jobId, new AtomicLong(0L))
        }
      }
      override def onJobEnd(
          j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStarts.remove(j.jobId)
        if (s != null) {
          val ms = (System.nanoTime() - s._1) / 1e6
          val nt = Option(jobTasks.remove(j.jobId)).map(_.get).getOrElse(0)
          val sw = Option(jobShufW.remove(j.jobId)).map(_.get).getOrElse(0L)
          if (ms >= 50 || sw >= 1024 * 1024)
            println(f"JOB ${j.jobId}%4d ${ms}%8.0fms tasks=$nt%4d " +
              f"shufW=${sw / 1024}%7dKB  ${s._2.take(90)}")
        }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskMs.addAndGet(m.executorRunTime)
          if (m.shuffleWriteMetrics != null)
            shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        if (printJobs) {
          val jid = stageToJob.get(t.stageId)
          val jt = jobTasks.get(jid)
          if (jt != null) jt.incrementAndGet()
          val js = jobShufW.get(jid)
          if (js != null && m != null && m.shuffleWriteMetrics != null)
            js.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          println(f"TRIGGER batch=${p.batchId}%-2d rows=${p.numInputRows}%-6d " +
            s"durationMs=${p.durationMs}")
          p.stateOperators.zipWithIndex.foreach { case (so, i) =>
            println(f"  state[$i] ${so.operatorName}%-28s " +
              f"rowsUpd=${so.numRowsUpdated}%-6d updMs=${so.allUpdatesTimeMs}%-5d " +
              f"commitMs=${so.commitTimeMs}%-5d keys=${so.numRowsTotal}%-6d " +
              f"memUsed=${so.memoryUsedBytes}")
          }
        }
      }
    })
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0)
      taskMs.set(0); shufW.set(0) }
    def report(name: String, wallS: Double): Unit = {
      // listener bus is async; give it a beat to drain before reading
      Thread.sleep(150)
      println(f"PROF $name%-38s wall=$wallS%7.2fs jobs=${jobs.get}%4d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%6d " +
        f"taskTime=${taskMs.get / 1000.0}%8.1fs shufW=${shufW.get / 1024}%8dKB")
    }
    def timed(name: String)(body: => Unit): Unit = {
      reset()
      val t0 = System.nanoTime()
      body
      report(name, (System.nanoTime() - t0) / 1e9)
    }
    graft.SparkEntry.builds
      .filter { case (n, _) => only.forall(_.contains(s"_build:$n")) }
      .foreach { case (name, fn) =>
        timed(s"_build:$name")(fn(spark, sfDir)) }
    graft.SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
        timed(name)(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()) }
    spark.stop()
  }
}
