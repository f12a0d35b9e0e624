package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-trigger cost BREAKDOWN of the bench's funnel build — where inside a
  * trigger the `_build:funnel_pipeline` seconds go. FunnelCurve answers
  * "is the per-trigger cost flat in the corpus?" (shape); this answers
  * "which phase of a trigger is the money?" (attribution): Spark's own
  * StreamingQueryProgress durationMs phases (addBatch = the whole
  * foreachBatch body incl. gates 3-5 and the export writes; the rest is
  * source discovery / offset log / state commit overhead) plus each
  * stateful operator's update/commit times and state sizes. Runs the
  * EXACT bench build (`SparkEntry.builds` "funnel_pipeline" — real frozen
  * artifacts, 2 slices) on the bench's session shape.
  * Usage: runMain graft.tools.FunnelProfile [sfDir] */
object FunnelProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) {
          val dm = p.durationMs
          println(f"batch=${p.batchId}%-2d rows=${p.numInputRows}%-6d " +
            s"durationMs=$dm")
          p.stateOperators.zipWithIndex.foreach { case (so, i) =>
            println(f"  state[$i] ${so.operatorName}%-28s " +
              f"rowsUpd=${so.numRowsUpdated}%-6d updMs=${so.allUpdatesTimeMs}%-5d " +
              f"commitMs=${so.commitTimeMs}%-5d keys=${so.numRowsTotal}%-6d " +
              f"memUsed=${so.memoryUsedBytes}")
          }
        }
      }
    })
    // per-job wall attribution (optional, arg "jobs"): which of the many
    // small actions inside a trigger owns the addBatch seconds
    if (args.contains("jobs")) {
      val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(j.jobId, (System.nanoTime(),
              Option(j.properties.getProperty("spark.job.description"))
                .orElse(Option(j.properties.getProperty("callSite.short")))
                .getOrElse("?")))
          override def onJobEnd(
              j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = starts.remove(j.jobId)
            if (s != null) {
              val ms = (System.nanoTime() - s._1) / 1e6
              if (ms >= 50)
                println(f"JOB ${j.jobId}%4d ${ms}%8.0fms  ${s._2.take(110)}")
            }
          }
        })
    }
    val t0 = System.nanoTime()
    SparkEntry.builds.toMap.apply("funnel_pipeline")(spark, sfDir)
    println(f"TOTAL build wall: ${(System.nanoTime() - t0) / 1e9}%.1f s " +
      "(includes the memoized artifact deps built lazily inside)")
    spark.stop()
  }
}
