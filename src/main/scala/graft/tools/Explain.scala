package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Plan inspector: prints the formatted physical plan of one registered query
  * (or all), prefixed by a one-line RUNTIME-TREE node census. The census
  * walks the adaptive plan but STOPS at InMemoryTableScan leaves: a cached
  * (layout) frame's build plan executes once when the layout materializes,
  * not per query, yet `explain("formatted")` re-prints it under every
  * reference — counting its Exchanges would overstate the per-run cost
  * (round-16 note, after the co-partitioned layouts landed).
  * Usage: runMain graft.tools.Explain <sfDir> [queryName]. */
object Explain {

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case i: InMemoryTableScanExec => Seq(i) // cached layout: built once
    case _ => p +: (p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  def census(p: SparkPlan): String =
    nodes(p).groupBy(_.getClass.getSimpleName).toSeq
      .filter { case (n, _) =>
        n.contains("Exchange") || n.contains("Join") ||
          n.contains("Generate") || n.contains("InMemoryTableScan") ||
          n.contains("Scan") || n.contains("Window") }
      .sortBy(_._1)
      .map { case (n, xs) => s"$n=${xs.size}" }.mkString(", ")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val only = args.lift(1)
    val spark = graft.Session.local(4)
    graft.SparkEntry.queries
      .filter { case (n, _) => only.forall(_ == n) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        val df = fn(spark, sfDir)
        println(s"runtime-tree census (cached layout subplans excluded): " +
          census(df.queryExecution.executedPlan))
        df.explain("formatted")
      }
    spark.stop()
  }
}
