package graft

import org.apache.spark.sql.SparkSession

/** The one local session the entry points share (Bench, Verify and the
  * tools): `local[cores]`, one shuffle partition per core, UTC session
  * time (the pinned zone every oracle comparison assumes), no UI, and
  * Spark's log at ERROR. */
object Session {
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
