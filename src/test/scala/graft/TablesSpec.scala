package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The loaders' per-table-version schema cache: a rewrite re-infers, an
  * unchanged table loads without a Spark job. */
class TablesSpec extends SparkSpec {

  /** Job groups of the jobs started while `body` runs (other threads' jobs
    * included). Listener events are delivered in order, so once a marker
    * job in its own group has been seen, every earlier job has been too. */
  private def jobGroupsDuring(body: => Unit): Seq[String] = {
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
          .flatMap(Option(_)).getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("tables-spec-marker", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("tables-spec-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(groups.contains("tables-spec-marker"), "marker job never seen")
      groups.asScala.toSeq
    } finally sc.removeSparkListener(listener)
  }

  private def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  test("events re-infers its schema after a rewrite, and an unchanged table " +
      "loads without a Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    val path = s"$dir/events.parquet"
    val msVals = Seq(1704067200123L, 1704070800456L, 1704074400789L)
    def write(tsType: DataType, ts: Long => Any): Unit = {
      val schema = StructType(Seq(StructField("event_id", LongType),
        StructField("ts", tsType), StructField("user_id", LongType)))
      val rows = msVals.zipWithIndex.map { case (m, i) => Row(i.toLong, ts(m), 7L) }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(path)
    }
    def loadMs(): Seq[Long] = {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType)
      df.orderBy("event_id").select(unix_millis(col("ts"))).collect()
        .map(_.getLong(0)).toSeq
    }
    // naive-UTC micros (TIMESTAMP_NTZ), with a sub-ms part to truncate
    write(TimestampNTZType, m => LocalDateTime.of(1970, 1, 1, 0, 0)
      .plusNanos(m * 1000000L + 321000L))
    assert(loadMs() == msVals)
    // the same table again: schema and listing only, no job
    assert(!jobGroupsDuring(inGroup("tables-spec-reload")(Tables.events(spark, dir)))
      .contains("tables-spec-reload"))
    // rewritten in place with nanos-as-long `ts`: a stale NTZ schema would
    // misread the INT64 column, so the load must infer again
    write(LongType, m => m * 1000000L + 321L)
    val reinfer = jobGroupsDuring(inGroup("tables-spec-reinfer")(Tables.events(spark, dir)))
    assert(reinfer.contains("tables-spec-reinfer"))
    assert(loadMs() == msVals)
  }
}
