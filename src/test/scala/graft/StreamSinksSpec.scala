package graft

import graft.streaming.{KeyedEvent, StreamOps, StreamSinks}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.sql.Timestamp

class StreamSinksSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("csv file sink writes committed part files readable as a batch (E1 sink)") {
    val out = Files.createTempDirectory("graft_sink_out").toString
    val ckpt = Files.createTempDirectory("graft_sink_ckpt").toString
    val input = MemoryStream[KeyedEvent]
    val q = StreamSinks.csv(input.toDF(), out, ckpt)
    try {
      input.addData(KeyedEvent("1", 1000, 1, "a"), KeyedEvent("2", 2000, 2, "b"))
      q.processAllAvailable()
      input.addData(KeyedEvent("3", 3000, 3, "c"))
      q.processAllAvailable()
      // the sink's _spark_metadata commit log makes the directory an
      // exactly-once readable table
      val back = spark.read.schema(input.toDF().schema).csv(out)
      assert(back.count() == 3)
      assert(back.select("key").as[String].collect().toSet == Set("1", "2", "3"))
    } finally q.stop()
  }

  test("streaming stream-stream window join matches the batch twin's cartesian semantics") {
    val left = MemoryStream[(Long, Timestamp, Long)]
    val right = MemoryStream[(Long, Timestamp, Long)]
    def named(ms: MemoryStream[(Long, Timestamp, Long)]) =
      ms.toDF().toDF("event_id", "ts", "user_id")
    val joined = StreamOps.windowJoin(named(left), named(right),
      "user_id", "ts", "10 seconds", "1 minute",
      Seq("event_id" -> "left_id"), Seq("event_id" -> "right_id"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_join").start()
    try {
      // user 7: 2 left x 2 right in the same 1-min bucket → 4 rows
      left.addData((1, new Timestamp(1000), 7), (2, new Timestamp(2000), 7),
        (3, new Timestamp(1000), 8))
      right.addData((10, new Timestamp(1500), 7), (11, new Timestamp(2500), 7),
        (12, new Timestamp(500000), 8)) // other bucket → no match
      q.processAllAvailable()
      val got = spark.table("ss_join")
        .select("user_id", "left_id", "right_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((7L, 1L, 10L), (7L, 1L, 11L), (7L, 2L, 10L), (7L, 2L, 11L)))
    } finally q.stop()
  }

  test("csv sink recovers from its checkpoint: restart emits each record exactly once") {
    val src = Files.createTempDirectory("graft_rec_src").toString
    val out = Files.createTempDirectory("graft_rec_out").toString
    val ckpt = Files.createTempDirectory("graft_rec_ckpt").toString
    def writeFile(name: String, row: String): Unit =
      Files.writeString(java.nio.file.Paths.get(src, name), row)
    val schema = graft.sources.ReferenceData.auditSchema
    writeFile("a0.csv", "\"0\",\"Tom\",\"Customer\",\"Create\",\"1000\",\"1\",\"1\"")
    writeFile("a1.csv", "\"1\",\"Bob\",\"Customer\",\"Query\",\"2000\",\"2\",\"1\"")
    val q1 = StreamSinks.csv(
      graft.sources.ReferenceData.auditFileStream(spark, src, 1), out, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    writeFile("a2.csv", "\"2\",\"Harry\",\"SalesRep\",\"Modify\",\"3000\",\"3\",\"2\"")
    // restart with the SAME checkpoint: only the new file may be emitted
    val q2 = StreamSinks.csv(
      graft.sources.ReferenceData.auditFileStream(spark, src, 1), out, ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    val back = spark.read.schema(schema).csv(out)
    assert(back.count() == 3, "restart must not duplicate or drop records")
    assert(back.select("id").as[Int].collect().toSet == Set(0, 1, 2))
  }

  test("streaming session window finalizes after the watermark passes the gap (E4)") {
    val input = MemoryStream[(Long, Timestamp, Long)]
    val df = input.toDF().toDF("event_id", "ts", "user_id")
    val q = StreamOps.sessionSummary(df, "user_id", "ts", "0 seconds", "5 seconds")
      .writeStream.outputMode("append").format("memory").queryName("sess_str").start()
    try {
      input.addData((1L, new Timestamp(0), 1L), (2L, new Timestamp(4000), 1L))
      q.processAllAvailable()
      // a later event advances the watermark past the session's close
      input.addData((3L, new Timestamp(60000), 1L))
      q.processAllAvailable()
      input.addData((4L, new Timestamp(120000), 1L))
      q.processAllAvailable()
      val got = spark.table("sess_str")
        .select("user_id", "session_start_ms", "cnt", "max_ms")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got.contains((1L, 0L, 2L, 4000L)), s"got $got") // the finalized session
    } finally q.stop()
  }

  test("observed() surfaces per-batch record counts in query progress (print-observer twin)") {
    val input = MemoryStream[KeyedEvent]
    val q = StreamSinks.observed(input.toDF(), "parsed")
      .writeStream.outputMode("append").format("memory").queryName("obs_t")
      .start()
    try {
      input.addData(KeyedEvent("1", 1, 1, "a"), KeyedEvent("2", 2, 2, "b"))
      q.processAllAvailable()
      val counts = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("graft_parsed")).map(_.getLong(0)))
      assert(counts.sum == 2, s"observed metrics: ${counts.toSeq}")
    } finally q.stop()
  }
}
