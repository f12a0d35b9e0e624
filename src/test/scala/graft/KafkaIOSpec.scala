package graft

import graft.streaming.{KafkaIO, KafkaSinkConfig, KafkaSourceConfig}

class KafkaIOSpec extends SparkSpec {

  test("source options carry broker, topic, offsets and pass-through config") {
    val c = KafkaSourceConfig("broker1:9092,broker2:9092", "audit.in",
      startingOffsets = "earliest", groupId = Some("graft"),
      extra = Map("kafka.security.protocol" -> "SASL_PLAINTEXT"))
    val opts = KafkaIO.sourceOptions(c)
    assert(opts("kafka.bootstrap.servers") == "broker1:9092,broker2:9092")
    assert(opts("subscribe") == "audit.in")
    assert(opts("startingOffsets") == "earliest")
    assert(opts("kafka.group.id") == "graft")
    assert(opts("kafka.security.protocol") == "SASL_PLAINTEXT")
  }

  test("source defaults to latest offsets like the reference consumer") {
    // ≙ consumer.setStartFromLatest(), chapter3/WindowOperations.java:66
    assert(KafkaIO.sourceOptions(KafkaSourceConfig("b:9092", "t"))("startingOffsets") == "latest")
  }

  test("sink options carry broker and topic") {
    val opts = KafkaIO.sinkOptions(KafkaSinkConfig("b:9092", "audit.out"))
    assert(opts == Map("kafka.bootstrap.servers" -> "b:9092", "topic" -> "audit.out"))
  }

  test("source/sink fail fast with a clear message when the connector is absent") {
    assume(!KafkaIO.connectorAvailable) // sandbox has no spark-sql-kafka jar
    val e = intercept[IllegalArgumentException] {
      KafkaIO.source(spark, KafkaSourceConfig("b:9092", "t"))
    }
    assert(e.getMessage.contains("connector not on classpath"))
  }

  /** Decode VALUE lines `doc_id,lang,text` into the funnel's input
    * contract, text keeping its commas: a short line decodes to NULL text
    * (the funnel's not-ingested filter drops it), a non-numeric id to a
    * NULL doc_id. */
  private def docLines(lines: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    lines.select(split(col("value"), ",", 3).as("_f"))
      .select(
        expr("try_cast(try_element_at(_f, 1) AS LONG)").as("doc_id"),
        try_element_at(col("_f"), lit(2)).as("lang"),
        try_element_at(col("_f"), lit(3)).as("text"))
  }

  test("the funnel composed over a DECODED value feed (the Kafka shape " +
      "after docLines) equals the tuple-driven pipeline: same card, same " +
      "drops") {
    import spark.implicits._
    import graft.streaming.{FunnelConfig, FunnelPipeline}
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val lines = Seq(
      s"1,en,$base",
      "2,en,completely different words here body text",
      s"3,en,$base extra tacked on", // near-dup of 1
      s"4,en,$base",                 // exact dup of 1
      "5,en")                        // short line: not ingested
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab),
      Map("en" -> ((Long.MaxValue, Long.MaxValue))),
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
    val bench = Seq.empty[(Long, String, String)]
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_kfl").toString
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$dir/in"))
    lines.toDF("value").coalesce(1).write.mode("append").text(s"$dir/in")
    val q = FunnelPipeline.start(spark,
      docLines(spark.readStream.schema("value STRING").text(s"$dir/in")),
      dir, bench, vocab, cfg)
    try q.processAllAvailable() finally q.stop()
    val card = FunnelPipeline.stageCard(spark, dir)
      .as[(Long, String, Long, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(card.map(r => (r._2, r._3)) == Seq(
      ("ingested", 4L), ("exact_dedup", 3L), ("near_dedup", 2L),
      ("decontaminated", 2L), ("quality_kept", 2L), ("ppl_head", 2L)),
      s"got $card")
  }
}
