package graft.tools

import graft.streaming.{FunnelConfig, FunnelPipeline}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** The empirical gauge behind SCALE.md's per-doc STATE SIZE numbers for
  * the production funnel's keyed state stores: runs the five-gate
  * pipeline over the sf-dir documents table in 4 file-sliced triggers
  * (FunnelPipeline.runSliced's replay), then walks the RocksDB
  * checkpoint under `checkpoint/state/<op>/` and prints each operator's
  * on-disk bytes (SSTs + logs across retained versions) next to the doc
  * count, so "B per doc per version" claims are reproducible, not
  * folklore. Operator ids are plan-assigned; the mapping is printed by
  * size signature (the fingerprint store is the small one; with the
  * round-15 split the bucket index holds ids only and the gram store
  * holds each doc's shingle set once — the round-14 single band machine
  * held ids + gram sets ×bands).
  * Usage: runMain graft.tools.FunnelStateSize [sfDir] */
object FunnelStateSize {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local(8)
    import spark.implicits._
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
        col("text"))
    // trivial frozen artifacts (FunnelCurve's convention): gates 3-5 pass
    // everything, isolating the stateful gates whose state is measured.
    // driver-bounded: O(languages) — one +inf boundary per lang
    val cuts = docs.select(col("lang")).distinct().as[String].collect()
      .map(_ -> ((Long.MaxValue, Long.MaxValue))).toMap
    val vocab = ('a' to 'z').map(c => (c.toString, 1L)).toDF("piece", "cnt")
    val cfg = FunnelConfig(Array(0L, 0L, 0L),
      graft.operators.Unigram.zOf(vocab), cuts,
      3, 8, 2, 0.5, 4, 0.05, 127L, 12, 4, 8L, 512L)
    val dir = Files.createTempDirectory("graft_statesize").toString
    val nDocs = docs.count()
    FunnelPipeline.runSliced(spark, docs, docs.limit(0), vocab, cfg, 4, dir)
    val stateRoot = Paths.get(s"$dir/state")
    val opsRoot =
      if (Files.exists(stateRoot)) stateRoot
      else Paths.get(s"$dir/checkpoint/state")
    import scala.jdk.CollectionConverters._
    val ops = Files.list(opsRoot).iterator().asScala.toList.sortBy(_.toString)
    println(s"docs=$nDocs  stateRoot=$opsRoot")
    ops.foreach { op =>
      val walk = Files.walk(op)
      val bytes =
        try walk.iterator().asScala
          .filter(Files.isRegularFile(_)).map(Files.size).sum
        finally walk.close()
      println(f"op=${op.getFileName}  bytes=$bytes%10d  " +
        f"per-doc=${bytes.toDouble / nDocs}%8.1f B")
    }
    spark.stop()
  }
}
