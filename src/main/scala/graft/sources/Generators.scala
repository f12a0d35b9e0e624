package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.util.Random

/** Seeded synthetic fixture generators mirroring the reference's
  * datasource generators — same record shapes, domains and one-record-per-file
  * cadence, but reproducible: the reference used an unseeded `new Random()`
  * (datasource/FileStreamDataGenerator.java:56), which SURVEY §5 flags as the
  * weakness to fix. Timestamps are a deterministic function of the record
  * index instead of wall clock, so generated fixtures are stable inputs for
  * golden tests.
  *
  * Record formats:
  *  - audit  (datasource/FileStreamDataGenerator.java:38-75):
  *    "id","user","entity","operation","timestamp","duration","count"
  *  - browser (datasource/BrowserStreamDataGenerator.java:34-78):
  *    "id","user","action","timestamp"
  *  - Kafka values (datasource/KafkaStreamDataGenerator.java:75-101):
  *    key = timestamp string, value = comma-joined audit record
  */
object Generators {
  private val users      = Vector("Tom", "Harry", "Bob")
  private val operations = Vector("Create", "Modify", "Query", "Delete")
  private val entities   = Vector("Customer", "SalesRep")
  private val actions    = Vector("Login", "ViewVideo", "ViewLink", "ViewReview", "Logout")

  private def q(fields: Seq[Any]): String = fields.map(f => s""""$f"""").mkString(",")

  /** One audit record as the quoted-CSV line the reference writes. */
  private def auditRecord(rnd: Random, id: Int, tsMs: Long): String =
    q(Seq(id, users(rnd.nextInt(users.size)), entities(rnd.nextInt(entities.size)),
      operations(rnd.nextInt(operations.size)), tsMs,
      1 + rnd.nextInt(10), 1 + rnd.nextInt(4)))

  private def browserRecord(rnd: Random, id: Int, tsMs: Long): String =
    q(Seq(id, users(rnd.nextInt(users.size)), actions(rnd.nextInt(actions.size)), tsMs))

  /** n one-record CSV files (audit_trail_<i>.csv), each 1..1000 ms after the
    * previous like the reference's sleep(1..1000) — the running clock
    * advances once per file, so timestamps are strictly monotone. Returns
    * the written paths in order. */
  def writeAuditFiles(dir: String, n: Int, seed: Long,
                      baseTsMs: Long = 1700000000000L): Seq[Path] = {
    val rnd = new Random(seed)
    Files.createDirectories(Paths.get(dir))
    var ts = baseTsMs
    (0 until n).map { i =>
      ts += 1 + rnd.nextInt(1000)
      Files.writeString(Paths.get(dir, s"audit_trail_$i.csv"),
        auditRecord(rnd, i, ts))
    }
  }

  def writeBrowserFiles(dir: String, n: Int, seed: Long,
                        baseTsMs: Long = 1700000000000L): Seq[Path] = {
    val rnd = new Random(seed)
    Files.createDirectories(Paths.get(dir))
    var ts = baseTsMs
    (0 until n).map { i =>
      ts += 1 + rnd.nextInt(2000)
      Files.writeString(Paths.get(dir, s"browser_events$i.csv"),
        browserRecord(rnd, i, ts))
    }
  }

  /** The Kafka generator's (key, value) pairs, broker-free: feed them to a
    * MemoryStream / producer of your choice and parse with
    * ReferenceData.parseAuditLines. */
  def auditKafkaValues(n: Int, seed: Long,
                       baseTsMs: Long = 1700000000000L): Seq[(String, String)] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      val ts = baseTsMs + i * 500L
      (ts.toString, auditRecord(rnd, i, ts))
    }
  }

  /** Map a monotonically-increasing row-index column `value` onto the audit
    * record domains — every field an md5-derived function of the index, so
    * the stream form below and a bounded `spark.range` batch produce
    * IDENTICAL records for the same index range (the property the
    * rate-parity tests lean on). */
  private[graft] def auditColumns(df: org.apache.spark.sql.DataFrame,
                                  baseTsMs: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    def pick(domain: Vector[String], h: Column): Column =
      domain.zipWithIndex.foldLeft(lit(domain.head)) { case (acc, (v, i)) =>
        when(pmod(h, lit(domain.size)) === i, v).otherwise(acc)
      }
    val h = graft.operators.Dedup.md5Int(col("value").cast("string"))
    df.select(
      col("value").cast("int").as("id"),
      pick(users, h).as("user"),
      pick(entities, h + 7).as("entity"),
      pick(operations, h + 13).as("operation"),
      (lit(baseTsMs) + col("value") * 500).as("timestamp"),
      (pmod(h, lit(10)) + 1).cast("int").as("duration"),
      (pmod(h, lit(4)) + 1).cast("int").as("count"))
  }

  /** Continuous synthetic audit stream from Spark's deterministic
    * rate-micro-batch source, mapped through the generator domains — the
    * fully in-engine form of the reference's generator threads (no files,
    * no broker). Each micro-batch yields `rowsPerBatch` records. */
  def auditRateStream(spark: org.apache.spark.sql.SparkSession,
                      rowsPerBatch: Int,
                      baseTsMs: Long = 1700000000000L): org.apache.spark.sql.DataFrame =
    auditColumns(
      spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rowsPerBatch).load(),
      baseTsMs)
}
