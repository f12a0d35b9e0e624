package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Loaders for the driver's deterministic parquet tables (TESTDATA.md).
  *
  * Every loader takes the scale-factor directory so the same query code
  * runs at sf0.001 (smoke), sf0.01 (oracle), sf0.1 (bench) — and, on a
  * real cluster, at any path. Parquet + explicit column pruning at the
  * call-sites keeps the scan minimal (Catalyst pushes projections and
  * filters into the vectorized parquet reader).
  */
object Tables {
  def region(s: SparkSession, dir: String): DataFrame    = parquet(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame    = parquet(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame  = parquet(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame  = parquet(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame      = parquet(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame    = parquet(s, s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame  = parquet(s, s"$dir/lineitem.parquet")
  def documents(s: SparkSession, dir: String): DataFrame = parquet(s, s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = parquet(s, s"$dir/embeddings.parquet")

  /** Inferred schema per table version: (leaf files with length and mtime,
    * the session's explicitly set parquet reader settings). Spark part-file
    * names carry a per-write UUID and a single-file table's rewrite changes
    * its mtime, so a rewritten table misses; the settings cover what
    * inference reads (events' nanosAsLong, NTZ inference, binaryAsString). */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(Seq[(String, Long, Long)], Map[String, String]), StructType]

  /** `s.read.parquet(path)` without its per-load schema-inference job: the
    * schema is inferred once per table version (a footer-reading Spark job)
    * and handed to the reader afterwards, which then only lists files. */
  private def parquet(s: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val files = leafFiles(p.getFileSystem(s.sessionState.newHadoopConf()), p)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
    val conf = s.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    val schema = schemas.computeIfAbsent((files, conf), _ => s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  /** Leaf files under `p` (or `p` itself when it is a file), by plain
    * `listStatus` walks. `listFiles` would wrap each leaf in a
    * LocatedFileStatus, which reads the file's permission: on a local FS
    * without the native Hadoop library that forks an `ls -ld` per file. */
  private def leafFiles(fs: FileSystem, p: Path): Vector[FileStatus] =
    fs.listStatus(p).toVector.flatMap(st =>
      if (st.isDirectory) leafFiles(fs, st.getPath) else Vector(st))

  /** events.parquet's `ts` physical type has varied across driver data
    * generations — parquet TIMESTAMP(NANOS) (which Spark's reader rejects by
    * default, [PARQUET_TYPE_ILLEGAL]; read via the documented nanosAsLong
    * escape hatch), TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark 4
    * infers as TIMESTAMP_NTZ), or a plain UTC timestamp. All three are
    * normalized here to ONE millisecond-precision TimestampType column so
    * every downstream window/session/lag computation is bit-identical to the
    * DuckDB oracle's epoch_ms(ts) regardless of which writer produced the
    * file, removing sub-ms boundary flakes. The NTZ cast maps wall-clock to
    * instant through the session time zone, which every entry point (and
    * SparkSpec) pins to UTC — the same naive-as-UTC reading DuckDB applies. */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = parquet(s, s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case LongType => // nanos since epoch
        raw.withColumn("ts", timestamp_millis(expr("ts div 1000000")))
      case TimestampNTZType => // naive micros; session TZ is pinned UTC
        raw.withColumn("ts",
          timestamp_millis(unix_millis(col("ts").cast(TimestampType))))
      case _ =>        // already an instant; truncate to ms for determinism
        raw.withColumn("ts", timestamp_millis(unix_millis(col("ts"))))
    }
  }
}
