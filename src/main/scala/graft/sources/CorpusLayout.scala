package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Physical layout for a curated corpus at rest — the write side of a
  * 100 TB pipeline, where the layout decisions (partition directories,
  * in-file sort order, file sizing) are what make every DOWNSTREAM read
  * cheap: hive-style `partitionBy` directories give readers partition
  * pruning for free (a `lang = 'en'` scan never opens the other
  * directories), and sorting within files gives parquet tight min/max
  * column statistics, so predicate pushdown skips row groups even inside a
  * partition.
  *
  * Beyond the reference surface (its file sink is an unpartitioned CSV
  * stream, `chapter2/BasicStreamingOperations.java:105-115`); this is the
  * batch layout a training corpus needs.
  */
object CorpusLayout {

  /** Write `df` as hive-partitioned parquet: one directory tree level per
    * partition column, rows sorted by `sortCols` within each file.
    *
    * The `repartition(partitionCols)` ahead of the write is load-bearing:
    * without it every input task writes a file into EVERY partition
    * directory it sees rows for — tasks × partitions small files, the
    * classic 100 TB layout failure. With it, one shuffle co-locates each
    * partition's rows, so each directory gets files from one task.
    * `maxRecordsPerFile` (0 = unlimited) then bounds file size from above —
    * at scale, set it so files land in the 100 MB–1 GB band the parquet
    * reader likes. Skew note: one dominant partition value serializes into
    * one task; list the skewed column FIRST in `sortCols` instead and salt
    * the repartition if a single directory outweighs the rest. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       sortCols: Seq[String], maxRecordsPerFile: Long = 0L): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    require(maxRecordsPerFile >= 0L,
      s"maxRecordsPerFile must be >= 0, got $maxRecordsPerFile")
    val laid = df.repartition(partitionCols.map(col): _*)
      .sortWithinPartitions((partitionCols ++ sortCols).map(col): _*)
    val writer = laid.write.mode("overwrite").partitionBy(partitionCols: _*)
    (if (maxRecordsPerFile > 0L)
       writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer)
      .parquet(path)
  }

  /** Z-order (Morton) code of n non-negative integer dimensions, `bits`
    * low bits each, interleaved into one long: bit j of dimension i lands
    * at position j·n + i. Sorting by this single value tiles the space
    * with axis-aligned blocks, so a file holding a CONTIGUOUS z-range has
    * a tight min/max bounding box in EVERY dimension — the multi-column
    * data-skipping layout a single-column sort cannot give (sort by x and
    * the per-file y ranges all span the full domain; no y predicate ever
    * skips a file).
    *
    * Pure integer Column arithmetic (shifts + masks + disjoint-bit adds),
    * identical in any engine — the q_zorder oracle rebuilds it bit for
    * bit. Values outside [0, 2^bits) FAIL LOUDLY: silently masking high
    * bits would scatter out-of-range rows across the curve and quietly
    * destroy the locality the layout promises — bucketize or mod the
    * dimension explicitly first. */
  def zValue(dims: Seq[Column], bits: Int): Column = {
    val n = dims.size
    require(n >= 2, s"z-ordering needs >= 2 dimensions, got $n")
    require(bits > 0 && bits * n <= 63,
      s"bits * dims must fit a long: got $bits * $n = ${bits * n} > 63")
    val lim = 1L << bits
    val guarded = dims.map { d =>
      val ok = d.isNotNull && d >= 0 && d < lim
      when(assert_true(ok,
        concat(lit(s"zValue: every dimension must be in [0, $lim); got "),
          coalesce(d.cast("string"), lit("NULL")))).isNull, d.cast("long"))
    }
    (for { j <- 0 until bits; (d, i) <- guarded.zipWithIndex }
      yield shiftleft(shiftright(d, j).bitwiseAND(lit(1L)), j * n + i))
      .reduce(_ + _) // disjoint bit positions: + is OR, and SUM mirrors in SQL
  }

  /** Small-file COMPACTION plan — the operational answer to the classic
    * 100 TB layout failure the writePartitioned scaladoc warns about,
    * after it has already happened: given a file listing (path, bytes),
    * assign every file to a rewrite group of ~targetBytes, so one
    * executor task per group coalesces its members into one
    * right-sized file. Grouping is CONTIGUOUS PREFIX packing over a
    * deterministic md5(path) order: group_id = exclusive-prefix-bytes
    * div targetBytes — every group lands within one straddling file of
    * the target (first-fit bin packing is a sequential fold; the prefix
    * rule is the order-free equivalent a distributed engine can
    * actually run), and the same listing yields the same plan on every
    * engine and partitioning. A file larger than targetBytes forms its
    * own oversized group and may SKIP group ids (it consumed several
    * target multiples) — ids index the byte space, not a dense group
    * list. The prefix sum is the distributed
    * orderedPrefixSum (range buckets + local sums + O(buckets) offsets)
    * — NEVER a single-task global window, which would serialize exactly
    * the metadata-scale listing this exists to fix. Negative sizes fail
    * loud (a corrupt listing must not silently skew packing). Emits
    * (path, bytes, cum_bytes, group_id). */
  def compactionPlan(files: DataFrame, path: String, bytes: String,
                     targetBytes: Long): DataFrame = {
    require(targetBytes >= 1L,
      s"targetBytes must be >= 1, got $targetBytes")
    val emitted = Seq("cum_bytes", "group_id", "_cb")
    require(!emitted.contains(path) && !emitted.contains(bytes),
      s"compactionPlan emits/uses ${emitted.mkString(", ")}; rename inputs")
    val integral = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.LongType)
    require(integral.contains(files.schema(bytes).dataType),
      s"compactionPlan sums '$bytes' as exact int64; got " +
        s"${files.schema(bytes).dataType}")
    val guard = assert_true(col(bytes) >= 0,
      concat(lit("compactionPlan: negative size for '"), col(path),
        lit("' — a corrupt listing must not skew the packing; got "),
        col(bytes).cast("string")))
    val sized = files.filter(col(bytes).isNotNull).filter(guard.isNull)
      .select(col(path), col(bytes).cast("long").as(bytes))
    graft.operators.CoreOps.orderedPrefixSum(sized,
        graft.expressions.Md5Expressions.md5Long(col(path)),
        path, bytes, "cum_bytes")
      .withColumn("_cb", col("cum_bytes") - col(bytes))
      .select(col(path), col(bytes), col("cum_bytes"),
        expr(s"_cb div CAST($targetBytes AS BIGINT)").as("group_id"))
  }

  /** Clustering-depth audit over a file-statistics listing — "how many
    * files does a point lookup on the sort key actually open?" Each
    * file's parquet min/max on the key is an interval [lo, hi]; a file's
    * DEPTH is 1 + the number of OTHER files whose interval overlaps it.
    * A well-sorted layout reads ~1 file per point; depth drifting toward
    * N means min/max stats have stopped pruning and a zorderLayout /
    * compactionPlan rewrite is due — this is the metric that DECIDES
    * those rewrites, computed from metadata only (the file listing,
    * never the data). Overlap counting composes
    * `CoreOps.intervalOverlapJoin` on half-open [lo, hi+1) — cell-grid
    * equi-join, dedup-free emission, fail-loud `maxCells` span guard —
    * so no all-pairs product exists even over a million-file listing.
    * Zero-overlap files are emitted with depth 1 (absence would read as
    * "not audited"). Emits one row per file (file_id, key_lo, key_hi,
    * depth). */
  def clusteringDepth(files: DataFrame, id: String, lo: String, hi: String,
                      cellSize: Long, maxCells: Int): DataFrame = {
    val emitted = Seq("file_id", "key_lo", "key_hi", "depth", "_aid", "_alo",
      "_ahi", "_bid", "_blo", "_bhi", "_n")
    val clash = Seq(id, lo, hi).filter(emitted.contains)
    require(clash.isEmpty,
      s"clusteringDepth emits/uses ${emitted.mkString(", ")}; " +
        s"rename ${clash.mkString(", ")}")
    val base = files
      .filter(col(id).isNotNull && col(lo).isNotNull && col(hi).isNotNull
        && col(lo) <= col(hi))
      .select(col(id).as("file_id"), col(lo).cast("long").as("key_lo"),
        col(hi).cast("long").as("key_hi"))
      .localCheckpoint(true) // shared: both join sides and the output seed
    val a = base.select(col("file_id").as("_aid"), col("key_lo").as("_alo"),
      (col("key_hi") + 1L).as("_ahi"))
    val b = base.select(col("file_id").as("_bid"), col("key_lo").as("_blo"),
      (col("key_hi") + 1L).as("_bhi"))
    val overlaps = graft.operators.CoreOps.intervalOverlapJoin(
        a, "_alo", "_ahi", b, "_blo", "_bhi", cellSize, maxCells)
      .filter(col("_aid") =!= col("_bid"))
      .groupBy(col("_aid")).agg(count(lit(1)).as("_n"))
    base.join(overlaps, base("file_id") === overlaps("_aid"), "left")
      .select(col("file_id"), col("key_lo"), col("key_hi"),
        (coalesce(col("_n"), lit(0L)) + 1L).as("depth"))
  }
}
