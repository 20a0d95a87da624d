package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** S2: sinks.
  *
  * S2 (one GCS JSON object per day, app.py:122-133) maps to a
  * day-partitioned write: `partitionBy(ingest_date)` gives the same
  * `date=.../` layout with partition pruning for free (SURVEY §1.2).
  */
object TableSink {

  /** S2: day-partitioned lake write. `dateCol` becomes the physical
    * partition key (directory per day, America/Santiago bucketing is the
    * caller's concern per SURVEY §1.3's timezone decision). */
  def writeDayPartitioned(df: DataFrame, dateCol: String, path: String,
                          format: String = "parquet"): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(dateCol)
      .format(format)
      .save(path)

  /** Derive the Santiago-zone ingest date from a timestamp column —
    * the reference's day bucketing (app.py:125,138; SURVEY §7.4). */
  def santiagoDate(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    to_date(from_utc_timestamp(ts, "America/Santiago"))

  /** Range-clustered parquet layout for data skipping: rows are
    * range-partitioned into `files` contiguous, DISJOINT key ranges and
    * sorted within each — so parquet's per-rowgroup min/max statistics
    * become tight and a pushed-down range/point predicate skips whole
    * rowgroups (and, under manifest-tracking table formats, whole files).
    * The unsorted default interleaves keys across every file, making
    * every min/max span the whole domain — stats that prune nothing.
    * This is the scan-side complement to [[writeBucketed]]: bucketing
    * kills the JOIN exchange, range-clustering kills the FILTER scan.
    * Cost: one range exchange (sampling pass + shuffle) at write time. */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  files: Int): Unit = {
    val cols = sortCols.map(org.apache.spark.sql.functions.col)
    df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Z-order (Morton) clustered layout — [[writeSorted]] for TWO filter
    * dimensions at once. A single-column sort makes that column's
    * per-file min/max tight and leaves every OTHER column's stats
    * spanning the full domain (filters on it prune nothing); interleaving
    * the bits of both keys into one Morton value and range-clustering on
    * it keeps every file inside a small RECTANGLE of the (a, b) space, so
    * predicates on EITHER dimension skip most files — the multi-dimension
    * data-skipping layout lakehouse engines call OPTIMIZE ZORDER BY.
    *
    * Both columns must be NON-NEGATIVE ints bounded by 2^31 (interleaving
    * is positional — rank/bucketize skewed or signed domains first, e.g.
    * via [[graft.operators.Relational.quantileBuckets]], which also
    * equalizes the two dimensions' resolutions). The z-value is a pure
    * bit expression (codegen'd, no UDF) and is DROPPED before the write —
    * projection preserves the clustered order, so the files keep the
    * layout without leaking a helper column. Cost: one range exchange,
    * same as [[writeSorted]]. */
  def writeZOrder(df: DataFrame, path: String, colA: String, colB: String,
                  files: Int): Unit = {
    val z = zValue(col(colA), col(colB))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** 62-bit Morton interleave of two 31-bit non-negative ints: bit j of
    * `a` lands at 2j, bit j of `b` at 2j+1. Pure shift/mask/add chain —
    * stays in whole-stage codegen. */
  def zValue(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 31).map { j =>
      shiftleft(shiftright(a.cast("long"), j).bitwiseAND(lit(1L)), 2 * j) +
        shiftleft(shiftright(b.cast("long"), j).bitwiseAND(lit(1L)), 2 * j + 1)
    }.reduce(_ + _)

  /** Bucketed catalog table: rows hash-partitioned AND sorted by `key`
    * into `buckets` files per partition. Joins/aggregations between tables
    * bucketed on the same key with the same bucket count need NO exchange
    * — this is the production layout for the master/work frames at 100 TB
    * (SURVEY §7.4 "MERGE without Delta": only the daily delta shuffles). */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Small-file compaction — the maintenance pass every append-heavy
    * lake needs at scale: a year of day-partitioned micro-batch appends
    * leaves thousands of KB-sized files per directory, and at 100 TB the
    * NameNode/listing pressure plus one task per tiny file dominates scan
    * cost long before the bytes do. Rewrites `path` into
    * `ceil(totalBytes / targetBytes)` files (file count derives from the
    * MEASURED on-disk footprint, so compaction is idempotent: re-running
    * on an already-compact directory keeps the same file count).
    *
    * The rewrite round-robins rows (`repartition(n)` with no columns —
    * no range sampling, no key skew: equal-sized output files by
    * construction); callers who also want clustering should instead
    * re-run [[writeSorted]]/[[writeZOrder]], which subsume compaction.
    * The swap (write tmp → delete → rename) is the LOCAL/HDFS analogue
    * of a transactional replace; under concurrent readers use
    * [[SnapshotStore.compact]] (A/B rotation — readers never see a
    * half-swapped directory), [[PartitionStore.compact]] for the daily
    * master, or a manifest-tracking table format's rewrite-files
    * commit — the compaction plan itself is identical. Returns the
    * output file count. */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
              targetBytes: Long): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = fs.getContentSummary(hPath).getLength
    val files = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    spark.read.parquet(path).repartition(files)
      .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    fs.delete(hPath, true)
    if (!fs.rename(tmp, hPath))
      throw new java.io.IOException(s"compaction swap failed for $path")
    files
  }
}
