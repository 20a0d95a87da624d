package graft.sinks

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A/B-rotated parquet snapshot with an atomic current-pointer — the
  * plain-parquet answer to "repeatedly MERGE into a table I'm also
  * reading" (the in-place-overwrite hazard documented at Main.run's
  * history merge: parquet has no transactional overwrite, so the only
  * safe rewrite is write-elsewhere-then-flip).
  *
  * Layout under `root`:
  *   A/ , B/     alternating full snapshots (parquet)
  *   _current    one-line pointer file naming the live side
  *
  * Writers always land on the NON-current side, then flip the pointer
  * with an atomic rename (FileContext.rename OVERWRITE — atomic on HDFS
  * and local FS). A crash mid-write leaves the pointer on the old, intact
  * snapshot; a crash between write and flip loses only the flip (the new
  * snapshot is orphaned until the next write overwrites that side). At no
  * point can the ONLY copy be mid-rewrite — the invariant the streaming
  * merge sinks and the persisted similarity codebook need. (The daily
  * master is day-partitioned and lives in [[PartitionStore]], which
  * rotates per partition instead of rewriting the whole table.)
  *
  * Reader contract: a reader holds the side that was current when it
  * planned its scan, so it survives ONE concurrent swapWrite (which
  * targets the other side) but not two — long-running readers must
  * finish within a rotation period, or the deployment should keep N > 2
  * rotating sides / a retention window (the same reader-vs-compaction
  * contract transactional table formats solve with snapshot retention). */
object SnapshotStore {

  private def fc(spark: SparkSession, root: String): FileContext =
    FileContext.getFileContext(new Path(root).toUri,
      spark.sparkContext.hadoopConfiguration)

  /** The live side ("A"/"B"), if a snapshot exists. */
  def currentSide(spark: SparkSession, root: String): Option[String] = {
    val f = fc(spark, root)
    val p = new Path(s"$root/_current")
    if (!f.util.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim)
      finally in.close()
    }
  }

  /** The live snapshot, if one exists. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentSide(spark, root).map(s => spark.read.parquet(s"$root/$s"))

  /** Compact the live snapshot into ~`targetBytes` parquet files — the
    * small-files answer for a store that incremental runners append to
    * in per-batch dribs (every AvailableNow pass adds a file set; a
    * year of 100 MB days is 10⁵+ files whose footer reads and
    * task-per-file scheduling dominate scan cost long before data
    * volume does). The rewrite rides the SAME A/B rotation as any other
    * write: read the current side, coalesce to ceil(bytes/target) files,
    * [[swapWrite]] the other side and flip — readers planned against the
    * old side are never disturbed, and a crash mid-compaction leaves the
    * pointer on the intact snapshot (compaction is a no-op to retry).
    * Partitioned snapshots repartition BY the partition columns so each
    * task writes whole partition-value file sets, not a file per
    * (task × value); a skewed partition value still caps at its own size.
    * Returns the file target, or None when no snapshot exists. */
  def compact(spark: SparkSession, root: String, targetBytes: Long,
              partitionBy: Seq[String] = Nil): Option[Int] =
    currentSide(spark, root).map { side =>
      val p = new Path(s"$root/$side")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bytes = fs.getContentSummary(p).getLength
      val nFiles = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val cur = spark.read.parquet(s"$root/$side")
      val laid =
        if (partitionBy.nonEmpty)
          cur.repartition(nFiles,
            partitionBy.map(org.apache.spark.sql.functions.col): _*)
        else cur.repartition(nFiles)
      swapWrite(laid, root, partitionBy)
      nFiles
    }

  /** Write `df` as the next snapshot and atomically flip the pointer.
    * The write targets the non-current side, so the current snapshot
    * stays readable (and consistent) throughout. `partitionBy` keeps a
    * physical partitioning (e.g. the master's day layout) inside each
    * side. */
  def swapWrite(df: DataFrame, root: String,
                partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val next = if (currentSide(spark, root).contains("A")) "B" else "A"
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(s"$root/$next")
    val f = fc(spark, root)
    val tmp = new Path(s"$root/_current.tmp")
    val dst = new Path(s"$root/_current")
    val out = f.create(tmp,
      java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE),
      Options.CreateOpts.createParent())
    try out.write(next.getBytes("UTF-8")) finally out.close()
    f.rename(tmp, dst, Options.Rename.OVERWRITE)
  }
}
