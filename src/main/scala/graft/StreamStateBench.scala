package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.EventStream

/** Streaming state-footprint + throughput bench — turns the state-sizing
  * table in `conf/cluster-smoke.conf` from arithmetic into artifact. It
  * drives the three stateful shapes the conf table sizes (w05 hourly
  * window aggregate, w06 watermark-bounded dedup, the custom
  * flatMapGroupsWithState sessionizer) over a ~10^6-event time-ordered
  * file feed under the PRODUCTION state-store pin (RocksDB provider +
  * changelog checkpointing), and reports per shape:
  *
  *   - sustained rows/s (input rows / summed micro-batch wall, plus the
  *     end-to-end wall including planning/commit gaps),
  *   - final state entries (`numRowsTotal`) and the store's own memory
  *     figure (`memoryUsedBytes`),
  *   - RocksDB SST bytes from the state-operator custom metrics and the
  *     measured bytes/entry — the number the conf table predicts,
  *   - the on-disk checkpoint `state/` dir size (what the reliable
  *     checkpoint actually costs under changelog checkpointing),
  *
  * then RESTARTS each shape from its checkpoint against a small delta
  * feed and reports time-to-caught-up — the recovery number a 100 TB
  * deployment plans around (a failed-over executor must replay the
  * changelog and reload the full live state before its first batch
  * commits; crash-recovery CORRECTNESS is CrashRecoverySpec's job, the
  * latency is measured here).
  *
  * Feed shape: `users` users × 50 events each; per user, events come in
  * 5 bursts of 10 (60 s spacing inside a burst, 2 h jumps between) — so
  * the 30-min-gap sessionizer closes 5 sessions/user and the hourly
  * aggregate spans ~9 buckets. (The burst index is an INTEGER division
  * of the per-user event index; the round-12 artifact computed it with
  * Column `/` — double division — which stretched the feed into a
  * linear ~720 s spacing with no mid-feed session closes. State-entry
  * counts were unaffected, but the r12 throughput rows describe that
  * stretched feed, not this one — re-measured round 13.) The dedup
  * shape runs with a watermark wider than the feed's span, so EVERY
  * event_id is live state at the end — the worst case the conf table's
  * "entries = ids within the watermark" row bounds. Files are written
  * time-ordered (range partitioned on ts) so the file source's
  * watermark advances cleanly.
  *
  * Usage: runMain graft.StreamStateBench [events=1000000] [users=20000]
  *        [filesPerTrigger=5] — one JSON line per shape (env header
  * first), same artifact discipline as [[Bench]]; not part of the graded
  * contract, artifacts land in logs/.
  */
object StreamStateBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 1000000L
    val users = if (args.length > 1) args(1).toLong else 20000L
    val fpt = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
      // the conf/cluster-smoke.conf production pin, measured as configured
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)
    println(Sessions.envLine(cpus,
      s""""events":$n,"users":$users,"files_per_trigger":$fpt,"provider":"rocksdb""""))

    // ---- the feed: n events, time-ordered into 50 range files ----------
    val feed = Files.createTempDirectory("graft_ssb_feed").toString
    val base = 1705276800L // 2024-01-15T00:00:00Z
    def eventFrame(ids: org.apache.spark.sql.Dataset[java.lang.Long]) = ids.select(
      col("id").as("event_id"),
      timestamp_seconds(lit(base) +
        // burst index = (per-user event index) div 10 — integer division
        // (Column `/` is double division: the r12 bug this fixes)
        ((col("id") / users).cast("long") / lit(10)).cast("long") * 7200 + // 2 h jumps
        pmod((col("id") / users).cast("long"), lit(10)) * 60 + // 60 s in-burst
        pmod(col("id"), lit(60))).as("ts"), // per-user skew inside a minute
      pmod(col("id"), lit(users)).as("user_id"),
      element_at(array(lit("view"), lit("click"), lit("purchase"), lit("scroll")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
      (pmod(col("id"), lit(100)) / 10.0).as("value"),
      lit(null).cast("string").as("props"))
    eventFrame(spark.range(n))
      .repartitionByRange(50, col("ts"))
      .write.mode("overwrite").parquet(feed)

    def dirBytes(p: String): Long = {
      val f = new java.io.File(p)
      if (!f.exists) 0L
      else org.apache.commons.io.FileUtils.sizeOfDirectory(f)
    }

    final case class ShapeRun(shape: String, ckpt: String,
                              build: DataFrame => DataFrame)
    val runs = new scala.collection.mutable.ArrayBuffer[ShapeRun]

    def measure(shape: String, build: DataFrame => DataFrame): Unit = {
      val ckpt = Files.createTempDirectory(s"graft_ssb_ckpt_$shape").toString
      val src = EventStream.readEvents(spark, feed, maxFilesPerTrigger = Some(fpt))
      val t0 = System.nanoTime()
      val q = build(src).writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val inputRows = progress.map(_.numInputRows).sum
      val batchSecs = progress
        .map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1e3).sum
      // the LAST progress with a state operator carries the final footprint
      val stateOp = q.recentProgress.reverse.flatMap(_.stateOperators.headOption).headOption
      val entries = stateOp.map(_.numRowsTotal).getOrElse(0L)
      val mem = stateOp.map(_.memoryUsedBytes).getOrElse(0L)
      val sst = stateOp.flatMap(s => Option(s.customMetrics.get("rocksdbSstFileSize")))
        .map(_.longValue).getOrElse(0L)
      val ckptState = dirBytes(s"$ckpt/state")
      val perEntry = if (entries > 0) sst.toDouble / entries else 0.0
      // -1 sentinel when no progress entry carried a triggerExecution
      // duration (the same convention Bench uses for failed stages) —
      // Long.MaxValue from a /0.0 would silently poison the artifact
      val rps = if (batchSecs > 0) (inputRows / batchSecs).toLong else -1L
      println(s"""{"metric":"stream_state","shape":"$shape","input_rows":$inputRows,""" +
        s""""batches":${progress.length},"wall_secs":$wall,"batch_secs":$batchSecs,""" +
        s""""rows_per_sec":$rps,""" +
        s""""state_entries":$entries,"state_memory_bytes":$mem,""" +
        s""""rocksdb_sst_bytes":$sst,"sst_bytes_per_entry":$perEntry,""" +
        s""""ckpt_state_dir_bytes":$ckptState}""")
      runs += ShapeRun(shape, ckpt, build)
      spark.catalog.clearCache()
      System.gc()
    }

    import spark.implicits._
    // w05 shape: watermarked hourly tumbling aggregate — state is
    // (window × event_type) rows, O(types) per live hour
    measure("w05_hourly", df => EventStream.hourlyCounts(df))
    // w06 shape: dropDuplicatesWithinWatermark, watermark WIDER than the
    // feed span — all n event_ids live at the end (the conf table's
    // "entries = ids within the watermark" worst case, the one that OOMs
    // the heap provider at fleet scale)
    measure("w06_dedup", df => EventStream.dedupEvents(df, watermark = "48 hours"))
    // custom-state sessionizer: one SessionState per ACTIVE user
    measure("sessionize", df => EventStream.sessionize(
      df.select("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStream.Event], gapSeconds = 1800).toDF())

    // ---- restart latency: resume each checkpoint against a small delta
    // batch. The wall clock covers offset-log recovery, RocksDB
    // snapshot+changelog reload of the FULL live state, and the one
    // delta micro-batch — time-to-caught-up after a crash. The delta is
    // appended ONCE, after all first-pass runs, so their input_rows stay
    // comparable across shapes (and with the r12 artifacts).
    val deltaRows = 20000L
    eventFrame(spark.range(n, n + deltaRows)) // fresh ids, later ts
      .repartitionByRange(2, col("ts"))
      .write.mode("append").parquet(feed)
    runs.foreach { r =>
      val src = EventStream.readEvents(spark, feed, maxFilesPerTrigger = Some(fpt))
      val t0 = System.nanoTime()
      val q = r.build(src).writeStream.format("noop")
        .option("checkpointLocation", r.ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val inputRows = progress.map(_.numInputRows).sum
      val batchSecs = progress
        .map(p => p.durationMs.getOrDefault("triggerExecution", 0L).toDouble / 1e3).sum
      val stateOp = q.recentProgress.reverse.flatMap(_.stateOperators.headOption).headOption
      val entries = stateOp.map(_.numRowsTotal).getOrElse(0L)
      println(s"""{"metric":"stream_restart","shape":"${r.shape}",""" +
        s""""delta_rows":$inputRows,"restart_wall_secs":$wall,""" +
        s""""restart_batch_secs":$batchSecs,"state_entries_after":$entries}""")
      // the per-shape checkpoint is done after its restart measurement —
      // leaked graft_ssb_ckpt_* dirs are tens of MB of RocksDB state at
      // the 4M+ shapes and accumulate across runs (round-13 advice)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(r.ckpt))
      spark.catalog.clearCache()
      System.gc()
    }

    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(feed))
    spark.stop()
  }
}
