package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.explode.ChildTables
import graft.flatten.OrderFlatten
import graft.sources.RawReader
import graft.transform.WorkGraph

/** O1: the reference's linear Airflow DAG (Composer/
  * DAG_cloudrun_dataflow_sp.py:323-362 — http → 5 Beam jobs → 29 SP calls)
  * as one Spark driver. Sequencing is Scala statement order; the five
  * Beam jobs that each re-read the raw JSON become ONE read + five
  * derivations (SURVEY §4.2 #3), and the SP chain is one
  * [[WorkGraph.buildWork]] plan. A day with history runs about 30 Spark
  * jobs end to end ([[run]]).
  */
object Main {

  /** Summary counts (the S3 metadata-sidecar semantics, app.py:166-171). */
  final case class RunReport(orders: Long, corruptFiles: Long, events: Long,
                             schedules: Long, reschedules: Long, packages: Long)

  /** Submit independent Spark actions concurrently and await them all
    * (optimization guide §2.6): Spark's FIFO scheduler back-fills idle
    * executors freed by one job's straggler tail with the next job's
    * tasks. Exceptions propagate to the caller. */
  private def runConcurrently(actions: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.sequence(actions.map(a => Future(a()))), Duration.Inf)
  }

  /** Default polygon-lab lookup (T3): stands in for the reference's
    * external polygon service responses (app.py:56-65). Keyed off
    * OrderFlatten.enrichedStructureIds — the single source of truth for
    * which structures enrich. */
  def defaultPolygonLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    OrderFlatten.enrichedStructureIds.zip(Seq((7L, "URBAN-A"), (3L, "URBAN-B"), (1L, "URBAN-C")))
      .map { case (sid, (poly, seg)) => (sid, poly, seg) }
      .toDF("structure_id", "polygon", "segmentation")
  }

  /** Default route dim (Q10), same id source as the polygon lookup. */
  def defaultRouteDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    OrderFlatten.enrichedStructureIds.zip(Seq("RUTA-CENTRO", "RUTA-NORTE", "RUTA-SUR"))
      .toDF("structure_id", "route_name")
  }

  /** Full pipeline: raw day-files → master + 4 child temps + work +
    * visit-order parquet under `outDir`. Returns the run report.
    *
    * `masterHistoryDir`: the previous run's `delivery_order_master` — when
    * given, Q2 (merge_temp_master, DAG:98-104, DOC:8) runs FOR REAL: the
    * day's orders upsert into months of history (update rows win wholesale,
    * unmatched history survives). The merge happens at the sink
    * representation (JSON-string arrays, the same shape the reference's
    * MERGE sees in its warehouse table); the day's work/child tables
    * derive from the day's orders only, as in the reference's daily DAG. */
  def run(spark: SparkSession, inDir: String, outDir: String,
          masterHistoryDir: Option[String] = None): RunReport = {
    val raw = RawReader.readOrders(spark, inDir)
    val (good, bad) = RawReader.quarantine(raw)

    // One parse of the raw JSON; everything below derives from `flat`.
    // PERSISTED: the sinks below are SEPARATE actions (events sink, work
    // sink, master sink, ...) — without a persist each action re-runs the
    // flatten from the cached raw parse, and `events` re-explodes for its
    // three consumers (the Q-chain's event rollup, Q17, its own sink). At
    // 100 TB that is several redundant corpus flattens/explodes per day —
    // the exact re-derivation anti-pattern (SURVEY §4.2 #3) this driver
    // exists to kill. Released after the sinks alongside the raw cache.
    val flat = Persist.hot(OrderFlatten.enrichPolygonLab(
      OrderFlatten.flatten(good), defaultPolygonLookup(spark)))

    val tempMaster = WorkGraph.deleteDuplicates(flat)          // Q1
    val master = tempMaster                                    // Q2 vs empty history
    // Child tables derive from the PRE-dedupe frame: the reference's Beam
    // explodes run on the raw day-files (P2-P5), before the SP-layer dedupe.
    val events = Persist.hot(ChildTables.eventsInfo(flat))     // E1 (+T7)
    val schedules = ChildTables.scheduleEvents(flat)           // E2
    val reschedules = ChildTables.rescheduleEvents(flat)       // E3
    val packages = ChildTables.packages(flat)                  // E4

    val work = WorkGraph.buildWork(master, events, packages, schedules,
      defaultRouteDim(spark))                                  // Q3-Q16, Q18
    val visits = WorkGraph.visitOrder(events)                  // Q17
    val masterFinal = WorkGraph.masterVisitBackfill(master, work) // Q19

    // RunReport counts ride the writes themselves: each reported sink
    // carries an Observation counting the rows it writes, so the report
    // costs no job of its own (re-reading the landed parquet cost 15).
    val landed = Seq("delivery_order_work", "events_info_temp",
      "schedule_events_info_temp", "reschedule_events_info_temp", "packages_temp")
      .map(n => n -> Observation(n)).toMap
    def sink(df: DataFrame, name: String): Unit =
      landed.get(name).fold(df)(o => df.observe(o, count(lit(1)).as("rows")))
        .write.mode("overwrite").parquet(s"$outDir/$name")
    // T6 + S2: master lands day-partitioned (America/Santiago bucketing,
    // SURVEY §1.3) so daily reruns overwrite only their own partition and
    // date-filtered scans prune at the directory level
    val sinkDay = OrderFlatten.toMasterSink(masterFinal).withColumn("ingest_date",
      graft.sinks.TableSink.santiagoDate(col("created_date").cast("timestamp")))
    // Q2 against real history: one full-outer shuffle on the order id (at
    // production scale the history side is bucketed on the key, S9, so
    // only the daily delta shuffles). History is MATERIALIZED before the
    // write: the sink below overwrites the master path, and a lazy read of
    // the same path would either error ("cannot overwrite a path that is
    // also being read from") or lose months of history. Plain parquet has
    // no transactional overwrite, so production alternates A/B master dirs
    // (or uses a transactional table format) — a mid-write crash must
    // never be able to destroy the only copy.
    val history = masterHistoryDir.map(h => Persist.cut(spark.read.parquet(h)))
    val sinkAll = history match {
      case Some(hdf) => graft.operators.Relational.upsert(hdf, sinkDay, "delivery_order_id")
      case None => sinkDay
    }
    // the history snapshot is checkpoint-backed (Persist.cut), which has
    // no eager public release — its blocks are reclaimed by the
    // ContextCleaner once `history` goes out of scope (immediately for a
    // daily batch JVM; on GC for a long-lived session looping runs)
    //
    // Sink scheduling (optimization guide §2.6 — overlap independent
    // jobs): the events sink runs FIRST and alone, because its action is
    // what materializes the shared raw→flat→events caches (Persist.hot is
    // lazy) — racing the other writers against it would compute the
    // flatten concurrently into the same cache blocks, duplicating the
    // exact work the caches exist to share. The remaining sinks are
    // independent actions, submitted from a thread pool so each job's
    // task tail back-fills the cores the previous job is vacating. The
    // child-table and visit-order sinks read only the caches; the work and
    // master sinks each re-derive the Q1 dedupe and the Q-chain from the
    // cached flatten, and under AQE each of their query stages is its own
    // job, so those two dominate the batch. Persisting `work` to share it
    // between them was measured and gives nothing: it serializes the
    // batch behind the work job. Output and report do not depend on the
    // overlap.
    sink(events, "events_info_temp")
    runConcurrently(Seq(
      () => graft.sinks.TableSink.writeDayPartitioned(
        sinkAll, "ingest_date", s"$outDir/delivery_order_master"),
      () => sink(schedules, "schedule_events_info_temp"),
      () => sink(reschedules, "reschedule_events_info_temp"),
      () => sink(packages, "packages_temp"),
      () => sink(work, "delivery_order_work"),
      () => sink(visits, "delivery_order_visit_order")))

    // S9 production layout, behind a flag (default off — the oracle
    // contract and the sidecar read the parquet sinks above): ALSO land
    // work + merged master as delivery_order_id-bucketed catalog tables
    // (TableSink.writeBucketed), so the NEXT day's Q-chain joins and
    // keyed aggregates over them run exchange-free — the "only the daily
    // delta shuffles" claim, wired end-to-end instead of only plan-pinned
    // (PlanSpec). The frames are RE-READ from the parquet just written,
    // not re-derived: one scan + the one-time bucket shuffle, never a
    // second Q-chain/merge recompute. Bucket count must stay FIXED across
    // days (co-location requires equal bucket counts); size it once for
    // the mature master, not today's delta.
    if (spark.conf.get("spark.graft.sink.bucketed", "false").toBoolean) {
      val buckets = spark.conf.get("spark.graft.sink.bucketed.buckets", "32").toInt
      val prefix = spark.conf.get("spark.graft.sink.bucketed.prefix", "graft_daily")
      graft.sinks.TableSink.writeBucketed(
        spark.read.parquet(s"$outDir/delivery_order_work"),
        s"${prefix}_work", "delivery_order_id", buckets)
      graft.sinks.TableSink.writeBucketed(
        spark.read.parquet(s"$outDir/delivery_order_master"),
        s"${prefix}_master", "delivery_order_id", buckets)
    }

    // Report counts come from the sink Observations above, complete once
    // the writes have returned. `orders` is DAY-scoped like the
    // reference's per-day sidecar (app.py:166-171): the work table has
    // exactly one row per today's order, whereas the merged master
    // includes all of history.
    def rows(name: String): Long = landed(name).get("rows").asInstanceOf[Long]
    val report = RunReport(rows("delivery_order_work"), bad.count(),
      rows("events_info_temp"), rows("schedule_events_info_temp"),
      rows("reschedule_events_info_temp"), rows("packages_temp"))
    // release the run's caches (raw parse + flatten + events explode);
    // unpersist is a harmless no-op under mode=reliable where hot()
    // returned a checkpoint instead of a cache
    raw.unpersist(); events.unpersist(); flat.unpersist()
    // S3 metadata sidecar (app.py:166-171)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/_run_metadata.json"),
      s"""{"total_ordenes":${report.orders},"fallos":${report.corruptFiles},""" +
        s""""events":${report.events},"schedules":${report.schedules},""" +
        s""""reschedules":${report.reschedules},"packages":${report.packages}}""")
    report
  }

  /** O2 + O1: the DAG's ingest entry end-to-end
    * (Composer/DAG_cloudrun_dataflow_sp.py:25-32 trigger → :323-362
    * chain) — fire the orchestrator's authenticated trigger, then the
    * paged extract into `rawDir`, then the full pipeline over what
    * landed. The trigger runs FIRST and an exhausted-retries failure
    * aborts the run before any fetch — in the reference DAG a failed
    * trigger task fails the run and nothing downstream executes.
    * Production passes
    * `Some(() => Extract.authenticatedTrigger(endpoint, audience, tokenFor))`;
    * `None` keeps the direct path for environments with no trigger
    * service (the [[run]]-only shape every prior round shipped). */
  def ingest(spark: SparkSession, fetch: graft.sources.Extract.FetchPage,
             from: java.time.LocalDate, to: java.time.LocalDate,
             rawDir: String, outDir: String,
             trigger: Option[() => String] = None,
             masterHistoryDir: Option[String] = None): RunReport = {
    trigger.foreach(t => t())
    graft.sources.Extract.run(fetch, from, to, rawDir)
    run(spark, rawDir, outDir, masterHistoryDir)
  }

  /** Shared AvailableNow parquet-sink runner: one incremental pass of
    * `df` into `outDir/name` with its own checkpoint, blocking until the
    * pass completes. */
  private def runAvailableNow(df: DataFrame, outDir: String, name: String): Unit =
    df.writeStream.format("parquet")
      .option("path", s"$outDir/$name")
      .option("checkpointLocation", s"$outDir/_checkpoints/$name")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** O2's streaming twin (optional path): ONE `Trigger.AvailableNow` pass
    * of the watermarked hourly event aggregate over the day-partitioned
    * events lake, landing parquet + checkpoint under `outDir`. Append mode
    * emits only watermark-FINALIZED windows, so a re-run after new files
    * arrive appends exactly the newly-closed hours — incremental daily
    * loads without re-reading history (the reference re-reads 5 months,
    * DOC:61). Blocks until the pass completes. */
  def runStreamingHourly(spark: SparkSession, eventsDir: String, outDir: String): Unit =
    runAvailableNow(
      graft.streaming.EventStream.hourlyCounts(
        graft.streaming.EventStream.readEvents(spark, eventsDir)),
      outDir, "hourly_counts")

  /** Deduplicated landing of the events lake: one AvailableNow pass
    * through the watermark-bounded dedup — re-delivered event_ids (an
    * at-least-once upstream's retries) collapse before they reach
    * downstream consumers, incrementally per pass. The watermark caveat
    * in [[graft.streaming.EventStream.dedupEvents]] applies across
    * passes too: the checkpoint carries the watermark forward, so a
    * straggler file whose events predate it by more than the watermark
    * is dropped, not landed — backfills older than the watermark belong
    * on the batch path. */
  def runStreamingDedup(spark: SparkSession, eventsDir: String, outDir: String): Unit =
    runAvailableNow(
      graft.streaming.EventStream.dedupEvents(
        graft.streaming.EventStream.readEvents(spark, eventsDir)),
      outDir, "events_deduped")

  /** The sessionizer's AvailableNow twin: one incremental pass of the
    * stateful gap-sessionizer over the events lake, landing sessions as
    * parquet. A session is emitted once closed — by a successor event
    * past the gap, or by the event-time timeout once the watermark
    * passes; an in-watermark straggler arriving in a LATER pass can land
    * as its own additional late session for the same user (the standard
    * append-mode trade — downstream consumers aggregate per user/span,
    * they must not assume one row per logical session). */
  def runStreamingSessions(spark: SparkSession, eventsDir: String, outDir: String,
                           gapSeconds: Long = 1800): Unit = {
    import spark.implicits._
    val events = graft.streaming.EventStream.readEvents(spark, eventsDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[graft.streaming.EventStream.Event]
    runAvailableNow(graft.streaming.EventStream.sessionize(events, gapSeconds).toDF(),
      outDir, "sessions")
  }

  /** Incremental curation: the narrow text gate (fused language+quality
    * scores, x18's operator) as a streaming transform over a documents
    * lake — new files are scored, filtered, and landed as they arrive,
    * so corpus curation keeps up with ingestion instead of re-running
    * over history (same §4.2 #3 discipline as the hourly runner).
    * Stateless-narrow ops need no watermark and are trivially
    * streaming-safe; the runner's value is the pinned CONTRACT: per-doc
    * decisions identical to the batch gate (spec-asserted), because the
    * operator is deterministic per row. */
  def runStreamingCuration(spark: SparkSession, docsDir: String, outDir: String,
                           minQuality: Double = 0.5, lang: String = "en"): Unit =
    runAvailableNow(
      graft.operators.TextAnalysis.curationScores(
        spark.readStream
          .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
          .parquet(docsDir))
        .filter(col("pred_lang") === lang && col("quality_score") >= minQuality),
      outDir, "curated")

  /** The crash-safe daily loop: [[run]] with the master history held in a
    * [[graft.sinks.SnapshotStore]] A/B rotation instead of a
    * caller-managed directory. Each day reads history from the CURRENT
    * snapshot side, merges (Q2), writes the day's deliverables under
    * `outDir` as usual, then promotes the merged master onto the OTHER
    * side and atomically flips the pointer — so the history being read is
    * never the path being rewritten, and a crash at ANY point leaves a
    * complete, pointed-to master (the property the in-place layout only
    * achieves under eager-materialization discipline; here it holds
    * structurally). The promotion re-writes the merged master once more
    * (sequential parquet I/O); a production deployment on a
    * transactional table format would replace the whole rotation with
    * MERGE, as documented at the history write in [[run]]. */
  /** The delta-only daily shape: run the day pipeline with NO history
    * (its master sink is then exactly the day's own rows), and merge
    * that day-only master into a PERSISTENT day-partitioned master via
    * [[graft.sinks.TableSink.upsertDayPartitions]] — only the
    * partitions today touches are rewritten, vs [[run]]'s
    * `masterHistoryDir` chain which re-shuffles and re-writes the FULL
    * history every day (the measured 22.5 µs/history-row/day of
    * `logs/backfill_r12_90day.jsonl`). Same upsert law, spec-pinned
    * equal to the chained full merge; measured flat by BackfillBench's
    * `delta` mode. */
  def runDailyDelta(spark: SparkSession, inDir: String, outDir: String,
                    masterDir: String): RunReport = {
    val report = run(spark, inDir, outDir, masterHistoryDir = None)
    graft.sinks.TableSink.upsertDayPartitions(
      spark.read.parquet(s"$outDir/delivery_order_master"), masterDir,
      key = "delivery_order_id", dateCol = "ingest_date")
    report
  }

  /** [[runDailyDelta]] over the S9 bucketed layout: the persistent
    * master is a day-partitioned, delivery_order_id-bucketed catalog
    * TABLE, so the delta's affected-dates probe and keep-side anti-join
    * run exchange-free (PlanSpec pin) and the probe's read is pruned by
    * the day-key range against the in-bucket sort order — the
    * composition of [[graft.sinks.TableSink.writeBucketed]] with the
    * partition-level delta that the round-12 verdict called for.
    * Bucket count must stay FIXED across days (co-location requires
    * equal counts). */
  def runDailyDeltaBucketed(spark: SparkSession, inDir: String, outDir: String,
                            table: String, buckets: Int = 8): RunReport = {
    val report = run(spark, inDir, outDir, masterHistoryDir = None)
    graft.sinks.TableSink.upsertDayPartitionsBucketed(
      spark.read.parquet(s"$outDir/delivery_order_master"), table,
      key = "delivery_order_id", dateCol = "ingest_date", buckets = buckets)
    report
  }

  /** [[runDailyDelta]] made TRANSACTIONAL: the persistent master lives
    * in a [[graft.sinks.PartitionStore]] (per-partition A/B rotation,
    * one atomic manifest commit), so a crash at ANY point in the day's
    * merge leaves readers on the previous complete master — closing the
    * plain layout's documented overwrite-then-delete window while
    * keeping the delta-only write volume (untouched partitions: zero
    * I/O). Spec-pinned equal to the chained full-history merge
    * (PipelineSpec); measured by BackfillBench's `delta_store` mode. */
  def runDailyDeltaStore(spark: SparkSession, inDir: String, outDir: String,
                         masterRoot: String): RunReport = {
    val report = run(spark, inDir, outDir, masterHistoryDir = None)
    graft.sinks.PartitionStore.upsert(
      spark.read.parquet(s"$outDir/delivery_order_master"), masterRoot,
      key = "delivery_order_id", dateCol = "ingest_date")
    report
  }

  /** The composition of [[runDailyDeltaBucketed]] and
    * [[runDailyDeltaStore]]: the persistent master is a
    * [[graft.sinks.BucketedStore]] — exchange-free probe/anti-join on
    * the bucketed layout AND one atomic manifest commit per day, so a
    * crash anywhere in the merge leaves readers on the previous
    * complete master (the round-13 verdict's "one path with both"
    * task). Measured by BackfillBench's `bucketed_store` mode. */
  def runDailyDeltaBucketedStore(spark: SparkSession, inDir: String,
                                 outDir: String, masterRoot: String,
                                 table: String, buckets: Int = 8): RunReport = {
    val report = run(spark, inDir, outDir, masterHistoryDir = None)
    graft.sinks.BucketedStore.upsert(
      spark.read.parquet(s"$outDir/delivery_order_master"), masterRoot, table,
      key = "delivery_order_id", dateCol = "ingest_date", buckets = buckets)
    report
  }

  def runDailySnapshot(spark: SparkSession, inDir: String, outDir: String,
                       masterRoot: String): RunReport = {
    val history = graft.sinks.SnapshotStore.currentSide(spark, masterRoot)
      .map(s => s"$masterRoot/$s")
    val report = run(spark, inDir, outDir, masterHistoryDir = history)
    graft.sinks.SnapshotStore.swapWrite(
      spark.read.parquet(s"$outDir/delivery_order_master"), masterRoot,
      partitionBy = Seq("ingest_date"))
    report
  }

  /** Incremental anomaly monitoring — the streaming twin of the x42
    * chain (resample → rolling z-score): each micro-batch of events is
    * reduced to per-(key, bucket) count PARTIALS tagged with the batch
    * id and merged into a counts snapshot; the gap-filled series and its
    * z-scores are then recomputed FROM THE MERGED COUNTS and land under
    * `outRoot/anomalies`.
    *
    * Why this split is the right incremental shape: the z-score is a
    * windowed operator — one new day changes the trailing statistics of
    * later buckets too, so per-row streaming state cannot patch the
    * output — but the EXPENSIVE side (reading raw events) is strictly
    * incremental: each event is read once, ever, and the recompute runs
    * over |keys × buckets| aggregated rows, orders of magnitude smaller
    * than the event lake (and prunable further: only keys present in
    * the batch can change — documented option, full rewrite kept here
    * for the simpler A/B-snapshot output contract).
    *
    * Retry safety: foreachBatch is at-least-once, and an ADDITIVE merge
    * double-counts a retried batch — so partials key on (key, bucket,
    * batch_id) and merge by dedupe, making the retry overwrite its own
    * prior rows instead of adding to them; totals are summed at read.
    * The converged output equals the batch chain over the whole lake
    * regardless of how files split into batches (spec-asserted). */
  def runStreamingAnomaly(spark: SparkSession, eventsDir: String, outRoot: String,
                          unit: String = "day", window: Int = 7, k: Int = 3): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeAnomalyBatch(batch.toDF(), batchId, outRoot, unit, window, k)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/anomaly")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runStreamingAnomaly]] micro-batch, exposed so the retry
    * contract is directly testable: applying the SAME (batch, batchId)
    * twice must leave counts and anomalies unchanged — the dedupe on
    * (user, bucket, batch_id) makes the retry overwrite its own prior
    * partials instead of adding to them (spec-asserted). */
  private[graft] def mergeAnomalyBatch(batch: DataFrame, batchId: Long,
                                       outRoot: String, unit: String,
                                       window: Int, k: Int): Unit = {
    val s = batch.sparkSession
    val countsRoot = s"$outRoot/counts"
    val bCounts = batch.filter(col("user_id").isNotNull)
      .groupBy(col("user_id"), date_trunc(unit, col("ts")).as("bucket"))
      .agg(count(lit(1)).as("n_events"))
      .withColumn("batch_id", lit(batchId))
    val all = graft.sinks.SnapshotStore.read(s, countsRoot)
      .map(_.unionByName(bCounts)).getOrElse(bCounts)
    graft.sinks.SnapshotStore.swapWrite(
      graft.operators.Relational.dedupeKeepFirst(all,
        Seq(col("user_id"), col("bucket"), col("batch_id")),
        Seq(col("n_events"))),
      countsRoot)
    val merged = graft.sinks.SnapshotStore.read(s, countsRoot).get
      .groupBy(col("user_id"), col("bucket"))
      .agg(sum(col("n_events")).as("n_events"))
    graft.operators.Relational.rollingZscore(
        graft.operators.Relational.fillGaps(merged, "user_id", unit),
        "user_id", "bucket", "n_events", window, k)
      .write.mode("overwrite").parquet(s"$outRoot/anomalies")
  }

  /** Incremental ANN index maintenance: new embedding batches are
    * assigned to a FIXED codebook as they arrive and appended to the
    * IVF index — the streaming leg of the similarity family (an index
    * that only grows by assignment; re-training the codebook is a batch
    * decision, exactly as in production ANN services, because moving
    * centroids would invalidate every previously assigned vector).
    *
    * Exactly-once without a transactional sink: each batch lands under
    * its OWN `batch=<id>` directory with overwrite — an at-least-once
    * retry overwrites its previous attempt instead of appending
    * duplicates (same discipline as the anomaly runner's batch-id keys,
    * achieved with directory layout instead of a dedupe). Readers scan
    * `index/` and see `batch` as a partition column.
    *
    * Scale: the codebook broadcast is the only data movement besides
    * the batch's own assign aggregate; the corpus-so-far is never
    * touched again — the entire point vs re-assigning the lake daily. */
  def runStreamingIndexAssign(spark: SparkSession, embDir: String,
                              outRoot: String, codebook: DataFrame): Unit =
    spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(embDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity.ivfAssignTo(batch.toDF(), codebook)
          .write.mode("overwrite").parquet(s"$outRoot/index/batch=$batchId")
        ()
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/index")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** [[runStreamingIndexAssign]] against the PERSISTED codebook — the
    * production wiring: the codebook comes from
    * [[graft.operators.Similarity.snapshotCodebook]]'s A/B-rotated
    * SnapshotStore instead of an inline [[graft.operators.Similarity
    * .centroidsOf]] derivation, so every incremental pass (and any
    * concurrent searcher) reads the same versioned snapshot, and a
    * codebook refresh can land mid-stream without ever being read
    * half-written. Assignment identity vs the inline derivation is
    * spec-pinned (PipelineSpec). */
  def runStreamingIndexAssignFromStore(spark: SparkSession, embDir: String,
                                       outRoot: String, codebookRoot: String): Unit =
    runStreamingIndexAssign(spark, embDir, outRoot,
      graft.operators.Similarity.loadCodebook(spark, codebookRoot))

  /** Streaming MERGE into a master snapshot — the streaming twin of the
    * daily history upsert (Q2): each micro-batch of update rows merges
    * into the current snapshot under "latest per key wins" (`order`
    * decides recency), landing via [[graft.sinks.SnapshotStore]]'s A/B
    * rotation so the snapshot being read is never the one being
    * rewritten.
    *
    * Semantics are keep-latest-per-key over base ∪ batch, NOT
    * last-batch-wins: a straggler batch carrying an OLDER row for a key
    * cannot regress the snapshot, so the converged master is independent
    * of how the files split into micro-batches (spec-asserted equal to
    * the batch dedupeKeepFirst over the whole lake). foreachBatch is
    * at-least-once — a retried batch re-merges the same rows, and
    * keep-latest is idempotent under exactly that retry.
    *
    * Scale: one shuffle per batch on the key (the snapshot rewrite is
    * the price of plain parquet — a transactional format with MERGE
    * support would rewrite only matched files; at 100 TB the snapshot
    * would be bucketed on the key, S9, so the union-dedupe co-locates). */
  def runStreamingMasterMerge(spark: SparkSession, updatesDir: String,
                              schema: String, masterRoot: String, key: String,
                              order: Seq[org.apache.spark.sql.Column]): Unit =
    spark.readStream.schema(schema).parquet(updatesDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val all = graft.sinks.SnapshotStore.read(batch.sparkSession, masterRoot)
          .map(_.unionByName(batch.toDF())).getOrElse(batch.toDF())
        graft.sinks.SnapshotStore.swapWrite(
          graft.operators.Relational.dedupeKeepFirst(
            all, Seq(col(key)), order), masterRoot)
        ()
      }
      .option("checkpointLocation", s"$masterRoot/_checkpoints/merge")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Incremental novelty scoring — the daily-ops loop of the x64 query:
    * each micro-batch of new documents is scored against the span index
    * of every PRIOR batch, then contributes its own spans to the index
    * for the batches after it. Within a batch, documents do not consult
    * each other (the x38/x64 incremental convention).
    *
    * Retry discipline: both writes land under the batch's OWN
    * `batch=<id>` directory with overwrite (the index-assign layout), and
    * the index read EXCLUDES the running batch's partition — so an
    * at-least-once retry rescores against exactly the prior-batch index
    * instead of seeing its own half-appended spans. Dup hashes across
    * batch directories are tolerated by [[graft.operators.Dedup
    * .noveltyAgainst]]'s distinct probe; a periodic compaction (distinct
    * rewrite of `span_index/`) is an optimization, not a correctness
    * need. */
  def runIncrementalNovelty(spark: SparkSession, docsDir: String,
                            outRoot: String, n: Int = 15): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeNoveltyBatch(batch.toDF(), batchId, outRoot, n)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/novelty")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalNovelty]] micro-batch, exposed for direct retry
    * testing (same pattern as [[mergeAnomalyBatch]]). */
  private[graft] def mergeNoveltyBatch(batch: DataFrame, batchId: Long,
                                       outRoot: String, n: Int): Unit = {
    val s = batch.sparkSession
    val idxDir = s"$outRoot/span_index"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val idx =
      if (fs.exists(new org.apache.hadoop.fs.Path(idxDir)))
        // `batch` surfaces as the partition column of the batch=<id>
        // layout; excluding the running id makes a RETRY see the same
        // index its first attempt did
        s.read.parquet(idxDir).filter(col("batch") =!= batchId)
      else graft.operators.Dedup.spanIndex(batch.limit(0), n)
    graft.operators.Dedup.noveltyAgainst(batch, idx, n)
      .write.mode("overwrite").parquet(s"$outRoot/novelty/batch=$batchId")
    graft.operators.Dedup.spanIndex(batch, n)
      .write.mode("overwrite").parquet(s"$idxDir/batch=$batchId")
  }

  /** Incremental boilerplate cleaning — x98's ops twin on the
    * [[runIncrementalNovelty]] chassis: each arriving batch is stripped
    * against the span-count index of everything BEFORE it (plus its own
    * within-batch counts — same-day virality), then appends its own
    * per-span holder counts as a `batch=<id>` partial. Counts are
    * additive over disjoint batches (DedupSpec pins it), so the
    * published index is `sum by h` over partials — compaction is an
    * optimization, never a correctness step; retry-idempotence comes
    * from the overwrite dirs + excluding the running id on read. */
  def runIncrementalBoilerplate(spark: SparkSession, docsDir: String,
                                outRoot: String, n: Int = 5,
                                maxDf: Int = 2): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeBoilerplateBatch(batch.toDF(), batchId, outRoot, n, maxDf)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/boilerplate")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalBoilerplate]] micro-batch, exposed for direct
    * retry testing. */
  private[graft] def mergeBoilerplateBatch(batch: DataFrame, batchId: Long,
                                           outRoot: String, n: Int,
                                           maxDf: Int): Unit = {
    val s = batch.sparkSession
    val idxDir = s"$outRoot/bp_index"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val idx =
      if (fs.exists(new org.apache.hadoop.fs.Path(idxDir)))
        s.read.parquet(idxDir).filter(col("batch") =!= batchId)
          .groupBy(col("h")).agg(sum(col("df")).as("df"))
      else graft.operators.Dedup.boilerplateIndex(batch.limit(0), n)
    graft.operators.Dedup.stripBoilerplateAgainst(batch, idx, n, maxDf)
      .write.mode("overwrite").parquet(s"$outRoot/clean/batch=$batchId")
    graft.operators.Dedup.boilerplateIndex(batch, n)
      .write.mode("overwrite").parquet(s"$idxDir/batch=$batchId")
  }

  /** Incremental quality-model maintenance — x99's ops twin: each
    * arriving batch WARM-STARTS gradient descent from the latest stored
    * weight row, runs its iterations over the batch only, and publishes
    * the updated model next to the batch's gate scores. Carried state is
    * the 4-value weight row — gradient descent needs nothing else — so
    * history is never re-featurized (the same "state, not history"
    * discipline as the novelty/KMV/CC runners). Retry-idempotent via
    * overwrite `batch=<id>` dirs + excluding the running id when picking
    * the warm-start row. */
  def runIncrementalQualityModel(spark: SparkSession, docsDir: String,
                                 outRoot: String, iters: Int = 3): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeQualityModelBatch(batch.toDF(), batchId, outRoot, iters)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/quality_model")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalQualityModel]] micro-batch, exposed for direct
    * retry testing. */
  private[graft] def mergeQualityModelBatch(batch: DataFrame, batchId: Long,
                                            outRoot: String, iters: Int): Unit = {
    val s = batch.sparkSession
    val modelDir = s"$outRoot/model"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val prior: Option[DataFrame] =
      if (fs.exists(new org.apache.hadoop.fs.Path(modelDir))) {
        val hist = s.read.parquet(modelDir).filter(col("batch") =!= batchId)
        // a RETRY of the first batch sees an empty history (its own row
        // is excluded) and must fall back to the cold start; the 1-row
        // probe is driver-side orchestration like the fs.exists above
        if (hist.limit(1).count() > 0) {
          // warm-start from the LATEST persisted row (batch is the
          // partition column of the batch=<id> layout)
          val latest = hist.agg(max(col("batch")).as("b"))
          Some(hist.join(org.apache.spark.sql.functions.broadcast(latest),
            col("batch") === col("b")).drop("batch", "b"))
        } else None
      } else None
    val model = prior match {
      case Some(p) => graft.operators.TextAnalysis.logisticQualityModelFrom(batch, p, iters)
      case None    => graft.operators.TextAnalysis.logisticQualityModel(batch, iters)
    }
    graft.Persist.cut(model)
      .write.mode("overwrite").parquet(s"$modelDir/batch=$batchId")
  }

  /** Incremental PSI drift monitoring — x102's ops twin: the FIRST batch
    * establishes the persisted [[graft.operators.Relational.psiBaseline]]
    * (thresholds + per-bucket counts, a `buckets`-row artifact); every
    * later batch scores its token-count distribution against that stored
    * reference via `psiAgainst` — no percentile pass, no history re-read
    * (the fixed-reference-window monitoring shape). Retry-idempotent:
    * the baseline lives in a `batch=<id>` overwrite dir and the running
    * id is excluded on read, so a retried first batch re-establishes
    * rather than drifting against itself. */
  def runIncrementalPsi(spark: SparkSession, docsDir: String,
                        outRoot: String, buckets: Int = 10): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergePsiBatch(batch.toDF(), batchId, outRoot, buckets)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/psi")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalPsi]] micro-batch, exposed for direct retry
    * testing. */
  private[graft] def mergePsiBatch(batch: DataFrame, batchId: Long,
                                   outRoot: String, buckets: Int): Unit = {
    val s = batch.sparkSession
    val v = batch.select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("v"))
    val baseDir = s"$outRoot/psi_baseline"
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val priorExists = fs.exists(new org.apache.hadoop.fs.Path(baseDir)) && {
      val hist = s.read.parquet(baseDir).filter(col("batch") =!= batchId)
      hist.limit(1).count() > 0
    }
    if (!priorExists)
      graft.Persist.cut(graft.operators.Relational.psiBaseline(v, "v", buckets))
        .write.mode("overwrite").parquet(s"$baseDir/batch=$batchId")
    else {
      val base = s.read.parquet(baseDir).filter(col("batch") =!= batchId)
        .drop("batch")
      graft.operators.Relational.psiAgainst(v, base, "v")
        .write.mode("overwrite").parquet(s"$outRoot/drift/batch=$batchId")
    }
  }

  /** Incremental KMV sketch maintenance — x74's ops twin: each arriving
    * batch of documents writes ITS OWN per-stratum sketch into a
    * `batch=<id>` directory (overwrite ⇒ retry-idempotent, the
    * [[runIncrementalNovelty]] convention), and the published estimate
    * re-merges all batch sketches — min-k is associative and idempotent
    * (spec: kmvMerge of per-half sketches == sketch of the union,
    * EXACTLY), so the merged estimate equals the one a full re-read
    * would produce while only ever reading k longs per stratum per
    * batch. History is never re-shingled. */
  def runIncrementalKmv(spark: SparkSession, docsDir: String, outRoot: String,
                        n: Int = 3, k: Int = 64): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeKmvBatch(batch.toDF(), batchId, outRoot, n, k)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/kmv")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalKmv]] micro-batch, exposed for retry testing. */
  private[graft] def mergeKmvBatch(batch: DataFrame, batchId: Long,
                                   outRoot: String, n: Int, k: Int): Unit = {
    val s = batch.sparkSession
    graft.operators.Dedup.kmvSketch(batch, col("source"), n, k)
      .write.mode("overwrite").parquet(s"$outRoot/sketches/batch=$batchId")
    // publish the merged estimate over every batch sketch (the running
    // batch included — its directory is complete by this point); dup
    // mins across retries collapse in the merge's collect_set
    graft.operators.Dedup.kmvEstimateOf(
        graft.operators.Dedup.kmvMerge(
          s.read.parquet(s"$outRoot/sketches").drop("batch"), k), k)
      .write.mode("overwrite").parquet(s"$outRoot/estimates")
  }

  /** Incremental domain-drift monitor — x79's streaming twin: each
    * AvailableNow pass writes the batch's (stratum, term) token-count
    * PARTIAL to a `batch=<id>` overwrite directory (a retry overwrites
    * itself — the [[runIncrementalKmv]] convention), then republishes
    * per-source KL from the merged partials. Counts are additive, so the
    * published KL is EXACTLY the batch [[graft.operators.TextAnalysis
    * .sourceDivergence]] over everything ingested (spec-asserted across
    * waves); raw documents are tokenized once, ever — the history is
    * re-read only as vocab-sized count rows. */
  def runIncrementalSourceKl(spark: SparkSession, docsDir: String,
                             outRoot: String): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeSourceKlBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/source_kl")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalSourceKl]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeSourceKlBatch(batch: DataFrame, batchId: Long,
                                        outRoot: String): Unit = {
    val s = batch.sparkSession
    batch.select(col("source").as("stratum"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
      .groupBy(col("stratum"), col("term"))
      .agg(count(lit(1)).as("c_st"))
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.TextAnalysis.divergenceFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch"))
      .write.mode("overwrite").parquet(s"$outRoot/kl")
  }

  /** Incremental event-type transition counts — x107's streaming twin:
    * each AvailableNow pass writes the batch's WITHIN-batch transition
    * counts and its per-user boundary digest (first/last type + stitch
    * key) to `batch=<id>` overwrite directories — both derive from the
    * batch alone, so a retry overwrites itself (the [[runIncrementalKmv]]
    * convention) — then republishes merged counts: Σ within-batch
    * partials + cross-batch stitches from the boundary digests. Under
    * time-ordered append ingest the published table is EXACTLY the batch
    * [[graft.operators.Relational.transitionCounts]] over everything
    * ingested (spec-asserted across waves); history is re-read only as
    * |types|²-per-batch count rows plus |users|-per-batch digests, never
    * as raw events. */
  def runIncrementalTransitions(spark: SparkSession, eventsDir: String,
                                outRoot: String): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeTransitionsBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/transitions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalTransitions]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeTransitionsBatch(batch: DataFrame, batchId: Long,
                                           outRoot: String): Unit = {
    val s = batch.sparkSession
    val e = batch.filter(col("user_id").isNotNull)
    val order = Seq(col("ts"), col("event_id"))
    graft.operators.Relational.transitionCounts(
        e, col("user_id"), order, col("event_type"))
      .write.mode("overwrite").parquet(s"$outRoot/within/batch=$batchId")
    graft.operators.Relational.transitionBoundaries(
        e, col("user_id"), order, col("event_type"))
      .write.mode("overwrite").parquet(s"$outRoot/bounds/batch=$batchId")
    val within = s.read.parquet(s"$outRoot/within").drop("batch")
    val stitched = graft.operators.Relational.stitchTransitions(
      s.read.parquet(s"$outRoot/bounds").drop("batch"))
    within.unionByName(stitched)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n"))
      .write.mode("overwrite").parquet(s"$outRoot/transitions")
  }

  /** Incremental heavy-hitter monitoring — x110's streaming twin: the
    * skew diagnostic stays current as the lake grows, so a key turning
    * hot is caught between batches, not at the next full scan. Per-batch
    * (key, n) count partials land in `batch=<id>` overwrite directories
    * (additive, batch-derived, retry-overwrites-itself — the
    * [[runIncrementalKmv]] convention); the published report is
    * [[graft.operators.Relational.heavyHittersFromCounts]] over the
    * summed partials, EXACTLY the batch report over everything ingested
    * (spec-asserted). History is re-read as |keys|-per-batch count rows
    * only. */
  def runIncrementalHeavyKeys(spark: SparkSession, eventsDir: String,
                              outRoot: String, k: Int = 20): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeHeavyKeysBatch(batch.toDF(), batchId, outRoot, k)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/heavy_keys")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalHeavyKeys]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeHeavyKeysBatch(batch: DataFrame, batchId: Long,
                                         outRoot: String, k: Int): Unit = {
    val s = batch.sparkSession
    batch.groupBy(col("user_id").as("key")).agg(count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.Relational.heavyHittersFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch")
          .groupBy(col("key")).agg(sum(col("n")).as("n")), k)
      .write.mode("overwrite").parquet(s"$outRoot/heavy_keys")
  }

  /** Incremental behavioral-twin monitoring — x140's streaming twin: the
    * coordination report stays current as the event lake grows, so a
    * farm spun up mid-week is caught at the next micro-batch, not the
    * next full scan. Per-batch (user, type) count partials land in
    * `batch=<id>` overwrite directories (additive, batch-derived,
    * retry-overwrites-itself — the [[runIncrementalHeavyKeys]]
    * convention); the published report is
    * [[graft.operators.Relational.profileTwinsFromCounts]] over the
    * summed partials — shares re-quantize from FOLDED counts, never
    * from partial shares, so the twin equals the batch report exactly
    * whatever the split (spec-asserted). History is re-read as
    * (user, type) count rows only. */
  def runIncrementalProfileTwins(spark: SparkSession, eventsDir: String,
                                 outRoot: String): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeProfileTwinsBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/profile_twins")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalProfileTwins]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeProfileTwinsBatch(batch: DataFrame, batchId: Long,
                                            outRoot: String): Unit = {
    val s = batch.sparkSession
    batch.filter(col("user_id").isNotNull)
      .select(col("user_id").as("key"), col("event_type").as("etype"))
      .groupBy(col("key"), col("etype")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.Relational.profileTwinsFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch")
          .groupBy(col("key"), col("etype")).agg(sum(col("c")).as("c")))
      .write.mode("overwrite").parquet(s"$outRoot/profile_twins")
  }

  /** Incremental hour-profile monitoring — x145's streaming twin: the
    * seasonality forensics stay current, so a type going flat (a new
    * cron) or needle-peaked (a stuck batch job) is caught at the next
    * micro-batch. Per-batch (type, hour) count partials in `batch=<id>`
    * overwrite directories; the published report is
    * [[graft.operators.Relational.typeHourProfileFromCounts]] over the
    * summed partials — entropy and modal hour re-derive from FOLDED
    * counts, so the twin equals the batch report exactly
    * (spec-asserted). */
  def runIncrementalHourProfile(spark: SparkSession, eventsDir: String,
                                outRoot: String): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeHourProfileBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/hour_profile")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalHourProfile]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeHourProfileBatch(batch: DataFrame, batchId: Long,
                                           outRoot: String): Unit = {
    val s = batch.sparkSession
    batch
      .select(col("event_type"), hour(col("ts")).cast("long").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.Relational.typeHourProfileFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch")
          .groupBy(col("event_type"), col("h")).agg(sum(col("c")).as("c")))
      .write.mode("overwrite").parquet(s"$outRoot/hour_profile")
  }

  /** Incremental hash-uniformity monitoring — x166's streaming twin:
    * the split-health chi² stays current as keys arrive, so a key
    * regime that correlates with the hash (a new id scheme, an
    * adversarial feed) is caught before the samplers built on md5Mod
    * silently skew. Per-batch bucket-occupancy partials in
    * `batch=<id>` overwrite directories (additive,
    * retry-overwrites-itself); the published report is
    * [[graft.operators.Relational.hashUniformityFromCounts]] over the
    * fold — ONE chi² arithmetic with the batch audit (spec-asserted).
    * `buckets` is a tunable that PARAMETERIZES the partials' shape, so
    * it is encoded in the partials path (`counts_b<buckets>/`): a rerun
    * with a different buckets value folds only its own partials instead
    * of silently mixing incompatible occupancies into a wrong chi². */
  def runIncrementalHashUniformity(spark: SparkSession, docsDir: String,
                                   outRoot: String,
                                   buckets: Int = 64): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeHashUniformityBatch(batch.toDF(), batchId, outRoot, buckets)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/hash_uniformity")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalHashUniformity]] micro-batch, exposed for
    * retry testing. */
  private[graft] def mergeHashUniformityBatch(batch: DataFrame, batchId: Long,
                                              outRoot: String,
                                              buckets: Int): Unit = {
    val s = batch.sparkSession
    batch
      .select(graft.functions.TextFunctions.md5Mod(col("doc_id"), lit(buckets))
        .as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$outRoot/counts_b$buckets/batch=$batchId")
    graft.operators.Relational.hashUniformityFromCounts(
        s.read.parquet(s"$outRoot/counts_b$buckets").drop("batch")
          .groupBy(col("__b")).agg(sum(col("c")).as("c")),
        buckets)
      .write.mode("overwrite").parquet(s"$outRoot/hash_uniformity")
  }

  /** Incremental FD-audit monitoring — x146's streaming twin: the
    * "source determines language" routing assumption stays checked as
    * the lake grows, and a violation arriving in a LATER batch still
    * flips the key (per-(det, dep) totals sum across batches BEFORE the
    * distinct test). Per-batch count partials in `batch=<id>` overwrite
    * directories (additive, batch-derived, retry-overwrites-itself);
    * the published report is [[graft.operators.Relational
    * .functionalDependencyAuditFromCounts]] over the fold — ONE
    * definition with the batch audit (spec-asserted). */
  def runIncrementalFdAudit(spark: SparkSession, docsDir: String,
                            outRoot: String): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeFdAuditBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/fd_audit")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalFdAudit]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeFdAuditBatch(batch: DataFrame, batchId: Long,
                                       outRoot: String): Unit = {
    val s = batch.sparkSession
    batch
      .select(col("source").as("det"),
        coalesce(col("lang").cast("string"), lit("__null__")).as("dep"))
      .groupBy(col("det"), col("dep")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.Relational.functionalDependencyAuditFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch")
          .groupBy(col("det"), col("dep")).agg(sum(col("c")).as("c")))
      .write.mode("overwrite").parquet(s"$outRoot/fd_audit")
  }

  /** Incremental embedding-drift monitoring — x120's streaming twin,
    * closing the monitoring family (PSI x102, source-KL x79, and now
    * vector-space drift all have `batch=<id>` twins): the baseline
    * snapshot's (cluster, dim) decimal digests are materialized ONCE;
    * each arriving embedding batch assigns to the SAME fixed codebook and
    * lands its own additive digests; the published report is
    * [[graft.operators.Similarity.centroidDriftFromPartials]] — the
    * direct pass's arithmetic over folded digests, so the twin equals
    * the batch [[graft.operators.Similarity.centroidDrift]] exactly
    * (spec-asserted, retry-stable). History is re-read as codebook·dim
    * digest rows; vectors are assigned once, ever. */
  def runIncrementalCentroidDrift(spark: SparkSession, embDir: String,
                                  outRoot: String, baselineDir: String,
                                  nCentroids: Int = 32): Unit =
    spark.readStream
      .schema("vec_id LONG, embedding ARRAY<FLOAT>, label INT")
      .parquet(embDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeCentroidDriftBatch(batch.toDF(), batchId, outRoot, baselineDir, nCentroids)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/centroid_drift")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalCentroidDrift]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeCentroidDriftBatch(batch: DataFrame, batchId: Long,
                                             outRoot: String,
                                             baselineDir: String,
                                             nCentroids: Int): Unit = {
    val s = batch.sparkSession
    val baseEmb = s.read.parquet(baselineDir)
    val cents = graft.operators.Similarity.centroidsOf(
      baseEmb, col("vec_id") < nCentroids)
    val basePath = s"$outRoot/baseline_partials"
    if (!new java.io.File(basePath).exists())
      graft.operators.Similarity.clusterMeanPartials(baseEmb, cents)
        .write.mode("overwrite").parquet(basePath)
    graft.operators.Similarity.clusterMeanPartials(batch, cents)
      .write.mode("overwrite").parquet(s"$outRoot/partials/batch=$batchId")
    graft.operators.Similarity.centroidDriftFromPartials(
        s.read.parquet(basePath),
        s.read.parquet(s"$outRoot/partials").drop("batch"))
      .write.mode("overwrite").parquet(s"$outRoot/drift")
  }

  /** Incremental source-health monitoring — x112's streaming twin: the
    * per-source scorecard (volume, dup rate, mean quality) stays current
    * as the lake grows. Per-batch (source, content-hash) digests land in
    * `batch=<id>` overwrite directories (batch-derived,
    * retry-overwrites-itself); the published report is
    * [[graft.operators.TextAnalysis.sourceHealthFromPartials]] over the
    * merged digests — the SAME fold the batch operator uses, so the twin
    * equals the batch report by shared definition (spec-asserted), and a
    * mirror ingested in a LATER batch still marks both copies duplicated
    * (per-hash totals sum across batches before the >1 test). History is
    * re-read as hash-digest rows only; text is hashed once, ever. */
  def runIncrementalSourceHealth(spark: SparkSession, docsDir: String,
                                 outRoot: String): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeSourceHealthBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/source_health")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalSourceHealth]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeSourceHealthBatch(batch: DataFrame, batchId: Long,
                                            outRoot: String): Unit = {
    val s = batch.sparkSession
    graft.operators.TextAnalysis.sourceHealthPartials(batch)
      .write.mode("overwrite").parquet(s"$outRoot/partials/batch=$batchId")
    graft.operators.TextAnalysis.sourceHealthFromPartials(
        s.read.parquet(s"$outRoot/partials").drop("batch"))
      .write.mode("overwrite").parquet(s"$outRoot/source_health")
  }

  /** Incremental inter-arrival monitoring — x115's streaming twin: the
    * bot/scraper-cadence profile stays current as the event lake grows.
    * Per-batch foldable digests (gap count/sum/min/max/bursts + the batch
    * boundary keys) land in `batch=<id>` overwrite directories
    * (batch-derived, retry-overwrites-itself — the
    * [[runIncrementalTransitions]] convention); the published report folds
    * the digests and STITCHES the cross-batch gaps from the boundary
    * columns — exact vs the batch
    * [[graft.operators.Relational.interArrival]] on every foldable column
    * under time-ordered ingest (spec-asserted; the exact median is
    * batch-only by design — it does not fold). History is re-read as
    * |users|-per-batch digest rows, never events. */
  def runIncrementalInterArrival(spark: SparkSession, eventsDir: String,
                                 outRoot: String,
                                 burstUs: Long = 3600000000L): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeInterArrivalBatch(batch.toDF(), batchId, outRoot, burstUs)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/interarrival")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalInterArrival]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeInterArrivalBatch(batch: DataFrame, batchId: Long,
                                            outRoot: String,
                                            burstUs: Long): Unit = {
    val s = batch.sparkSession
    val e = batch.filter(col("user_id").isNotNull)
    graft.operators.Relational.interArrivalPartials(
        e, col("user_id"), Seq(col("ts"), col("event_id")),
        unix_micros(col("ts")), burstUs)
      .write.mode("overwrite").parquet(s"$outRoot/partials/batch=$batchId")
    graft.operators.Relational.interArrivalFromPartials(
        s.read.parquet(s"$outRoot/partials").drop("batch"), burstUs)
      .write.mode("overwrite").parquet(s"$outRoot/interarrival")
  }

  /** Incremental CDC chunk index — x105's streaming twin: each
    * AvailableNow pass chunks ONLY the batch's payloads (the CdcCuts
    * expression, one local pass per payload) and lands their (doc_id, h)
    * chunk hashes in a `batch=<id>` overwrite directory (batch-derived,
    * retry-overwrites-itself — the [[runIncrementalKmv]] convention),
    * then republishes the corpus dup-ratio report from the merged hash
    * partials. Because CDC boundaries are content-defined, a mirror
    * arriving in a LATER batch still collides with the original's chunk
    * hashes — cross-batch dedup without re-chunking history; the
    * published report is EXACTLY the batch
    * [[graft.operators.Multimodal.cdcDuplicateStats]] over everything
    * ingested (spec-asserted). History is re-read as 32-byte hash rows
    * only; content is chunked once, ever. */
  def runIncrementalCdcIndex(spark: SparkSession, docsDir: String,
                             outRoot: String, window: Int = 8,
                             mask: Int = 64, maxChunk: Int = 256): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeCdcIndexBatch(batch.toDF(), batchId, outRoot, window, mask, maxChunk)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/cdc_index")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalCdcIndex]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeCdcIndexBatch(batch: DataFrame, batchId: Long,
                                        outRoot: String, window: Int,
                                        mask: Int, maxChunk: Int): Unit = {
    val s = batch.sparkSession
    graft.operators.Multimodal.cdcChunks(
        graft.operators.Multimodal.asBinaryTable(batch), window, mask, maxChunk)
      .select(col("doc_id"), col("h"))
      .write.mode("overwrite").parquet(s"$outRoot/chunks/batch=$batchId")
    graft.operators.Multimodal.cdcDuplicateStatsFromChunks(
        s.read.parquet(s"$outRoot/chunks").drop("batch"))
      .write.mode("overwrite").parquet(s"$outRoot/dup_stats")
  }

  /** Incremental Zipf-fingerprint monitoring: per-batch (source, term)
    * count partials are ADDITIVE (sum-by-key folds any batch split), so
    * each day ships only its own token counts; the head cut + OLS fit
    * re-derive from the folded counts via [[graft.operators.TextAnalysis
    * .zipfSlopeFromCounts]] — the fit itself is NOT additive (ranks shift
    * as counts grow), which is exactly why the persisted state is the
    * count table, never the fit. Partials land under `batch=<id>` so a
    * retry overwrites itself (the established at-least-once discipline).
    * State size is the per-source vocabulary, never the corpus. */
  def runIncrementalZipf(spark: SparkSession, docsDir: String,
                         outRoot: String, topV: Int = 100): Unit =
    spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeZipfBatch(batch.toDF(), batchId, outRoot, topV)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/zipf")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalZipf]] micro-batch, exposed for retry testing. */
  private[graft] def mergeZipfBatch(batch: DataFrame, batchId: Long,
                                    outRoot: String, topV: Int): Unit = {
    val s = batch.sparkSession
    graft.operators.TextAnalysis.zipfCounts(batch)
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.TextAnalysis.zipfSlopeFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch")
          .groupBy(col("source"), col("term")).agg(sum(col("c")).as("c")),
        topV)
      .write.mode("overwrite").parquet(s"$outRoot/zipf")
  }

  /** Incremental behavioral-entropy monitoring (x136's twin): per-batch
    * (user, event_type) count partials are additive; the entropy report
    * re-derives from the folded counts via [[graft.operators.Relational
    * .behaviorEntropyFromCounts]] (entropy itself is not additive — the
    * zipf convention: persist the counts, never the report). */
  def runIncrementalUserEntropy(spark: SparkSession, eventsDir: String,
                                outRoot: String): Unit =
    graft.streaming.EventStream.readEvents(spark, eventsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeUserEntropyBatch(batch.toDF(), batchId, outRoot)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/user_entropy")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalUserEntropy]] micro-batch, exposed for retry
    * testing. */
  private[graft] def mergeUserEntropyBatch(batch: DataFrame, batchId: Long,
                                           outRoot: String): Unit = {
    val s = batch.sparkSession
    batch.filter(col("user_id").isNotNull)
      .groupBy(col("user_id").as("key"), col("event_type").as("etype"))
      .agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$outRoot/counts/batch=$batchId")
    graft.operators.Relational.behaviorEntropyFromCounts(
        s.read.parquet(s"$outRoot/counts").drop("batch")
          .groupBy(col("key"), col("etype")).agg(sum(col("c")).as("c")))
      .write.mode("overwrite").parquet(s"$outRoot/user_entropy")
  }

  /** Incremental dedup-graph maintenance: candidate-pair batches fold
    * into a SnapshotStore-rotated label table via
    * [[graft.operators.Dedup.mergeComponentLabels]] — per pass the loop
    * touches |nodes| + |batch pairs| edges, never the historical pair
    * set. Retry-stable by IDEMPOTENCE rather than batch dirs: re-merging
    * pairs the labels already contract changes nothing (spec-asserted),
    * and the A/B rotation means a crash mid-write leaves the prior
    * labels intact. */
  def runIncrementalCC(spark: SparkSession, pairsDir: String,
                       outRoot: String, maxIters: Int = 10): Unit =
    spark.readStream
      .schema("a_id LONG, b_id LONG")
      .parquet(pairsDir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        mergeCcBatch(batch.toDF(), outRoot, maxIters)
      }
      .option("checkpointLocation", s"$outRoot/_checkpoints/cc")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** One [[runIncrementalCC]] micro-batch, exposed for retry testing. */
  private[graft] def mergeCcBatch(batch: DataFrame, outRoot: String,
                                  maxIters: Int): Unit = {
    val s = batch.sparkSession
    val prior = graft.sinks.SnapshotStore.read(s, s"$outRoot/labels")
      .getOrElse(s.range(0).select(col("id"), col("id").as("lbl")))
    graft.sinks.SnapshotStore.swapWrite(
      graft.operators.Dedup.mergeComponentLabels(prior, batch, maxIters),
      s"$outRoot/labels")
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) = args.take(2)
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)
    val r = run(spark, inDir, outDir)
    println(s"[main] $r")
    spark.stop()
  }
}
