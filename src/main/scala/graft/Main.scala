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
    // Q2 against real history: one full-outer shuffle on the order id
    // that re-reads and re-writes the whole history every day. History is
    // MATERIALIZED before the write: the sink below overwrites the master
    // path, and a lazy read of the same path would either error ("cannot
    // overwrite a path that is also being read from") or lose months of
    // history. Plain parquet has no transactional overwrite, so a
    // mid-write crash here can destroy the only copy; the persistent
    // master belongs in [[runDailyDeltaStore]]'s PartitionStore, which
    // rewrites only the touched day partitions and commits atomically.
    // This chained shape is the full-history reference it is pinned to.
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
    Concurrent.all(spark)(Seq(
      () => graft.sinks.TableSink.writeDayPartitioned(
        sinkAll, "ingest_date", s"$outDir/delivery_order_master"),
      () => sink(schedules, "schedule_events_info_temp"),
      () => sink(reschedules, "reschedule_events_info_temp"),
      () => sink(packages, "packages_temp"),
      () => sink(work, "delivery_order_work"),
      () => sink(visits, "delivery_order_visit_order")))

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

  /** The daily merge into the persistent master (Q2 at scale, SURVEY
    * §7.4 "MERGE without Delta"): run the day pipeline with NO history
    * (its master sink is then exactly the day's own rows) and upsert
    * that into a [[graft.sinks.PartitionStore]] — only the day
    * partitions today touches are rewritten (untouched partitions: zero
    * I/O), onto idle sides committed by one atomic manifest rename, so a
    * crash at ANY point in the merge leaves readers on the previous
    * complete master. Spec-pinned equal to [[run]]'s chained
    * full-history merge (PipelineSpec); measured by BackfillBench's
    * `delta_store` mode. */
  def runDailyDeltaStore(spark: SparkSession, inDir: String, outDir: String,
                         masterRoot: String): RunReport = {
    val report = run(spark, inDir, outDir, masterHistoryDir = None)
    graft.sinks.PartitionStore.upsert(
      spark.read.parquet(s"$outDir/delivery_order_master"), masterRoot,
      key = "delivery_order_id", dateCol = "ingest_date")
    report
  }

  def main(args: Array[String]): Unit = {
    val Array(inDir, outDir) =
      Sessions.mainArgs(args, 2, 2, "usage: graft.Main <inDir> <outDir>")
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)
    val r = run(spark, inDir, outDir)
    println(s"[main] $r")
    spark.stop()
  }
}
