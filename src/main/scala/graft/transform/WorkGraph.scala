package graft.transform

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Relational

/** Q1-Q20: the reference's 29-call BigQuery stored-procedure chain
  * (Composer/DAG_cloudrun_dataflow_sp.py:90-318, call order :323-362) as
  * pure `DataFrame => DataFrame` functions.
  *
  * The SQL bodies are NOT in the reference repo (only proc names, CALL
  * signatures and DOC:129's description survive), so each derivation is
  * *(inferred)* from its name and arguments — SURVEY §2.0 documents the
  * inference per proc. What matters architecturally: the reference runs 29
  * sequential full-table UPDATE/DELETE passes; here every "UPDATE" is a
  * narrow join-rebuild on the work frame, and [[buildWork]] reads the
  * `events` frame once for all of Q4/Q6/Q11/Q14/Q15 ([[eventRollup]]), so
  * the only shuffles left are the genuine aggregations/windows (SURVEY
  * §4.2 #5). A PipelineFixture day upserted into a 3-day history
  * through `Main.run` on `local[4]` runs 30 Spark jobs, sinks and report
  * included (JobCountSpec pins a ceiling); with one shuffle and one join
  * per events-derived update, and the report re-reading its sinks, it
  * ran 58.
  *
  * At 100 TB the work/master frames would live bucketed by
  * delivery_order_id ([[graft.sinks.TableSink.writeBucketed]]) so every
  * joinUpdate co-locates — PlanSpec pins the exchange-free physical plan
  * over bucketed tables with broadcast disabled. The daily pipeline
  * lands plain parquet: at the reference's volume (about 6 k orders a
  * day, 20 k at peak) AQE handles the joins.
  */
object WorkGraph {

  /** UPDATE t SET c = d.c FROM d WHERE t.key = d.key — as a join-rebuild.
    * Derived columns replace same-named work columns (non-matching rows
    * keep NULL, like a SQL UPDATE that only touches matched rows would
    * leave pre-seeded NULLs). Derived side is renamed first so repeated
    * application over shared lineage stays unambiguous. One projection
    * per side: a per-column drop/rename fold would re-analyze the whole
    * growing plan once per column. */
  private[transform] def joinUpdate(work: DataFrame, derived: DataFrame, key: String): DataFrame = {
    val dcols = derived.columns.filterNot(_ == key).toSeq
    val renamed = derived.select(
      (derived(key).as("__jk") +: dcols.map(c => derived(c).as(s"__d_$c"))): _*)
    val base = work.drop(dcols: _*)
    base.join(renamed, base(key) === col("__jk"), "left_outer")
      .select(base.columns.toSeq.map(col) ++ dcols.map(c => col(s"__d_$c").as(c)): _*)
  }

  private val oid = "delivery_order_id"

  /** Q1 delete_duplicates (DAG:90-96): same order refetched across days —
    * keep the newest created_date per id; created_date ties (same-day
    * double fetch) break on a content hash so the survivor is
    * deterministic across runs and partitionings. */
  def deleteDuplicates(tempMaster: DataFrame): DataFrame =
    Relational.dedupeKeepFirst(tempMaster, Seq(col(oid)),
      Seq(col("created_date").desc_nulls_last,
        hash(struct(tempMaster.columns.toSeq.map(col): _*)).asc))

  /** Q3 INSERT_DELIVERY_ORDER_WORK_TEMP (DAG:106-112): seed the work frame
    * from master — scalar columns only, the arrays stay in master. */
  def insertWorkTemp(master: DataFrame): DataFrame =
    master.select(seedColumns.map(col): _*)

  private val seedColumns = Seq(
    oid, "code", "recycling", "assigned_courier", "size_box",
    "cross_docking_location_code", "delivery_attemps", "promised_date",
    "created_date", "destination_structure_id", "destination_polygon")

  /** Q4 update_..._status (DAG:114-120): status + last event ts from the
    * LATEST event per order. */
  def updateWorkStatus(work: DataFrame, events: DataFrame): DataFrame = {
    val latest = Relational.latestPerKey(
      events.select(col(oid), col("status"), col("timestamp")),
      Seq(col(oid)), Seq(col("timestamp"), col("status")))
      .select(col(oid), col("status"), col("timestamp").as("last_event_ts"))
    joinUpdate(work, latest, oid)
  }

  /** Q5 update_..._macro_status (DAG:122-128) *(inferred bucketing)*. */
  def updateWorkMacroStatus(work: DataFrame): DataFrame =
    work.withColumn("macro_status",
      when(col("status").isNull, "NO_EVENTS")
        .when(col("status").isin(1, 2), "CREATED")
        .when(col("status").isin(3, 4), "IN_ROUTE")
        .when(col("status") === 5, "DELIVERED")
        .when(col("status").isin(6, 7), "RESCHEDULED")
        .otherwise("OTHER"))

  /** Q6 update_..._lob (DAG:130-136): line-of-business from latest event
    * carrying a non-null lob (P2:94). */
  def updateWorkLob(work: DataFrame, events: DataFrame): DataFrame = {
    val latestLob = Relational.latestPerKey(
      events.filter(col("lob").isNotNull).select(col(oid), col("lob"), col("timestamp")),
      Seq(col(oid)), Seq(col("timestamp"), col("lob"))) // lob = tiebreak on equal/null ts
      .select(col(oid), col("lob"))
    joinUpdate(work, latestLob, oid)
  }

  /** Q7 update_..._packages (DAG:138-144): per-order package rollup. */
  def updateWorkPackages(work: DataFrame, packages: DataFrame): DataFrame = {
    val rollup = packages.groupBy(col(oid)).agg(
      count(lit(1)).as("n_packages"),
      max(coalesce(col("distribution_center_bulk"), lit(false))).as("any_dc_bulk"),
      max(coalesce(col("ser_bulk"), lit(false))).as("any_ser_bulk"))
    joinUpdate(work, rollup, oid)
  }

  /** Q8 update_..._structure (DAG:146-152) *(inferred)*. */
  def updateWorkStructure(work: DataFrame): DataFrame =
    work.withColumn("structure_type",
      when(col("destination_structure_id").isNull, "UNKNOWN")
        .when(col("destination_structure_id")
          .isin(graft.flatten.OrderFlatten.enrichedStructureIds: _*), "URBAN_POLYGON")
        .otherwise("STANDARD"))

  /** Q9 update_..._type_route (DAG:154-160) *(inferred)*. */
  def updateWorkTypeRoute(work: DataFrame): DataFrame =
    work.withColumn("type_route",
      when(col("recycling"), "RECYCLING")
        .when(col("delivery_attemps") > 1, "RETRY")
        .otherwise("STANDARD"))

  /** Q10 update_..._route_name (DAG:161-167): dim lookup, broadcast. */
  def updateWorkRouteName(work: DataFrame, routeDim: DataFrame): DataFrame = {
    val dim = broadcast(routeDim.select(
      col("structure_id").as("__rd_sid"), col("route_name")))
    work.drop("route_name")
      .join(dim, col("destination_structure_id") === col("__rd_sid"), "left_outer")
      .drop("__rd_sid")
  }

  /** Q11 update_..._status_tlmk (DAG:169-175) *(inferred)*: flags orders
    * any of whose events was raised by a telemarketing user. */
  def updateWorkStatusTlmk(work: DataFrame, events: DataFrame): DataFrame = {
    val tlmk = events.filter(lower(col("info_user_name")).startsWith("tlmk"))
      .select(col(oid)).distinct().withColumn("status_tlmk", lit("TLMK"))
    joinUpdate(work, tlmk, oid)
  }

  /** Q12 update_..._total (DAG:177-183) *(inferred)*: per-order item total
    * from the master's items array — narrow HOF sum, no shuffle. */
  def updateWorkTotal(work: DataFrame, master: DataFrame): DataFrame =
    joinUpdate(work, master.select(col(oid), totalItems.as("total_items")), oid)

  private def totalItems: Column =
    coalesce(aggregate(col("items_json"), lit(0L),
      (acc, it) => acc + coalesce(it.getField("qty"), lit(0L))), lit(0L))

  /** Q13 update_..._portability (DAG:185-191) *(inferred)*. */
  def updateWorkPortability(work: DataFrame): DataFrame =
    work.withColumn("portability", col("cross_docking_location_code").isNotNull)

  /** Q14 insert_table_temp(n) (DAG:193-246, literal args 1,2,3,0): stage the
    * n-th event per order, n=0 meaning the LAST (inferred from the call
    * pattern 1,2,3 then 0). Parameterization the DAG copy-pastes per task
    * becomes a plain Scala argument (SURVEY §3.3). */
  def nthEvent(events: DataFrame, n: Int): DataFrame = {
    val asc = Window.partitionBy(col(oid)).orderBy(col("timestamp").asc_nulls_last, col("status"))
    val desc = Window.partitionBy(col(oid)).orderBy(col("timestamp").desc_nulls_last, col("status"))
    val w = if (n == 0) desc else asc
    val rank = if (n == 0) 1 else n
    events
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === rank)
      .drop("__rn")
  }

  /** Q15 update_..._visit(n) (DAG:201-238): write visit-n fields. */
  def updateWorkVisit(work: DataFrame, events: DataFrame, n: Int): DataFrame = {
    val tag = if (n == 0) "last" else n.toString
    val nth = nthEvent(events, n).select(
      col(oid),
      col("timestamp").as(s"visit${tag}_ts"),
      col("status").as(s"visit${tag}_status"),
      col("info_user_name").as(s"visit${tag}_user"))
    joinUpdate(work, nth, oid)
  }

  /** Q14+Q15 fused: ALL visit-n column sets in ONE pass over events.
    * The reference stages each n into a temp table and updates work four
    * times (insert_table_temp(n) + update_work_visit(n), literal args
    * 1,2,3,0 — DAG:193-246); folding [[updateWorkVisit]] the same way
    * builds four windows over the identical (order, timestamp)
    * partitioning. Here the four ranks collapse into TWO row_numbers —
    * one asc, one desc, computed in a single shuffle — and one
    * conditional aggregation per order (row_number is unique, so
    * max(when(rank = n, v)) IS the n-th row's value), leaving 2 Window
    * nodes and ONE joinUpdate in the plan instead of 4 + 4. Output is
    * identical to the fold, column order included. */
  def updateWorkVisits(work: DataFrame, events: DataFrame, ns: Seq[Int]): DataFrame = {
    val aggs = visitAggs(ns)
    joinUpdate(work, rankVisits(events).groupBy(col(oid)).agg(aggs.head, aggs.tail: _*), oid)
  }

  /** `events` with the two visit ranks [[updateWorkVisits]] reads. */
  private def rankVisits(events: DataFrame): DataFrame = {
    val asc = Window.partitionBy(col(oid)).orderBy(col("timestamp").asc_nulls_last, col("status"))
    val desc = Window.partitionBy(col(oid)).orderBy(col("timestamp").desc_nulls_last, col("status"))
    events
      .withColumn("__rn_asc", row_number().over(asc))
      .withColumn("__rn_desc", row_number().over(desc))
  }

  private def visitAggs(ns: Seq[Int]): Seq[Column] = ns.flatMap { n =>
    val tag = if (n == 0) "last" else n.toString
    val cond = if (n == 0) col("__rn_desc") === 1 else col("__rn_asc") === n
    Seq(max(when(cond, col("timestamp"))).as(s"visit${tag}_ts"),
        max(when(cond, col("status"))).as(s"visit${tag}_status"),
        max(when(cond, col("info_user_name"))).as(s"visit${tag}_user"))
  }

  /** Q4 + Q6 + Q11 + Q14/Q15 as ONE per-order rollup of `events`: one
    * shuffle on the order id, the two visit windows over it, and one
    * aggregation. Output columns, in the order the fold
    * [[updateWorkStatus]] → [[updateWorkLob]] → [[updateWorkStatusTlmk]]
    * → [[updateWorkVisits]]`(1, 2, 3, 0)` appends them: status,
    * last_event_ts, lob, status_tlmk, then the visit columns.
    *
    * "Latest" keeps the per-step tie rule exactly: Q4's row is the first
    * in (timestamp, status) DESC NULLS LAST, Q6's in (timestamp, lob)
    * DESC NULLS LAST over non-null lobs. Struct comparison orders fields
    * left to right with NULL below any value, so `max(struct(ts, v))`
    * picks that same row, and the struct carries both of its values.
    * Events with a null order id form their own group, which the work
    * join never matches — as the per-step joins never did. */
  def eventRollup(events: DataFrame): DataFrame = {
    val aggs = Seq(
      max(struct(col("timestamp"), col("status"))).as("__latest"),
      max(when(col("lob").isNotNull, struct(col("timestamp"), col("lob")))).as("__latest_lob"),
      max(when(lower(col("info_user_name")).startsWith("tlmk"), lit("TLMK"))).as("status_tlmk")
    ) ++ visitAggs(visitRanks)
    rankVisits(events).groupBy(col(oid)).agg(aggs.head, aggs.tail: _*)
      .select(Seq(col(oid), col("__latest.status").as("status"),
        col("__latest.timestamp").as("last_event_ts"), col("__latest_lob.lob").as("lob"),
        col("status_tlmk")) ++ visitColumns.map(col): _*)
  }

  /** The fold [[updateWorkStatus]] → [[updateWorkLob]] →
    * [[updateWorkStatusTlmk]] → [[updateWorkVisits]]`(1, 2, 3, 0)` as one
    * join of [[eventRollup]]: same rows, same columns, same order. */
  def updateWorkEvents(work: DataFrame, events: DataFrame): DataFrame =
    joinUpdate(work, eventRollup(events), oid)

  /** The visit ranks the reference stages (DAG:193-246). */
  private val visitRanks = Seq(1, 2, 3, 0)
  private val visitColumns = for {
    tag <- visitRanks.map(n => if (n == 0) "last" else n.toString)
    f <- Seq("ts", "status", "user")
  } yield s"visit${tag}_$f"

  /** Q16 update_..._scheduled (DAG:248-254): first scheduled ts per order. */
  def updateWorkScheduled(work: DataFrame, scheduleEvents: DataFrame): DataFrame = {
    val first = scheduleEvents.groupBy(col(oid)).agg(
      min(col("timestamp")).as("scheduled_first_ts"),
      max(col("timestamp")).as("scheduled_last_ts"))
    joinUpdate(work, first, oid)
  }

  /** Q17 insert_delivery_order_visit_order (DAG:256-262): materialized
    * per-order visit ordering. */
  def visitOrder(events: DataFrame): DataFrame =
    events
      .withColumn("visit_n", row_number().over(
        Window.partitionBy(col(oid)).orderBy(col("timestamp").asc_nulls_last, col("status"))))
      .select(col(oid), col("visit_n"), col("timestamp"), col("status"))

  /** Q18 insert_delivery_order_work (DAG:264-270): finalize — the work
    * frame is already the final shape; materialization happens at the sink. */
  def finalizeWork(work: DataFrame): DataFrame = work

  /** Q3-Q16 + Q18: the work frame from the deduplicated day `master` and
    * its child tables — the chain `Main.run` and the `w04_sp_chain`
    * contract query both run. Equal to the per-step fold (Q3, Q4, …, Q16
    * in DAG call order, Q14+Q15 fused), rows and column order, but:
    *  - Q4/Q6/Q11/Q14/Q15 are one [[updateWorkEvents]] join instead of
    *    four shuffles and four joins;
    *  - Q12's total is a per-row expression on `master`, so it is part of
    *    the Q3 seed instead of a self-join (a null order id keeps a NULL
    *    total, as the join never matched it). `master` must hold one row
    *    per order id, which Q1 guarantees;
    *  - one final `select` restores the fold's column order. */
  def buildWork(master: DataFrame, events: DataFrame, packages: DataFrame,
                schedules: DataFrame, routeDim: DataFrame): DataFrame = {
    val seeded = master.select(seedColumns.map(col) :+
      when(col(oid).isNotNull, totalItems).as("total_items"): _*)
    var work = updateWorkEvents(seeded, events)                // Q4 Q6 Q11 Q14+Q15
    work = updateWorkMacroStatus(work)                         // Q5
    work = updateWorkPackages(work, packages)                  // Q7
    work = updateWorkStructure(work)                           // Q8
    work = updateWorkTypeRoute(work)                           // Q9
    work = updateWorkRouteName(work, routeDim)                 // Q10
    work = updateWorkPortability(work)                         // Q13
    work = updateWorkScheduled(work, schedules)                // Q16
    finalizeWork(work.select(workColumns.map(col): _*))        // Q18
  }

  /** Work-table column order: the order the per-step fold appends them. */
  private val workColumns = seedColumns ++ Seq("status", "last_event_ts",
    "macro_status", "lob", "n_packages", "any_dc_bulk", "any_ser_bulk",
    "structure_type", "type_route", "route_name", "status_tlmk",
    "total_items", "portability") ++ visitColumns ++
    Seq("scheduled_first_ts", "scheduled_last_ts")

  /** Q19 update_delivery_order_master_visit (DAG:272-278): backfill
    * visit-derived columns onto master. */
  def masterVisitBackfill(master: DataFrame, work: DataFrame): DataFrame =
    joinUpdate(master,
      work.select(col(oid), col("visit1_ts"), col("visitlast_ts"), col("macro_status")),
      oid)
}
