package graft.transform

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Main, SparkSpec}

/** The fused Q-chain ([[WorkGraph.eventRollup]], [[WorkGraph.buildWork]])
  * against the per-step fold it replaces, on events built to hit every
  * tie rule: tied timestamps with different status or lob, null
  * timestamps, null status, orders whose events all lack a lob,
  * mixed-case telemarketing users, a null order id, and an order with no
  * events at all. Within an order no two events share (timestamp,
  * status), so the visit windows' row_number is deterministic. */
class WorkGraphSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Some(Timestamp.valueOf(s"2024-01-15 $s"))
  private val t0 = ts("08:00:00")
  private val t1 = ts("09:00:00")
  private val t2 = ts("10:00:00.5")
  private val t3 = ts("11:00:00")

  private lazy val events: DataFrame = Seq[(Option[String], Option[Long], Option[Long],
      Option[Timestamp], Option[String])](
    // tie on t1: Q4 takes status 5, Q6 lob 2; visitlast orders status
    // ascending inside the tie, so it takes status 3
    (Some("A"), Some(3L), Some(1L), t1, Some("u1")),
    (Some("A"), Some(5L), Some(2L), t1, Some("u2")),
    (Some("A"), Some(2L), None, t0, Some("TLMK_x")),
    // null timestamps sort last for "latest" and for visit order
    (Some("B"), Some(4L), None, None, Some("x")),
    (Some("B"), Some(1L), Some(3L), t2, Some("TlMk9")),
    (Some("B"), None, None, None, Some("y")),
    // every lob null
    (Some("C"), Some(2L), None, t1, Some("u")),
    (Some("C"), Some(6L), None, t3, Some("xtlmk")),
    // no timestamp at all; status decides, null status last
    (Some("D"), None, None, None, Some("w")),
    (Some("D"), Some(7L), Some(5L), None, Some("tlmkz")),
    // tie on t1 between a null and a real status
    (Some("E"), None, Some(1L), t1, Some("q")),
    (Some("E"), Some(3L), None, t1, None),
    // the latest event has no lob: Q6 falls back to an earlier one
    (Some("G"), Some(1L), Some(4L), t0, Some("g1")),
    (Some("G"), Some(2L), None, t3, Some("g2")),
    // never matches a work row
    (None, Some(1L), Some(1L), t1, Some("TLMK"))
  ).toDF("delivery_order_id", "status", "lob", "timestamp", "info_user_name")

  private val ids = Seq("A", "B", "C", "D", "E", "F", "G").map(Some(_)) :+ None

  /** Order-free comparison that still sees every value and the schema. */
  private def assertSameFrame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema == want.schema)
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString).sorted
    assert(rows(got) == rows(want))
  }

  test("event rollup equals the Q4 → Q6 → Q11 → Q14+Q15 fold: rows and column order") {
    val work = ids.map(i => (i, i.map(_.toLowerCase))).toDF("delivery_order_id", "code")
    val folded = WorkGraph.updateWorkVisits(
      WorkGraph.updateWorkStatusTlmk(
        WorkGraph.updateWorkLob(WorkGraph.updateWorkStatus(work, events), events), events),
      events, Seq(1, 2, 3, 0))
    val fused = WorkGraph.updateWorkEvents(work, events)
    assertSameFrame(fused, folded)
    // the tie rules, spelled out
    val by = fused.collect().map(r => Option(r.getAs[String]("delivery_order_id")) -> r).toMap
    assert(by(Some("A")).getAs[Long]("status") == 5L)
    assert(by(Some("A")).getAs[Long]("lob") == 2L)
    assert(by(Some("A")).getAs[Long]("visitlast_status") == 3L)
    assert(by(Some("B")).getAs[Long]("status") == 1L)
    assert(by(Some("B")).getAs[Timestamp]("last_event_ts") == t2.get)
    assert(by(Some("C")).isNullAt(by(Some("C")).fieldIndex("lob")))
    assert(by(Some("C")).isNullAt(by(Some("C")).fieldIndex("status_tlmk")))
    assert(by(Some("D")).getAs[Long]("status") == 7L)
    assert(by(Some("E")).getAs[Long]("status") == 3L)
    assert(by(Some("G")).getAs[Long]("lob") == 4L)
    assert(Seq("A", "B", "D").forall(i => by(Some(i)).getAs[String]("status_tlmk") == "TLMK"))
    assert(by(None).isNullAt(by(None).fieldIndex("status_tlmk")))
    assert(by(Some("F")).isNullAt(by(Some("F")).fieldIndex("status")))
  }

  /** The Q3 → Q16 → Q18 fold `Main.run` ran before [[WorkGraph.buildWork]]. */
  private def foldChain(master: DataFrame, events: DataFrame, packages: DataFrame,
                        schedules: DataFrame): DataFrame = {
    var work = WorkGraph.insertWorkTemp(master)
    work = WorkGraph.updateWorkStatus(work, events)
    work = WorkGraph.updateWorkMacroStatus(work)
    work = WorkGraph.updateWorkLob(work, events)
    work = WorkGraph.updateWorkPackages(work, packages)
    work = WorkGraph.updateWorkStructure(work)
    work = WorkGraph.updateWorkTypeRoute(work)
    work = WorkGraph.updateWorkRouteName(work, Main.defaultRouteDim(spark))
    work = WorkGraph.updateWorkStatusTlmk(work, events)
    work = WorkGraph.updateWorkTotal(work, master)
    work = WorkGraph.updateWorkPortability(work)
    work = WorkGraph.updateWorkVisits(work, events, Seq(1, 2, 3, 0))
    work = WorkGraph.updateWorkScheduled(work, schedules)
    WorkGraph.finalizeWork(work)
  }

  test("buildWork equals the per-step Q3-Q18 fold, null order id and null items included") {
    val n = col("n")
    val master = ids.zipWithIndex.map { case (i, k) => (i, k.toLong) }
      .toDF("delivery_order_id", "n").select(
        col("delivery_order_id"),
        concat(lit("C-"), n.cast("string")).as("code"),
        (n % 2 === 0).as("recycling"),
        lit("ACME").as("assigned_courier"),
        lit("M").as("size_box"),
        when(n % 3 === 0, lit("XD-1")).as("cross_docking_location_code"),
        (n % 3).as("delivery_attemps"),
        lit("2024-01-20").as("promised_date"),
        lit("2024-01-15 08:00:00").as("created_date"),
        when(n % 2 === 0, lit(13123L)).otherwise(lit(99901L)).as("destination_structure_id"),
        lit(7L).as("destination_polygon"),
        when(n =!= 4, array(struct(n.as("qty")), struct(lit(null).cast("long").as("qty"))))
          .as("items_json"))
    val packages = Seq((Some("A"), Some(true), None), (Some("A"), None, Some(false)),
        (Some("C"), Some(false), Some(true)), (None, Some(true), Some(true)))
      .toDF("delivery_order_id", "distribution_center_bulk", "ser_bulk")
    val schedules = Seq((Some("A"), t1), (Some("A"), t3), (Some("E"), None), (None, t0))
      .toDF("delivery_order_id", "timestamp")
    val built = WorkGraph.buildWork(master, events, packages, schedules,
      Main.defaultRouteDim(spark))
    assertSameFrame(built, foldChain(master, events, packages, schedules))
    val nullId = built.filter(col("delivery_order_id").isNull).collect().head
    assert(nullId.isNullAt(nullId.fieldIndex("total_items")))
  }

  test("buildWork equals the per-step fold on the JSON order fixtures") {
    val raw = graft.sources.RawReader.readOrders(spark, getClass.getResource("/orders").getPath)
    val flat = graft.flatten.OrderFlatten.enrichPolygonLab(
      graft.flatten.OrderFlatten.flatten(graft.sources.RawReader.quarantine(raw)._1),
      Main.defaultPolygonLookup(spark))
    val master = WorkGraph.deleteDuplicates(flat)
    val ev = graft.explode.ChildTables.eventsInfo(flat)
    val pk = graft.explode.ChildTables.packages(flat)
    val sc = graft.explode.ChildTables.scheduleEvents(flat)
    assertSameFrame(WorkGraph.buildWork(master, ev, pk, sc, Main.defaultRouteDim(spark)),
      foldChain(master, ev, pk, sc))
  }
}
