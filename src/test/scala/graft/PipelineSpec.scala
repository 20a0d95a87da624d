package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.explode.ChildTables
import graft.flatten.OrderFlatten
import graft.sources.RawReader
import graft.streaming.Incremental
import graft.transform.WorkGraph

/** End-to-end tests of the reference-core slice over the JSON fixtures,
  * mirroring (against the REAL functions, unlike the reference's
  * test-a-copy suite, tests/test_process_json_file.py:5-14) the behaviors
  * in SURVEY §5 / FIXTURES §A.1. */
class PipelineSpec extends SparkSpec {

  private val fixtures = getClass.getResource("/orders").getPath
  private lazy val raw = RawReader.readOrders(spark, fixtures)
  private lazy val goodBad = RawReader.quarantine(raw)
  private lazy val flat = OrderFlatten.enrichPolygonLab(
    OrderFlatten.flatten(goodBad._1), Main.defaultPolygonLookup(spark))

  test("S5/S7/S8: metadata skipped, 4 orders parsed, corrupt quarantined") {
    val (good, bad) = goodBad
    assert(good.count() == 4)
    assert(bad.count() == 1)
    assert(bad.collect().head.getString(0).contains("corrupt.json"))
  }

  test("T1: empty-string→null, defaults, nested projection") {
    val byId = flat.collect().map(r => r.getAs[String]("delivery_order_id") -> r).toMap
    // ORD-1 twice (dup), plus ORD-2, ORD-3
    val o2 = byId("ORD-2")
    assert(o2.getAs[String]("code") == "")                    // "" kept: default is '', not null (app.py:73)
    assert(o2.getAs[Boolean]("recycling") == false)           // null → False default
    assert(o2.getAs[String]("destination_geo_coding") == null) // "" → null
    assert(o2.getAs[String]("assigned_courier") == "ACME")
    val o3 = byId("ORD-3")
    assert(o3.getAs[String]("created_date") == null)          // T4 invalid → null
  }

  test("T2: size_box digit-strip") {
    val sizes = flat.select("delivery_order_id", "size_box").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sizes("ORD-2") == "cajagrande")
    assert(sizes.filterKeys(_ == "ORD-1").values.forall(_ == "M"))
  }

  test("T3: polygon enrichment only for the three enriched structure ids") {
    val lab = flat.select("delivery_order_id", "destination_polygon_lab").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(lab.count(t => t._1 == "ORD-1" && t._2 == "URBAN-A") == 2)
    assert(lab.filter(_._1 == "ORD-2").forall(_._2 == null)) // 99999 not enriched
  }

  test("T6: sink serializes arrays to JSON strings, null stays null") {
    val sink = OrderFlatten.toMasterSink(flat)
    val o1 = sink.filter(col("code") === "C-001").collect().head
    val ev = o1.getAs[String]("events_info_json")
    assert(ev.startsWith("[{") && ev.contains("\"user_name\":\"ana\""))
    val o2 = sink.filter(col("delivery_order_id") === "ORD-2").collect().head
    assert(o2.getAs[String]("events_info_json") == null)
  }

  test("T7: strict timestamp parse — 1-6 fraction digits ok, else null") {
    val events = ChildTables.eventsInfo(flat)
    val ts = events.filter(col("delivery_order_id") === "ORD-1" && col("info_user_name") === "tlmk_bot")
      .select(date_format(col("timestamp"), "yyyy-MM-dd HH:mm:ss.SSS")).collect()
    assert(ts.map(_.getString(0)).contains("2024-01-16 11:00:00.500")) // ".5" → .500000
    val bad = events.filter(col("delivery_order_id") === "ORD-3")
      .select("timestamp").collect()
    assert(bad.length == 2 && bad.forall(_.isNullAt(0))) // no fraction / garbage → null
  }

  test("E1-E5: explode counts incl. null-array guard; E3 parses all 6 dates") {
    assert(ChildTables.eventsInfo(flat).count() == 6)       // 3 + 1 + 0 + 2
    assert(ChildTables.scheduleEvents(flat).count() == 1)
    assert(ChildTables.packages(flat).count() == 3)
    val re = ChildTables.rescheduleEvents(flat).collect().head
    assert(!re.isNullAt(re.fieldIndex("info_old_packaging_expected")))
    assert(!re.isNullAt(re.fieldIndex("info_new_b2c_delivery_expected")))
    assert(re.isNullAt(re.fieldIndex("info_old_b2b_delivery_expected"))) // null in, null out
  }

  test("Q1-Q19: work graph derivations over the fixture") {
    val master = WorkGraph.deleteDuplicates(flat)
    assert(master.count() == 3) // ORD-1 dup collapsed, newest created_date wins
    assert(master.filter(col("delivery_order_id") === "ORD-1")
      .collect().head.getAs[String]("code") == "C-001")

    val events = ChildTables.eventsInfo(master)
    var work = WorkGraph.insertWorkTemp(master)
    work = WorkGraph.updateWorkStatus(work, events)
    work = WorkGraph.updateWorkMacroStatus(work)
    work = WorkGraph.updateWorkLob(work, events)
    work = WorkGraph.updateWorkPackages(work, ChildTables.packages(master))
    work = WorkGraph.updateWorkStructure(work)
    work = WorkGraph.updateWorkTypeRoute(work)
    work = WorkGraph.updateWorkRouteName(work, Main.defaultRouteDim(spark))
    work = WorkGraph.updateWorkStatusTlmk(work, events)
    work = WorkGraph.updateWorkTotal(work, master)
    work = WorkGraph.updateWorkPortability(work)
    work = WorkGraph.updateWorkVisits(work, events, Seq(1, 2, 3, 0))
    work = WorkGraph.updateWorkScheduled(work, ChildTables.scheduleEvents(master))

    val byId = work.collect().map(r => r.getAs[String]("delivery_order_id") -> r).toMap
    val w1 = byId("ORD-1")
    assert(w1.getAs[Long]("status") == 5)                  // latest event
    assert(w1.getAs[String]("macro_status") == "DELIVERED")
    assert(w1.getAs[Long]("lob") == 2)                     // latest non-null lob
    assert(w1.getAs[Long]("n_packages") == 2)
    assert(w1.getAs[Boolean]("any_dc_bulk"))
    assert(w1.getAs[String]("structure_type") == "URBAN_POLYGON")
    assert(w1.getAs[String]("route_name") == "RUTA-CENTRO")
    assert(w1.getAs[String]("status_tlmk") == "TLMK")      // tlmk_bot event
    assert(w1.getAs[Long]("total_items") == 5)             // 2 + 3
    assert(w1.getAs[Boolean]("portability"))               // XD-9 present
    assert(w1.getAs[String]("visit1_user") == "ana")
    assert(w1.getAs[String]("visitlast_user") == "luis")
    val w2 = byId("ORD-2")
    assert(w2.getAs[String]("macro_status") == "NO_EVENTS")
    assert(w2.getAs[Long]("total_items") == 0)
    assert(!w2.getAs[Boolean]("portability"))
    val w3 = byId("ORD-3")
    assert(w3.getAs[String]("type_route") == "RECYCLING")

    // Q17 + Q19
    val visits = WorkGraph.visitOrder(events)
    assert(visits.filter(col("delivery_order_id") === "ORD-1").count() == 3)
    val backfilled = WorkGraph.masterVisitBackfill(master, work)
    assert(backfilled.filter(col("delivery_order_id") === "ORD-1")
      .collect().head.getAs[String]("macro_status") == "DELIVERED")
  }

  test("Q2 incremental: day-2 upsert into day-1 master — updates win wholesale, history survives") {
    val out1 = Files.createTempDirectory("graft_day1").toString
    Main.run(spark, fixtures, out1)
    // day 2 re-delivers ORD-3 (valid date, a code, NO events array) and a
    // brand-new ORD-4
    val in2 = Files.createTempDirectory("graft_day2in")
    val d = in2.resolve("2024-01-18")
    Files.createDirectories(d)
    Files.writeString(d.resolve("2024-01-18.json"),
      """[{"delivery_order_id": "ORD-3", "code": "C-303", "recycling": false,
        |  "created_date": "2024-01-18T10:00:00.000000"},
        | {"delivery_order_id": "ORD-4", "code": "C-404",
        |  "created_date": "2024-01-18T11:00:00.000000"}]""".stripMargin)
    val out2 = Files.createTempDirectory("graft_day2").toString
    Main.run(spark, in2.toString, out2,
      masterHistoryDir = Some(s"$out1/delivery_order_master"))
    val m = spark.read.parquet(s"$out2/delivery_order_master")
    assert(m.count() == 4) // ORD-1/2 history + updated ORD-3 + new ORD-4
    val by = m.collect().map(r => r.getAs[String]("delivery_order_id") -> r).toMap
    assert(by("ORD-1").getAs[String]("code") == "C-001")    // unmatched history intact
    assert(by("ORD-3").getAs[String]("code") == "C-303")    // matched: update wins...
    assert(by("ORD-3").getAs[String]("events_info_json") == null) // ...WHOLESALE:
    // day-1's non-null events array is gone because day-2's row omitted it
    assert(by("ORD-4").getAs[String]("code") == "C-404")    // insert branch
  }

  test("Q2 in-place: disk-mode history snapshot survives overwriting its own path") {
    // day 1 lands the master in `out`; day 2 merges INTO THE SAME PATH it
    // reads history from — the production in-place daily run. Under
    // mode=disk the history snapshot must be eagerly materialized AND
    // lineage-severed before the overwrite, or the write either errors
    // (overwrite-a-read-path check) or destroys all history partitions.
    val out = Files.createTempDirectory("graft_inplace").toString
    Main.run(spark, fixtures, out)
    val in2 = Files.createTempDirectory("graft_inplace_day2in")
    val d = in2.resolve("2024-01-18")
    Files.createDirectories(d)
    Files.writeString(d.resolve("2024-01-18.json"),
      """[{"delivery_order_id": "ORD-3", "code": "C-303", "recycling": false,
        |  "created_date": "2024-01-18T10:00:00.000000"},
        | {"delivery_order_id": "ORD-4", "code": "C-404",
        |  "created_date": "2024-01-18T11:00:00.000000"}]""".stripMargin)
    spark.conf.set(Persist.modeKey, "disk")
    try Main.run(spark, in2.toString, out,
      masterHistoryDir = Some(s"$out/delivery_order_master"))
    finally spark.conf.unset(Persist.modeKey)
    val m = spark.read.parquet(s"$out/delivery_order_master")
    assert(m.count() == 4, "in-place overwrite lost history rows")
    val by = m.collect().map(r => r.getAs[String]("delivery_order_id") -> r).toMap
    assert(by("ORD-1").getAs[String]("code") == "C-001") // unmatched history intact
    assert(by("ORD-3").getAs[String]("code") == "C-303") // day-2 update applied
    assert(by("ORD-4").getAs[String]("code") == "C-404") // day-2 insert applied
  }

  test("O1 scale: sink actions reuse the cached flatten/explode (no re-derivation)") {
    // Main.run's sinks are separate actions; each must read the events
    // explode (and the flatten feeding it) from cache, not re-derive it —
    // the SURVEY §4.2 #3 anti-pattern regression guard.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        plans.add(try qe.executedPlan.toString catch { case _: Throwable => "" })
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = Files.createTempDirectory("graft_cachereuse").toString
      Main.run(spark, fixtures, out)
      import scala.jdk.CollectionConverters._
      def cached(p: String) =
        p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage")
      def sinkPlan(name: String): Option[String] =
        plans.asScala.find(_.contains(name))
      // the listener bus is async — poll for the last sink's plan
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline && sinkPlan("delivery_order_visit_order").isEmpty)
        Thread.sleep(50)
      for (s <- Seq("events_info_temp", "delivery_order_work", "delivery_order_visit_order")) {
        val p = sinkPlan(s)
        assert(p.nonEmpty, s"no captured plan for sink $s")
        assert(cached(p.get), s"sink $s re-derived instead of reading the cache:\n${p.get}")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("O2 streaming: incremental anomaly counts converge to the batch x42 chain") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_anom_in").toString
    val root = Files.createTempDirectory("graft_anom_out").toString
    val ev = Tables(spark, sf(), "events").select("event_id", "ts", "user_id",
      "event_type", "value", "props")
    def landed() = spark.read.parquet(s"$root/anomalies")
      .select("user_id", "bucket", "n_events", "z", "anomaly").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2),
        if (r.isNullAt(3)) "null" else r.getDouble(3).toString, r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // wave 1: even event_ids — splits most (user, day) buckets, so wave 2
    // must merge ADDITIVELY into existing buckets, not just append new ones
    ev.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runStreamingAnomaly(spark, src, root, window = 4, k = 3)
    val batchWave1 = graft.operators.Relational.rollingZscore(
      graft.operators.Relational.resampleCounts(
        ev.filter(col("event_id") % 2 === 0).select("user_id", "ts"), "user_id", "ts", "day"),
      "user_id", "bucket", "n_events", window = 4, k = 3)
    assert(landed().map(t => (t._1, t._2, t._3)) ==
      batchWave1.select("user_id", "bucket", "n_events").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq)
    // wave 2: odd event_ids land; the converged output must equal the
    // batch chain over the WHOLE lake (bucket totals re-summed from
    // batch-keyed partials, spine + z-scores recomputed)
    ev.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runStreamingAnomaly(spark, src, root, window = 4, k = 3)
    val batchAll = graft.operators.Relational.rollingZscore(
      graft.operators.Relational.resampleCounts(
        ev.select("user_id", "ts"), "user_id", "ts", "day"),
      "user_id", "bucket", "n_events", window = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2),
        if (r.isNullAt(3)) "null" else r.getDouble(3).toString, r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(landed() == batchAll,
      "incremental anomaly output diverged from the batch resample+zscore chain")
    assert(landed().exists(_._5 == 1L), "fixture produced no anomalies — test is vacuous")
  }

  test("O2 streaming: a RETRIED anomaly batch is idempotent (at-least-once safety)") {
    import graft.sources.Tables
    val root = Files.createTempDirectory("graft_anom_retry").toString
    val ev = Tables(spark, sf(), "events").select("user_id", "ts")
    def counts() = spark.read.parquet(s"$root/counts")
      .groupBy("user_id", "bucket").agg(sum("n_events").as("n")).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2))).sorted.toSeq
    Incremental.mergeAnomalyBatch(ev, batchId = 0L, root, "day", 7, 3)
    val once = counts()
    // an at-least-once retry re-delivers the SAME batch under the SAME id:
    // an additive merge would double every count; overwriting the
    // batch's own partial directory must make this a no-op
    Incremental.mergeAnomalyBatch(ev, batchId = 0L, root, "day", 7, 3)
    assert(counts() == once, "retried batch double-counted")
    // a genuinely NEW batch with the same rows (different id) DOES add
    Incremental.mergeAnomalyBatch(ev, batchId = 1L, root, "day", 7, 3)
    assert(counts().map(_._3).sum == 2 * once.map(_._3).sum)
  }

  test("O2 streaming: an anomaly batch writes only its own counts partial") {
    import scala.jdk.CollectionConverters._
    import graft.sources.Tables
    val root = Files.createTempDirectory("graft_anom_own").toString
    val ev = Tables(spark, sf(), "events").select("user_id", "ts")
    val batch0 = Paths.get(root, "counts", "batch=0")
    def files() = {
      val listing = Files.list(batch0)
      try listing.iterator().asScala
        .map(p => p.getFileName.toString -> Files.getLastModifiedTime(p).toMillis).toMap
      finally listing.close()
    }
    Incremental.mergeAnomalyBatch(ev, batchId = 0L, root, "day", 7, 3)
    val before = files()
    assert(before.keys.exists(_.endsWith(".parquet")), s"no partial under $batch0")
    Incremental.mergeAnomalyBatch(ev, batchId = 1L, root, "day", 7, 3)
    assert(files() == before, "batch 1 rewrote batch 0's partial")
    assert(Files.exists(Paths.get(root, "counts", "batch=1")))
  }

  test("O2 streaming: incremental index assignment equals the batch assign over the lake") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_idx_in").toString
    val root = Files.createTempDirectory("graft_idx_out").toString
    val emb = Tables(spark, sf("sf0.01"), "embeddings")
    val codebook = graft.operators.Similarity.centroidsOf(emb, col("vec_id") < 8)
    def landed() = spark.read.parquet(s"$root/index")
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // two arrival waves; the codebook stays FIXED across both
    emb.filter(col("vec_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runStreamingIndexAssign(spark, src, root, codebook)
    emb.filter(col("vec_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runStreamingIndexAssign(spark, src, root, codebook)
    val batch = graft.operators.Similarity.ivfAssignTo(emb, codebook)
      .select("vec_id", "cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(landed() == batch, "incremental index diverged from batch assignment")
    // nothing new: a third pass admits no batch and the index is unchanged
    Incremental.runStreamingIndexAssign(spark, src, root, codebook)
    assert(landed() == batch)
  }

  test("N-day backfill shape: overlapping-id days merge under the upsert law") {
    // the BackfillBench fixture contract in miniature (3 days, 300
    // orders, 20% day-over-day id overlap via the new idBase/startDay
    // params): re-delivered ids carry the later day's row wholesale,
    // never-re-delivered history carries through UNCHANGED across two
    // further merges — the suite-level pin of what
    // tools/check_backfill.py replays in DuckDB at the 30-day scale
    val root = Files.createTempDirectory("graft_bfspec").toString
    val start = java.time.LocalDate.of(2024, 3, 1)
    val orders = 300; val newPerDay = orders - orders / 5
    var prev: Option[String] = None
    for (d <- 0 until 3) {
      val in = Files.createTempDirectory(s"graft_bfspec_in_$d")
      PipelineFixture.write(in, orders, days = 1, seed = 142L + d,
        idBase = d * newPerDay, startDay = start.plusDays(d.toLong))
      Main.run(spark, in.toString, s"$root/day_$d", masterHistoryDir = prev)
      prev = Some(s"$root/day_$d/delivery_order_master")
    }
    def master(d: Int) = spark.read.parquet(s"$root/day_$d/delivery_order_master")
    val idNum = expr("cast(split(delivery_order_id, '-')[1] as int)")
    val fin = master(2)
    assert(fin.count() == orders + 2 * newPerDay) // 300 + 240 + 240
    assert(fin.select("delivery_order_id").distinct().count() == fin.count())
    def rows(df: org.apache.spark.sql.DataFrame, lo: Int, hi: Int) =
      df.filter(idNum.between(lo, hi)).collect().map(_.toString).sorted.toSeq
    // ids 241..300 were delivered on day 0 AND day 1: the final row is
    // day 1's version, wholesale
    assert(rows(fin, 241, 300) == rows(master(1), 241, 300))
    // ids 1..240 were delivered ONLY on day 0: their rows survive two
    // later merges byte-for-byte
    assert(rows(fin, 1, 240) == rows(master(0), 1, 240))
  }

  test("runDailyDeltaStore: the PartitionStore master equals the chained merge") {
    // the daily delta shape — the transactional PartitionStore merge —
    // through the same 3 overlapping fixture days as the chained
    // O(history) merge: identical final masters, row for row
    val start = java.time.LocalDate.of(2024, 7, 1)
    val orders = 200; val newPerDay = orders - orders / 5
    val rootA = Files.createTempDirectory("graft_d3chain").toString
    val rootB = Files.createTempDirectory("graft_d3store").toString
    val storeRoot = s"$rootB/master_store"
    var prev: Option[String] = None
    for (d <- 0 until 3) {
      val in = Files.createTempDirectory(s"graft_d3_in_$d")
      PipelineFixture.write(in, orders, days = 1, seed = 713L + d,
        idBase = d * newPerDay, startDay = start.plusDays(d.toLong))
      Main.run(spark, in.toString, s"$rootA/day_$d", masterHistoryDir = prev)
      prev = Some(s"$rootA/day_$d/delivery_order_master")
      Main.runDailyDeltaStore(spark, in.toString, s"$rootB/day_$d", storeRoot)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toString).sorted.toSeq
    val chained = rows(spark.read.parquet(s"$rootA/day_2/delivery_order_master"))
    assert(rows(graft.sinks.PartitionStore.read(spark, storeRoot).get) == chained,
      "PartitionStore delta diverged from the chained merge")
  }

  test("O2 streaming: incremental novelty scores wave 2 against wave 1's span index") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_nov_in").toString
    val root = Files.createTempDirectory("graft_nov_out").toString
    def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)
    val w1 = Seq(doc(1L, "a b c d"), doc(2L, "p q r"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w2 = Seq(doc(3L, "a b c d"), doc(4L, "x y z"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    w1.write.mode("append").parquet(src)
    Incremental.runIncrementalNovelty(spark, src, root, n = 3)
    w2.write.mode("append").parquet(src)
    Incremental.runIncrementalNovelty(spark, src, root, n = 3)
    val got = spark.read.parquet(s"$root/novelty")
      .select("doc_id", "novelty").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // wave 1 sees an empty index: everything novel; wave 2's doc 3 is a
    // verbatim copy of doc 1 (novelty 0), doc 4 is genuinely new
    assert(got == Map(1L -> 1.0, 2L -> 1.0, 3L -> 0.0, 4L -> 1.0))
    // == the batch twin over the same split
    val twin = graft.operators.Dedup.noveltyAgainst(
        w2, graft.operators.Dedup.spanIndex(w1, 3), 3)
      .select("doc_id", "novelty").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(twin == Map(3L -> 0.0, 4L -> 1.0))
    // a RETRY of batch 1 (its spans already landed) must not see itself
    Incremental.mergeNoveltyBatch(w2, 1L, root, 3)
    val retried = spark.read.parquet(s"$root/novelty")
      .select("doc_id", "novelty").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(retried == got, "retry diverged: the batch saw its own spans")
  }

  test("O2 streaming: incremental boilerplate strips wave 2 against wave 1's counts + batch virality") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_boil_in").toString
    val root = Files.createTempDirectory("graft_boil_out").toString
    def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)
    val w1 = Seq(doc(1L, "x y a"), doc(2L, "b x y"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w2 = Seq(doc(10L, "c x y d"), doc(11L, "p q"), doc(12L, "p q e"), doc(13L, "f p q"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    w1.write.mode("append").parquet(src)
    Incremental.runIncrementalBoilerplate(spark, src, root, n = 2, maxDf = 2)
    w2.write.mode("append").parquet(src)
    Incremental.runIncrementalBoilerplate(spark, src, root, n = 2, maxDf = 2)
    val got = spark.read.parquet(s"$root/clean")
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // wave 1 cleans against an empty index ("x y" df 2 is NOT > 2);
    // wave 2: "x y" = 2 history + 1 batch > 2 → stripped from doc 10;
    // "p q" = 0 history + 3 batch > 2 → same-day virality
    assert(got == Map(1L -> "x y a", 2L -> "b x y",
      10L -> "c d", 11L -> "", 12L -> "e", 13L -> "f"))
    // == the batch twin over the same split
    val twin = graft.operators.Dedup.stripBoilerplateAgainst(
        w2, graft.operators.Dedup.boilerplateIndex(w1, 2), 2, 2)
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twin == Map(10L -> "c d", 11L -> "", 12L -> "e", 13L -> "f"))
    // a RETRY of batch 1 (its counts already landed) must not see itself
    Incremental.mergeBoilerplateBatch(w2, 1L, root, 2, 2)
    val retried = spark.read.parquet(s"$root/clean")
      .select("doc_id", "clean_text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(retried == got, "retry diverged: the batch saw its own counts")
  }

  test("O2 streaming: incremental quality model warm-starts from the prior wave's weights") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_lr_in").toString
    val root = Files.createTempDirectory("graft_lr_out").toString
    def doc(id: Long, text: String, lang: String) =
      (id, text, lang, "src0", text.length.toLong)
    val w1 = Seq(doc(1L, "a b c d e f", "en"), doc(2L, "a b", "fr"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w2 = Seq(doc(3L, "a b c d e f g h", "en"), doc(4L, "c", "de"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    w1.write.mode("append").parquet(src)
    Incremental.runIncrementalQualityModel(spark, src, root, iters = 2)
    w2.write.mode("append").parquet(src)
    Incremental.runIncrementalQualityModel(spark, src, root, iters = 2)
    def weights(df: org.apache.spark.sql.DataFrame) = df
      .select("w0", "w1", "w2", "w3").collect().map(r =>
        (0 to 3).map(j => r.getDecimal(j)).toSeq).toSeq
    val stored = spark.read.parquet(s"$root/model")
    val latest = stored.filter(col("batch") === 1).drop("batch")
    // == the batch twin: wave-2 training warm-started from wave-1's model
    val twin = graft.operators.TextAnalysis.logisticQualityModelFrom(
      w2, graft.operators.TextAnalysis.logisticQualityModel(w1, 2), 2)
    assert(weights(latest) == weights(twin), "warm-start diverged from the twin")
    // warm-start actually carried state: cold-trained wave 2 differs
    val cold = graft.operators.TextAnalysis.logisticQualityModel(w2, 2)
    assert(weights(latest) != weights(cold), "wave-2 model ignored wave 1")
    // a RETRY of batch 1 must re-derive the same model (not see itself)
    Incremental.mergeQualityModelBatch(w2, 1L, root, 2)
    val retried = spark.read.parquet(s"$root/model")
      .filter(col("batch") === 1).drop("batch")
    assert(weights(retried) == weights(twin), "retry diverged")
  }

  test("O2 streaming: incremental PSI scores wave 2 against wave 1's stored baseline") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_psi_in").toString
    val root = Files.createTempDirectory("graft_psi_out").toString
    def doc(id: Long, text: String) = (id, text, "en", "src0", text.length.toLong)
    val w1 = (1L to 20L).map(i => doc(i, ("t " * i.toInt).trim))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val w2 = (21L to 30L).map(i => doc(i, ("t " * 25).trim))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    w1.write.mode("append").parquet(src)
    Incremental.runIncrementalPsi(spark, src, root, buckets = 4)
    w2.write.mode("append").parquet(src)
    Incremental.runIncrementalPsi(spark, src, root, buckets = 4)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("bucket", "p_old", "p_new", "psi_term").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val got = rows(spark.read.parquet(s"$root/drift"))
    // == the batch twin over token counts
    def v(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
      size(graft.functions.TextFunctions.tokens(col("text"))).cast("long").as("v"))
    val twin = rows(graft.operators.Relational.psiDrift(v(w1), v(w2), "v", buckets = 4))
    assert(got == twin, s"runner drift diverged:\n$got\n$twin")
    // w2 is all long docs: the top bucket over-represents
    assert(got.last._3 > got.last._2)
    // a RETRY of the drift batch reproduces itself
    Incremental.mergePsiBatch(w2, 1L, root, 4)
    assert(rows(spark.read.parquet(s"$root/drift")) == twin, "retry diverged")
    // a RETRY of the BASELINE batch must re-establish, not self-drift
    Incremental.mergePsiBatch(w1, 0L, root, 4)
    val base = spark.read.parquet(s"$root/psi_baseline")
    assert(base.count() == 4, "baseline retry corrupted the artifact")
  }

  test("O2 streaming: incremental KMV estimates equal the whole-corpus sketch across waves") {
    import spark.implicits._
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_kmv_in").toString
    val root = Files.createTempDirectory("graft_kmv_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalKmv(spark, src, root, n = 3, k = 32)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalKmv(spark, src, root, n = 3, k = 32)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val streamed = rows(spark.read.parquet(s"$root/estimates"))
    // min-k associativity: merged per-wave sketches == one full pass
    val batch = rows(graft.operators.Dedup.kmvEstimates(docs, col("source"), 3, 32))
    assert(streamed == batch, "incremental KMV diverged from the full-corpus sketch")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeKmvBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root, 3, 32)
    assert(rows(spark.read.parquet(s"$root/estimates")) == streamed,
      "retry changed the published estimates")
  }

  test("O2 streaming: incremental transitions equal the batch pass across time-ordered waves") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_tr_in").toString
    val root = Files.createTempDirectory("graft_tr_out").toString
    val events = Tables(spark, sf("sf0.01"), "events").filter(col("user_id").isNotNull)
    // time split: waves partition each user's timeline contiguously (the
    // stitch contract); ties at the cut land wholly in wave 1
    val cut = events.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    events.filter(unix_micros(col("ts")) <= cut).write.mode("append").parquet(src)
    Incremental.runIncrementalTransitions(spark, src, root)
    events.filter(unix_micros(col("ts")) > cut).write.mode("append").parquet(src)
    Incremental.runIncrementalTransitions(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val streamed = rows(spark.read.parquet(s"$root/transitions"))
    val batch = rows(graft.operators.Relational.transitionCounts(events,
      col("user_id"), Seq(col("ts"), col("event_id")), col("event_type")))
    assert(streamed == batch, "incremental transitions diverged from the batch pass")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeTransitionsBatch(events.filter(unix_micros(col("ts")) > cut), 1L, root)
    assert(rows(spark.read.parquet(s"$root/transitions")) == streamed,
      "retry changed the published transitions")
  }

  test("O2 streaming: incremental centroid drift equals the batch monitor across waves") {
    import graft.sources.Tables
    val baseDir = Files.createTempDirectory("graft_cd_base").toString
    val src = Files.createTempDirectory("graft_cd_in").toString
    val root = Files.createTempDirectory("graft_cd_out").toString
    val emb = Tables(spark, sf("sf0.01"), "embeddings")
    val base = emb.filter(col("vec_id") % 10 =!= 0)
    val batchAll = emb.filter(col("vec_id") % 10 === 0)
    base.write.mode("overwrite").parquet(baseDir)
    // two waves; digests are additive so any split works
    batchAll.filter(col("vec_id") < 250).write.mode("append").parquet(src)
    Incremental.runIncrementalCentroidDrift(spark, src, root, baseDir)
    batchAll.filter(col("vec_id") >= 250).write.mode("append").parquet(src)
    Incremental.runIncrementalCentroidDrift(spark, src, root, baseDir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    }.toMap
    val streamed = rows(spark.read.parquet(s"$root/drift"))
    // the runner derives the codebook from the BASELINE snapshot — the
    // batch comparator must share it
    val batch = rows(graft.operators.Similarity.centroidDrift(base, batchAll,
      graft.operators.Similarity.centroidsOf(base, col("vec_id") < 32)))
    assert(streamed == batch, "incremental centroid drift diverged from the batch monitor")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeCentroidDriftBatch(batchAll.filter(col("vec_id") >= 250), 1L, root, baseDir, 32)
    assert(rows(spark.read.parquet(s"$root/drift")) == streamed,
      "retry changed the published drift")
  }

  test("O2 streaming: incremental Zipf fingerprint equals the batch fit across waves") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_zipf_in").toString
    val root = Files.createTempDirectory("graft_zipf_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    // counts are additive, so a parity split folds exactly; the fit must
    // re-derive from the FOLDED counts (ranks shift between waves)
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalZipf(spark, src, root, topV = 50)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalZipf(spark, src, root, topV = 50)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))
    }.toMap
    val streamed = rows(spark.read.parquet(s"$root/zipf"))
    val batch = rows(graft.operators.TextAnalysis.zipfSlope(docs, topV = 50))
    assert(streamed == batch, "incremental Zipf fit diverged from the batch fit")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeZipfBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root, 50)
    assert(rows(spark.read.parquet(s"$root/zipf")) == streamed,
      "retry changed the published fit")
  }

  test("O2 streaming: incremental user entropy equals the batch report across waves") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val src = Files.createTempDirectory("graft_ue_in").toString
    val root = Files.createTempDirectory("graft_ue_out").toString
    val events = Tables(spark, sf("sf0.01"), "events")
    // (user, type) counts are additive: any split folds exactly
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalUserEntropy(spark, src, root)
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalUserEntropy(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))
    }.toMap
    val streamed = rows(spark.read.parquet(s"$root/user_entropy"))
    val batch = rows(graft.operators.Relational.behaviorEntropy(
      events.filter(col("user_id").isNotNull), col("user_id"), col("event_type")))
    assert(streamed == batch, "incremental user entropy diverged from the batch report")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeUserEntropyBatch(events.filter(col("event_id") % 2 === 1), 1L, root)
    assert(rows(spark.read.parquet(s"$root/user_entropy")) == streamed,
      "retry changed the published report")
  }

  test("O2 streaming: incremental source health equals the batch scorecard; cross-batch dups collide") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_sh_in").toString
    val root = Files.createTempDirectory("graft_sh_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    // hash digests are additive: a parity split works, and exact-dup
    // pairs the split separates must still be flagged in the fold
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalSourceHealth(spark, src, root)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalSourceHealth(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    }.toMap
    val streamed = rows(spark.read.parquet(s"$root/source_health"))
    val batch = rows(graft.operators.TextAnalysis.sourceHealth(docs))
    assert(streamed == batch, "incremental source health diverged from the batch scorecard")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeSourceHealthBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root)
    assert(rows(spark.read.parquet(s"$root/source_health")) == streamed,
      "retry changed the published scorecard")
  }

  test("O2 streaming: incremental inter-arrival equals the batch profile across time-ordered waves") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_ia_in").toString
    val root = Files.createTempDirectory("graft_ia_out").toString
    val events = Tables(spark, sf("sf0.01"), "events").filter(col("user_id").isNotNull)
    val burst = 3600000000L
    // time split at the median — contiguous per-user runs (stitch contract)
    val cut = events.agg(expr("percentile(unix_micros(ts), 0.5)"))
      .collect().head.getDouble(0).toLong
    events.filter(unix_micros(col("ts")) <= cut).write.mode("append").parquet(src)
    Incremental.runIncrementalInterArrival(spark, src, root, burst)
    events.filter(unix_micros(col("ts")) > cut).write.mode("append").parquet(src)
    Incremental.runIncrementalInterArrival(spark, src, root, burst)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      r.getLong(0) -> ((r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getLong(5)))
    }.toMap
    val streamed = rows(spark.read.parquet(s"$root/interarrival")
      .select("key", "n_events", "min_gap_us", "max_gap_us", "mean_gap_us", "bursts"))
    // the batch profile, foldable columns only (median is batch-only)
    val batch = rows(graft.operators.Relational.interArrival(events,
        col("user_id"), Seq(col("ts"), col("event_id")),
        unix_micros(col("ts")), burst)
      .select("key", "n_events", "min_gap_us", "max_gap_us", "mean_gap_us", "bursts"))
    assert(streamed == batch, "incremental inter-arrival diverged from the batch profile")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeInterArrivalBatch(events.filter(unix_micros(col("ts")) > cut), 1L, root, burst)
    assert(rows(spark.read.parquet(s"$root/interarrival")
        .select("key", "n_events", "min_gap_us", "max_gap_us", "mean_gap_us", "bursts")) == streamed,
      "retry changed the published profile")
  }

  test("O2 streaming: incremental CDC index equals the batch dup report; cross-batch mirrors collide") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_cdc_in").toString
    val root = Files.createTempDirectory("graft_cdc_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    // chunk-hash partials are additive: any split works, and a mirror in
    // a LATER wave must still collide with wave-1 chunk hashes
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalCdcIndex(spark, src, root, window = 8, mask = 64, maxChunk = 256)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalCdcIndex(spark, src, root, window = 8, mask = 64, maxChunk = 256)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val streamed = rows(spark.read.parquet(s"$root/dup_stats"))
    val batch = rows(graft.operators.Multimodal.cdcDuplicateStats(
      graft.operators.Multimodal.asBinaryTable(docs),
      window = 8, mask = 64, maxChunk = 256))
    assert(streamed == batch, "incremental CDC index diverged from the batch report")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeCdcIndexBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root, 8, 64, 256)
    assert(rows(spark.read.parquet(s"$root/dup_stats")) == streamed,
      "retry changed the published report")
  }

  test("O2 streaming: incremental heavy keys equal the batch report across waves") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_hk_in").toString
    val root = Files.createTempDirectory("graft_hk_out").toString
    val events = Tables(spark, sf("sf0.01"), "events")
    // count partials are additive, so ANY split works (no time contract)
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalHeavyKeys(spark, src, root, k = 10)
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalHeavyKeys(spark, src, root, k = 10)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    val streamed = rows(spark.read.parquet(s"$root/heavy_keys"))
    val batch = rows(graft.operators.Relational.heavyHitters(
      events, col("user_id"), k = 10))
    assert(streamed == batch, "incremental heavy keys diverged from the batch report")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeHeavyKeysBatch(events.filter(col("event_id") % 2 === 1), 1L, root, 10)
    assert(rows(spark.read.parquet(s"$root/heavy_keys")) == streamed,
      "retry changed the published report")
  }

  test("O2 streaming: incremental profile twins equal the batch report; a mid-user split still collides") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_pt_in").toString
    val root = Files.createTempDirectory("graft_pt_out").toString
    val events = Tables(spark, sf("sf0.1"), "events")
    // counts are additive, so a split straddling users is fine
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalProfileTwins(spark, src, root)
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalProfileTwins(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    val streamed = rows(spark.read.parquet(s"$root/profile_twins"))
    val batch = rows(graft.operators.Relational.profileTwins(
      events.filter(col("user_id").isNotNull), col("user_id"), col("event_type")))
    assert(batch.nonEmpty, "sf0.1 fixture must produce twin groups")
    assert(streamed == batch, "incremental profile twins diverged from the batch report")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeProfileTwinsBatch(events.filter(col("event_id") % 2 === 1), 1L, root)
    assert(rows(spark.read.parquet(s"$root/profile_twins")) == streamed,
      "retry changed the published report")
  }

  test("O2 streaming: incremental hour profile equals the batch report across waves") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_hp_in").toString
    val root = Files.createTempDirectory("graft_hp_out").toString
    val events = Tables(spark, sf("sf0.01"), "events")
    events.filter(col("event_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalHourProfile(spark, src, root)
    events.filter(col("event_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalHourProfile(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    val streamed = rows(spark.read.parquet(s"$root/hour_profile"))
    val batch = rows(graft.operators.Relational.typeHourProfile(
      events, col("event_type"), col("ts")))
    assert(batch.nonEmpty && streamed == batch,
      "incremental hour profile diverged from the batch report")
    Incremental.mergeHourProfileBatch(events.filter(col("event_id") % 2 === 1), 1L, root)
    assert(rows(spark.read.parquet(s"$root/hour_profile")) == streamed,
      "retry changed the published report")
  }

  test("O2 streaming: incremental hash uniformity equals the batch chi-square across waves") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_hu_in").toString
    val root = Files.createTempDirectory("graft_hu_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalHashUniformity(spark, src, root, buckets = 16)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalHashUniformity(spark, src, root, buckets = 16)
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()(0).toSeq
    val streamed = row(spark.read.parquet(s"$root/hash_uniformity"))
    val batch = row(graft.operators.Relational.hashUniformity(
      docs, col("doc_id"), buckets = 16))
    assert(streamed == batch, "incremental hash uniformity diverged from batch")
    Incremental.mergeHashUniformityBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root, 16)
    assert(row(spark.read.parquet(s"$root/hash_uniformity")) == streamed,
      "retry changed the published report")
    // ROUND 9: buckets parameterizes the partials' SHAPE, so partials
    // live under counts_b<buckets>/ — a rerun with different buckets
    // must fold only its own partials, not mix b16 occupancies into a
    // silently wrong chi²
    Incremental.mergeHashUniformityBatch(docs, 2L, root, 8)
    assert(row(spark.read.parquet(s"$root/hash_uniformity")) ==
      row(graft.operators.Relational.hashUniformity(docs, col("doc_id"), buckets = 8)),
      "a buckets=8 rerun folded the buckets=16 partials")
  }

  test("O2 streaming: incremental FD audit equals the batch audit; late violations flip the key") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_fd_in").toString
    val root = Files.createTempDirectory("graft_fd_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalFdAudit(spark, src, root)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalFdAudit(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4), r.getBoolean(5))))
      .toMap
    val streamed = rows(spark.read.parquet(s"$root/fd_audit"))
    val batch = rows(graft.operators.Relational.functionalDependencyAudit(
      docs, col("source"), col("lang")))
    assert(batch.nonEmpty && streamed == batch,
      "incremental FD audit diverged from the batch audit")
    Incremental.mergeFdAuditBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root)
    assert(rows(spark.read.parquet(s"$root/fd_audit")) == streamed,
      "retry changed the published report")
  }

  test("O2 streaming: incremental source-KL equals the batch divergence across waves") {
    import graft.sources.Tables
    val src = Files.createTempDirectory("graft_kl_in").toString
    val root = Files.createTempDirectory("graft_kl_out").toString
    val docs = Tables(spark, sf("sf0.01"), "documents")
    docs.filter(col("doc_id") % 2 === 0).write.mode("append").parquet(src)
    Incremental.runIncrementalSourceKl(spark, src, root)
    docs.filter(col("doc_id") % 2 === 1).write.mode("append").parquet(src)
    Incremental.runIncrementalSourceKl(spark, src, root)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val streamed = rows(spark.read.parquet(s"$root/kl"))
    // additive count partials: merged per-wave counts == one corpus pass
    val batch = rows(graft.operators.TextAnalysis.sourceDivergence(docs))
    assert(streamed == batch, "incremental KL diverged from the batch pass")
    // a RETRY of the last batch (same id, same data) must change nothing
    Incremental.mergeSourceKlBatch(docs.filter(col("doc_id") % 2 === 1), 1L, root)
    assert(rows(spark.read.parquet(s"$root/kl")) == streamed,
      "retry changed the published divergences")
  }

  test("O2 streaming: incremental CC labels equal the full-graph recompute across waves") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_cc_in").toString
    val root = Files.createTempDirectory("graft_cc_out").toString
    val w1 = Seq((2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val w2 = Seq((1L, 3L), (6L, 9L)).toDF("a_id", "b_id")
    def labels() = graft.sinks.SnapshotStore.read(spark, s"$root/labels").get
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    w1.write.mode("append").parquet(src)
    Incremental.runIncrementalCC(spark, src, root)
    assert(labels() == Map(2L -> 2L, 3L -> 2L, 5L -> 5L, 6L -> 5L))
    w2.write.mode("append").parquet(src)
    Incremental.runIncrementalCC(spark, src, root)
    val merged = labels()
    val none = Seq.empty[(Long, Long)].toDF("id", "lbl")
    val full = graft.operators.Dedup
      .mergeComponentLabels(none, w1.unionByName(w2))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == full, "incremental labels diverged from the full graph")
    // a RETRY (re-merging already-contracted pairs) is a no-op
    Incremental.mergeCcBatch(w2, root, maxIters = 10)
    assert(labels() == merged, "retry changed the labels")
  }

  test("O1: Main.run end-to-end writes all sinks + metadata sidecar") {
    val out = Files.createTempDirectory("graft_e2e").toString
    val report = Main.run(spark, fixtures, out)
    assert(report.orders == 3 && report.corruptFiles == 1)
    assert(report.events == 6 && report.packages == 3)
    Seq("delivery_order_master", "events_info_temp", "schedule_events_info_temp",
      "reschedule_events_info_temp", "packages_temp", "delivery_order_work",
      "delivery_order_visit_order").foreach { t =>
      assert(spark.read.parquet(s"$out/$t").count() >= 0, s"sink $t unreadable")
    }
    val meta = Files.readString(Paths.get(s"$out/_run_metadata.json"))
    assert(meta.contains("\"total_ordenes\":3") && meta.contains("\"fallos\":1"))
    val master = spark.read.parquet(s"$out/delivery_order_master")
    assert(master.schema("events_info_json").dataType.typeName == "string")
  }

  test("O1 report: RunReport equals the counts re-read from the landed parquet") {
    // the report's counts come from Observations on the sink writes; they
    // must equal what a reader of the landed files sees — on the corrupt-
    // file fixture, and on a day upserted into history with corrupt files
    def reread(out: String, r: Main.RunReport): Unit = {
      def n(t: String) = spark.read.parquet(s"$out/$t").count()
      assert(r == Main.RunReport(n("delivery_order_work"), r.corruptFiles,
        n("events_info_temp"), n("schedule_events_info_temp"),
        n("reschedule_events_info_temp"), n("packages_temp")))
      val meta = Files.readString(Paths.get(s"$out/_run_metadata.json"))
      assert(meta == s"""{"total_ordenes":${r.orders},"fallos":${r.corruptFiles},""" +
        s""""events":${r.events},"schedules":${r.schedules},""" +
        s""""reschedules":${r.reschedules},"packages":${r.packages}}""")
    }
    val out = Files.createTempDirectory("graft_report").toString
    val r = Main.run(spark, fixtures, out)
    assert(r.corruptFiles == 1)
    reread(out, r)

    val root = Files.createTempDirectory("graft_report_hist")
    val (dayIn, history) = HistoryDay.land(spark, root, historyOrders = 300,
      historyDays = 2, orders = 100, badFiles = 3, seed = 21L)
    val r2 = Main.run(spark, dayIn, s"$root/day_out", Some(history))
    assert(r2.orders == 100 && r2.corruptFiles == 3)
    reread(s"$root/day_out", r2)
  }

  test("O2 e2e: authenticated trigger → paged extract → full pipeline (DAG:25-32 → :323-362)") {
    import com.sun.net.httpserver.HttpServer
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    val auths = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/trigger", ex => {
      hits.incrementAndGet()
      auths.add(ex.getRequestHeaders.getFirst("Authorization"))
      val body = """{"status":"triggered"}""".getBytes
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val uri = java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/trigger")
      val orders = PipelineFixture.orderRecords(25)
      // paged stub: 2 pages (Extract.pageSize=100 → page 1 carries all 25;
      // split at 10 to exercise the page loop inside the e2e)
      val fetch: graft.sources.Extract.FetchPage = (_, page) =>
        graft.sources.Extract.PageResult(
          orders.slice((page - 1) * 10, page * 10), orders.size)
      val day = java.time.LocalDate.of(2024, 1, 15)
      val rawDir = Files.createTempDirectory("graft_o2_raw").toString
      val outDir = Files.createTempDirectory("graft_o2_out").toString
      val report = Main.ingest(spark, fetch, day, day, rawDir, outDir,
        trigger = Some(() => graft.sources.Extract.authenticatedTrigger(
          uri, "https://extract.svc", aud => s"tok-for-$aud")))
      // the trigger fired exactly once, with the stubbed provider's token
      assert(hits.get() == 1)
      assert(auths.get(0) == "Bearer tok-for-https://extract.svc")
      // the extract landed the day-file + sidecar, and the pipeline ran
      // over it: ids are unique so Q1's dedupe keeps all 25
      assert(Files.exists(Paths.get(s"$rawDir/$day/$day.json")))
      assert(Files.exists(Paths.get(s"$rawDir/$day/$day.metadata.json")))
      assert(report.orders == 25 && report.corruptFiles == 0)
      assert(spark.read.parquet(s"$outDir/delivery_order_work").count() == 25)
    } finally server.stop(0)
  }

  test("O2 e2e: a failed trigger aborts the run BEFORE any fetch (the DAG's failed-task semantics)") {
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/trigger", ex => {
      ex.sendResponseHeaders(503, -1); ex.close()
    })
    server.start()
    try {
      val uri = java.net.URI.create(
        s"http://127.0.0.1:${server.getAddress.getPort}/trigger")
      val fetched = new java.util.concurrent.atomic.AtomicInteger(0)
      val fetch: graft.sources.Extract.FetchPage = (_, _) => {
        fetched.incrementAndGet()
        graft.sources.Extract.PageResult(Seq.empty, 0)
      }
      val day = java.time.LocalDate.of(2024, 1, 15)
      val rawDir = Files.createTempDirectory("graft_o2_fail_raw").toString
      intercept[IllegalArgumentException] {
        Main.ingest(spark, fetch, day, day, rawDir,
          Files.createTempDirectory("graft_o2_fail_out").toString,
          trigger = Some(() => graft.sources.Extract.authenticatedTrigger(
            uri, "aud", _ => "t", retries = 2)))
      }
      assert(fetched.get() == 0, "extract must not run after a failed trigger")
      assert(!Files.exists(Paths.get(s"$rawDir/$day")),
        "no day dir may land after a failed trigger")
    } finally server.stop(0)
  }
}
