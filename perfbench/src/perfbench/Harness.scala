package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.StatusProbe
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Main => Pipeline, Persist, PipelineFixture, Sessions, SparkEntry}
import graft.explode.ChildTables
import graft.flatten.OrderFlatten
import graft.operators.{Dedup, Relational}
import graft.sinks.TableSink
import graft.sources.{RawReader, Tables}
import graft.transform.WorkGraph

/** One workload: set-up steps, a timed pass, and the checks made
  * outside the timed window. */
trait Workload {
  /** Input sizes, echoed in the output. */
  def sizes: Map[String, Any]
  /** Operations (days or queries) in one pass. */
  def opsPerPass: Int
  /** Timed passes a run makes at least, whatever `--seconds` says. */
  def minPasses: Int = 2
  /** Set-up step repeated to report its median; the last call's state
    * is used. */
  def prepare(rep: Int): Unit
  /** Untimed set-up run once after [[prepare]]: warms the JVM on the
    * workload's code and keeps the outputs the checks need. Returns the
    * number of operations that failed. */
  def warmUp(): Int
  /** The timed pass; returns the number of operations that failed. With
    * a tracer, every layer call runs inside a span. */
  def pass(p: Int, tracer: Option[Tracer]): Int
  /** Untimed per-pass work: output checks and measurements. */
  def afterPass(p: Int, traced: Boolean): Map[String, Any]
  /** Untimed checks and measurements after the last pass. */
  def finish(traced: Boolean): Map[String, Any]
}

/** Entry point launched by run.py: one workload, closed loop, one client. */
object Harness {
  val layers = Seq("sources", "flatten", "explode", "transform", "relational",
    "sinks", "dedup", "similarity", "text", "streaming")
  /** Repetitions of the repeatable set-up step. */
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val work = Paths.get(o("work")).toAbsolutePath
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val seed = o("seed").toLong
    val loadStart = loadAvg()
    Files.createDirectories(work.resolve("spark-local"))
    val spark = Sessions.local(o("cpus"))
      .config(Tables.nanosAsLongKey, "true")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.retainedStages", "100000")
      .config("spark.ui.retainedJobs", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.wireCheckpointDir(spark)

    val w: Workload = o("workload") match {
      case "etl_day" => new EtlDay(spark, work, seed, o("orders").toInt,
        o("history_orders").toInt, o("history_days").toInt, o("bad_files").toInt)
      case "corpus" => new Corpus(spark, work, o("inputs"), Corpus.queries)
    }
    val prepTimes = (1 to setupReps).map(r => timed(w.prepare(r))._2)
    val (warmFailed, warmS) = timed(w.warmUp())
    System.err.println(f"[perfbench] prepare ${prepTimes.mkString(" ")} warm-up $warmS%.3f")
    release(spark)
    // set-up counts the repeated step once, at its median
    val setupS = (System.currentTimeMillis() / 1000.0 - o("t0").toDouble) -
      o("gen_extra_s").toDouble - (prepTimes.sum - median(prepTimes))

    HeapMeter.install()
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val passes = Seq.newBuilder[Map[String, Any]]
    var measured = 0.0
    var p = 0
    // closed loop until `seconds` of passes are measured, and at least
    // the workload's minPasses: while passes are slow, every run samples
    // the same passes of the JIT warm-up curve. A traced run alternates
    // untraced and traced passes.
    while (p < w.minPasses || measured < seconds) {
      p += 1
      val tr = tracer.filter(_ => p % 2 == 0)
      val floor = StatusProbe.lastStageId(spark.sparkContext)
      tr.foreach(_.begin(p))
      HeapMeter.reset()
      val cpu0 = CpuTicks.read()
      val (failed, runS) = timed(w.pass(p, tr))
      val stealPct = CpuTicks.stealPct(cpu0, CpuTicks.read())
      measured += runS
      System.err.println(f"[perfbench] pass $p run_s $runS%.3f steal $stealPct%.1f%%")
      val heapMb = HeapMeter.endPass()
      val cpuS = StatusProbe.cpuNanosAfter(spark.sparkContext, floor) / 1e9
      tr.foreach(_.end())
      val layerM = tr.map(_.layerMetrics(layers)).getOrElse(Map.empty)
      val after = w.afterPass(p, tr.isDefined)
      release(spark)
      passes += Map("pass" -> p, "traced" -> tr.isDefined, "run_s" -> runS,
        "task_cpu_s" -> cpuS, "peak_live_heap_mb" -> heapMb, "steal_pct" -> stealPct,
        "failed" -> failed,
        "ops" -> w.opsPerPass, "layers" -> layerM) ++ after
    }
    val checks = w.finish(traced)
    tracer.foreach(_.write(Paths.get(o("spans"))))
    val rt = Runtime.getRuntime
    val env = Map("nproc" -> rt.availableProcessors(), "spark_cpus" -> o("cpus"),
      "heap_max_mb" -> rt.maxMemory() / 1048576, "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version, "seed" -> seed, "load_avg_start" -> loadStart,
      "load_avg_end" -> loadAvg(), "warmup_failed" -> warmFailed)
    println("PERFBENCH " + Json(Map("setup_s" -> setupS, "setup_prep_s" -> prepTimes,
      "sizes" -> w.sizes, "env" -> env, "passes" -> passes.result(), "checks" -> checks)))
    spark.stop()
  }

  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Between passes: drop every cache and collect. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator.asScala.foreach(Files.delete)
      finally s.close()
    }
}

/** The machine's CPU ticks from `/proc/stat` (empty where it does not
  * exist). On a virtual machine, steal is the time its vCPUs were ready
  * to run but the host ran something else: a pass with a high share of
  * steal was slowed by the host, not by the program. */
object CpuTicks {
  def read(): Array[Long] = try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  } catch { case _: Exception => Array.empty }

  /** Steal ticks between two readings, in percent of all ticks. */
  def stealPct(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = b.sum - a.sum
      if (total <= 0) 0.0 else 100.0 * (b(7) - a(7)) / total
    }
}

/** The largest heap in use right after a GC, from GC notifications. */
object HeapMeter {
  private val peak = new AtomicLong(0)
  private val explicit = new AtomicLong(0)
  private lazy val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, math.max(_, _))
          if (info.getGcCause == "System.gc()") explicit.incrementAndGet()
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def reset(): Unit = peak.set(0)

  /** Collects once more so every pass has a sample, waits for its
    * notification, and returns the pass's peak in MiB. */
  def endPass(): Double = {
    val before = explicit.get
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (explicit.get == before && System.nanoTime() < deadline) Thread.sleep(5)
    peak.get / 1048576.0
  }
}

/** `etl_day`: one landed day through `graft.Main.run`, merged into a
  * multi-day history master built in set-up. */
final class EtlDay(spark: SparkSession, work: Path, seed: Long, orders: Int,
                   historyOrders: Int, historyDays: Int, badFiles: Int) extends Workload {
  private val day = java.time.LocalDate.of(2024, 1, 15)
  private var root: Path = _
  private def dayIn = root.resolve("day_in").toString
  private def history = root.resolve("history_out/delivery_order_master").toString
  private def out(p: Int) = work.resolve(s"out/pass_$p")
  private var report = Map.empty[String, Long]

  def sizes: Map[String, Any] = Map("orders" -> orders, "history_orders" -> historyOrders,
    "history_days" -> historyDays, "bad_files" -> badFiles,
    "redelivered" -> orders / 5)
  def opsPerPass = 1

  def prepare(rep: Int): Unit = {
    if (root != null) Harness.deleteTree(root)
    root = work.resolve(s"prep_$rep")
    PipelineFixture.write(root.resolve("history_in"), historyOrders, historyDays,
      seed = seed * 7919 + 1, startDay = day.minusDays(historyDays.toLong))
    // 20% of the day's ids re-deliver the newest history orders
    val dayDir = root.resolve("day_in")
    PipelineFixture.write(dayDir, orders, 1, seed = seed, idBase = historyOrders - orders / 5,
      startDay = day)
    for (k <- 0 until badFiles)
      Files.writeString(dayDir.resolve(day.toString).resolve(s"broken_$k.json"),
        s"""[{"delivery_order_id": "BAD-$k", "code": trunc""")
  }

  /** Builds the history master with one `Main.run` over the history
    * days, then makes one untimed pass (pass 0), so the JVM is warm on
    * every pipeline layer, the upsert included, and the timed passes
    * start near the end of the JIT warm-up curve. */
  def warmUp(): Int = try {
    Pipeline.run(spark, root.resolve("history_in").toString,
      root.resolve("history_out").toString)
    pass(0, None)
  } catch { case e: Exception =>
    System.err.println(s"[perfbench] etl_day set-up failed: $e")
    1
  }

  def pass(p: Int, tracer: Option[Tracer]): Int = {
    val dir = out(p).toString
    try {
      tracer match {
        case None =>
          val r = Pipeline.run(spark, dayIn, dir, Some(history))
          report = Map("orders" -> r.orders, "corrupt_files" -> r.corruptFiles,
            "events" -> r.events, "schedules" -> r.schedules,
            "reschedules" -> r.reschedules, "packages" -> r.packages)
        case Some(t) => report = Map("corrupt_files" -> replay(t, dir))
      }
      0
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] etl_day pass $p failed: $e")
      1
    }
  }

  /** `Main.run`'s layer calls in the same order, each boundary
    * materialized inside its layer's span. Writes the same sinks. */
  private def replay(t: Tracer, outDir: String): Long = {
    val (raw, good, quarantined) = t.span("sources", "RawReader.readOrders + quarantine") {
      val raw = RawReader.readOrders(spark, dayIn)
      val (good, bad) = RawReader.quarantine(raw)
      val n = bad.count()
      t.count("sources.quarantined_rows", n.toDouble)
      (raw, good, n)
    }
    val flat = t.span("flatten", "OrderFlatten.flatten + enrichPolygonLab") {
      val f = Persist.hot(OrderFlatten.enrichPolygonLab(
        OrderFlatten.flatten(good), Pipeline.defaultPolygonLookup(spark)))
      f.count()
      f
    }
    val Seq(events, schedules, reschedules, packages) = t.span("explode", "ChildTables") {
      val tables = Seq(ChildTables.eventsInfo(flat), ChildTables.scheduleEvents(flat),
        ChildTables.rescheduleEvents(flat), ChildTables.packages(flat)).map(Persist.hot)
      t.count("explode.rows_out", tables.map(_.count()).sum.toDouble)
      tables
    }
    val (work, visits, masterFinal) = t.span("transform", "WorkGraph Q1-Q19") {
      val master = WorkGraph.deleteDuplicates(flat)
      var w = WorkGraph.insertWorkTemp(master)
      w = WorkGraph.updateWorkStatus(w, events)
      w = WorkGraph.updateWorkMacroStatus(w)
      w = WorkGraph.updateWorkLob(w, events)
      w = WorkGraph.updateWorkPackages(w, packages)
      w = WorkGraph.updateWorkStructure(w)
      w = WorkGraph.updateWorkTypeRoute(w)
      w = WorkGraph.updateWorkRouteName(w, Pipeline.defaultRouteDim(spark))
      w = WorkGraph.updateWorkStatusTlmk(w, events)
      w = WorkGraph.updateWorkTotal(w, master)
      w = WorkGraph.updateWorkPortability(w)
      w = WorkGraph.updateWorkVisits(w, events, Seq(1, 2, 3, 0))
      w = WorkGraph.updateWorkScheduled(w, schedules)
      val visits = Persist.hot(WorkGraph.visitOrder(events))
      w = Persist.hot(WorkGraph.finalizeWork(w))
      val mf = Persist.hot(WorkGraph.masterVisitBackfill(master, w))
      Seq(w, visits, mf).foreach(_.count())
      (w, visits, mf)
    }
    val merged = t.span("relational", "Relational.upsert against history") {
      val sinkDay = OrderFlatten.toMasterSink(masterFinal).withColumn("ingest_date",
        TableSink.santiagoDate(col("created_date").cast("timestamp")))
      val hist = Persist.cut(spark.read.parquet(history))
      val m = Persist.hot(Relational.upsert(hist, sinkDay, "delivery_order_id"))
      m.count()
      m
    }
    t.span("sinks", "TableSink + parquet writes") {
      def sink(df: DataFrame, name: String): Unit =
        df.write.mode("overwrite").parquet(s"$outDir/$name")
      sink(events, "events_info_temp")
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.sequence(Seq[() => Unit](
        () => TableSink.writeDayPartitioned(merged, "ingest_date",
          s"$outDir/delivery_order_master"),
        () => sink(schedules, "schedule_events_info_temp"),
        () => sink(reschedules, "reschedule_events_info_temp"),
        () => sink(packages, "packages_temp"),
        () => sink(work, "delivery_order_work"),
        () => sink(visits, "delivery_order_visit_order")).map(a => Future(a()))), Duration.Inf)
    }
    raw.unpersist()
    quarantined
  }

  /** The pass's output dir and its run report; run.py digests and
    * counts the sinks. A traced pass reports only what the replay saw. */
  def afterPass(p: Int, traced: Boolean): Map[String, Any] =
    Map("out" -> out(p).toString, "report" -> report)

  def finish(traced: Boolean): Map[String, Any] =
    Map("day_in" -> dayIn, "history" -> history)
}

/** `corpus`: dedup, similarity and text contract queries over the seeded
  * corpus, each computed in full through a `noop` sink. */
final class Corpus(spark: SparkSession, work: Path, inputs: String,
                   queries: Seq[(String, String)]) extends Workload {
  private lazy val nDocs = Tables(spark, inputs, "documents").count()
  def sizes: Map[String, Any] = Map("queries" -> queries.map(_._1)) ++
    Seq("documents", "embeddings", "events")
      .filter(t => Files.exists(Paths.get(inputs, s"$t.parquet")))
      .map(t => t -> Tables(spark, inputs, t).count())
  def opsPerPass: Int = queries.size
  /** Three, so the median drops a pass still on the JIT warm-up curve or
    * hit by a burst of load. */
  override def minPasses: Int = 3
  private val results = work.resolve("results")
  private var written = Seq.empty[String]

  def prepare(rep: Int): Unit = ()

  /** The checked run: each query's result written as parquet for the
    * oracle compare; then one untimed pass, so the timed passes start
    * near the end of the JIT warm-up curve, as `etl_day`'s do after its
    * two set-up runs. */
  def warmUp(): Int = {
    written = queries.map(_._1).filter { q =>
      try {
        SparkEntry.queries(q)(spark, inputs).write.mode("overwrite")
          .parquet(results.resolve(q).toString)
        true
      } catch { case e: Exception =>
        System.err.println(s"[perfbench] $q failed on the checked run: $e"); false }
    }
    Files.writeString(results.resolve("oracle_sql.json"),
      Json(written.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    queries.size - written.size + pass(0, None)
  }

  def pass(p: Int, tracer: Option[Tracer]): Int = queries.count { case (q, layer) =>
    def run(): Unit =
      SparkEntry.queries(q)(spark, inputs).write.mode("overwrite").format("noop").save()
    try {
      val (_, dt) = Harness.timed(tracer.fold(run())(_.span(layer, q)(run())))
      System.err.println(f"[perfbench] pass $p $q $dt%.3f s")
      false
    }
    catch { case e: Exception =>
      System.err.println(s"[perfbench] $q failed in pass $p: $e")
      true
    }
  }

  def afterPass(p: Int, traced: Boolean): Map[String, Any] = Map.empty

  def finish(traced: Boolean): Map[String, Any] = {
    val extra =
      if (traced && queries.exists(_._2 == "dedup")) {
        // candidate pairs that survive the exact trigram-Jaccard verify
        val docs = Tables(spark, inputs, "documents")
        val cand = Persist.cut(Dedup.lshCandidatePairs(docs, n = 3, k = 12, bands = 4))
        val verified = cand.join(Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.8,
          maxDf = graft.queries.ExtensionQueries.jaccardMaxDf), Seq("a_id", "b_id"), "left_semi")
        val c = cand.count()
        Map("pair_yield" -> (if (c == 0) 0.0 else verified.count().toDouble / c),
          "docs" -> nDocs)
      } else Map("docs" -> nDocs)
    Map("results" -> results.toString, "written" -> written) ++ extra
  }
}

object Corpus {
  /** Query -> the operator module it exercises. */
  val queries: Seq[(String, String)] = Seq(
    "x10_ngram_jaccard" -> "dedup", "w06_stream_dedup" -> "dedup",
    "x11_knn_brute" -> "similarity", "x22_repetition" -> "text")
}

/** Minimal JSON writer for the result line. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
