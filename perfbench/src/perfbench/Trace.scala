package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Epoch nanoseconds read from a monotonic clock, so spans recorded by
  * the benchmark and batch intervals reported by Spark share one time
  * axis. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  def now(): Long = epoch0 + (System.nanoTime() - nano0)
}

/** One traced call into a layer: [start, end] in [[Clock]] nanoseconds.
  * `parent` is the enclosing span's id (0 at top level). */
final case class Span(id: Int, layer: String, label: String, parent: Int,
                      pass: Int, start: Long, end: Long)

/** Task metrics of one stage, summed over its tasks. */
final class StageAgg(val group: String, val submitted: Long) {
  var tasks, runMs, cpuNs, shuffleBytes, spillBytes, scanRows, peakExec = 0L
}

/** The traced run's instrument. Each call into a layer runs inside
  * [[span]], which sets a job group named after the span; a
  * `SparkListener` and a `StreamingQueryListener` collect task metrics,
  * cached-block sizes and streaming progress. Jobs and stages are
  * attributed to the span whose group submitted them, or, when another
  * thread submitted them (thread pools, a streaming query's own group),
  * to the innermost span open at their submission time. Spans and
  * metrics stay in memory until [[layerMetrics]] folds a pass. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var open = List.empty[(Int, String, String)] // (id, group, description)
  private var nextId = 1
  private var pass = 0

  // filled on the listener thread, read by the harness after a drain
  private val jobs = mutable.ArrayBuffer[(String, Long)]() // (group, submit ms)
  private val stages = mutable.LinkedHashMap[Int, StageAgg]()
  private val blocks = mutable.HashMap[String, Long]()
  private var cachedBytes, cachedPeak = 0L
  private val batches = mutable.ArrayBuffer[(Long, Long, Long)]() // (start, end, state rows)
  private val counters = mutable.LinkedHashMap[String, Double]()
  private val folded = mutable.ArrayBuffer[(Span, Long)]() // every pass's spans, self ns

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs += ((group(e.properties), e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = stages.synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new StageAgg(group(e.properties),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stages.synchronized {
      val m = e.taskMetrics
      for (s <- stages.get(e.stageId) if m != null) {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.scanRows += m.inputMetrics.recordsRead
        s.peakExec += m.peakExecutionMemory
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = blocks.synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        cachedBytes -= blocks.remove(id).getOrElse(0L)
        if (info.storageLevel.isValid) {
          val size = info.memSize + info.diskSize
          blocks(id) = size
          cachedBytes += size
        }
        cachedPeak = math.max(cachedPeak, cachedBytes)
      }
    }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      batches.synchronized { batches += ((start, start + dur * 1000000L, state)) }
    }
  }

  private def group(props: java.util.Properties): String =
    Option(props).map(_.getProperty("spark.jobGroup.id")).orNull

  /** Registers both listeners and starts pass `p`'s buffers. */
  def begin(p: Int): Unit = {
    pass = p
    org.apache.spark.perfbench.StatusProbe.drain(sc)
    jobs.synchronized(jobs.clear()); stages.synchronized(stages.clear())
    batches.synchronized(batches.clear()); counters.clear()
    blocks.synchronized { cachedPeak = cachedBytes }
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  /** Deregisters both listeners once every pending event is delivered. */
  def end(): Unit = {
    org.apache.spark.perfbench.StatusProbe.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Runs `body` as one call into `layer`, inside its own job group. */
  def span[T](layer: String, label: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.fold(0)(_._1)
    val grp = s"perfbench-span-$id"
    val desc = s"$layer: $label"
    sc.setJobGroup(grp, desc)
    open = (id, grp, desc) :: open
    val start = Clock.now()
    try body
    finally {
      val end = Clock.now()
      open = open.tail
      open.headOption match {
        case Some((_, g, d)) => sc.setJobGroup(g, d)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, layer, label, parent, pass, start, end)
    }
  }

  /** Adds to a layer counter the benchmark measures itself, such as
    * `explode.rows_out`. */
  def count(name: String, v: Double): Unit =
    counters(name) = counters.getOrElse(name, 0.0) + v

  /** Folds the current pass into per-layer metrics: the eight core
    * counters for every layer in `layers`, plus the streaming, persist
    * and self-measured counters. Call after [[end]]. */
  def layerMetrics(layers: Seq[String]): Map[String, Double] = {
    val called = spans.filter(_.pass == pass).toSeq
    // streaming batches become spans under the layer call they ran in
    val streaming = batches.toSeq.zipWithIndex.map { case ((s, e, _), i) =>
      Span(-1 - i, "streaming", s"batch $i", innermost(called, s).fold(0)(_.id), pass, s, e)
    }
    val all = called ++ streaming
    val byGroup = called.map(s => s"perfbench-span-${s.id}" -> s).toMap
    def owner(grp: String, ms: Long): Option[Span] = {
      val t = ms * 1000000L
      byGroup.get(grp).filter(s => s.start - 1000000L <= t && t <= s.end + 1000000L)
        .orElse(innermost(all, t))
    }
    val children = all.groupBy(_.parent)
    def selfNs(s: Span): Long = s.end - s.start - covered(s, children.getOrElse(s.id, Nil))
    folded ++= all.map(s => s -> selfNs(s))

    val out = mutable.LinkedHashMap[String, Double]()
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    for (l <- layers; k <- Seq("wall_s", "cpu_s", "busy_cores", "jobs", "stages",
                              "shuffle_mb", "spill_mb", "scan_rows")) out(s"$l.$k") = 0.0
    val runMs = mutable.HashMap[String, Double]()
    val peakExec = mutable.HashMap[String, Long]()
    for (s <- all) add(s"${s.layer}.wall_s", selfNs(s) / 1e9)
    for ((g, t) <- jobs.synchronized(jobs.toList); s <- owner(g, t)) add(s"${s.layer}.jobs", 1)
    for (st <- stages.synchronized(stages.values.toList) if st.tasks > 0;
         s <- owner(st.group, st.submitted)) {
      val l = s.layer
      add(s"$l.stages", 1)
      add(s"$l.cpu_s", st.cpuNs / 1e9)
      add(s"$l.shuffle_mb", st.shuffleBytes / 1048576.0)
      add(s"$l.spill_mb", st.spillBytes / 1048576.0)
      add(s"$l.scan_rows", st.scanRows.toDouble)
      runMs(l) = runMs.getOrElse(l, 0.0) + st.runMs
      peakExec(l) = math.max(peakExec.getOrElse(l, 0L), st.peakExec)
    }
    for (l <- layers) {
      val wall = out(s"$l.wall_s")
      out(s"$l.busy_cores") = if (wall > 0) runMs.getOrElse(l, 0.0) / 1000.0 / wall else 0.0
    }
    out("similarity.peak_exec_mb") = peakExec.getOrElse("similarity", 0L) / 1048576.0
    out("streaming.batches") = batches.size.toDouble
    out("streaming.state_rows") = batches.map(_._3).foldLeft(0L)(math.max).toDouble
    val peakCached: Long = blocks.synchronized { cachedPeak }
    out("persist.cached_mb") = peakCached / 1048576.0
    counters.foreach { case (k, v) => out(k) = v }
    out.toMap
  }

  /** Writes every folded span as one JSON line. */
  def write(path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, folded.map { case (s, self) =>
      Json(Map("pass" -> s.pass, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "label" -> s.label, "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> self / 1e9))
    }.asJava)

  /** The deepest span that contains time `t`. */
  private def innermost(ss: Seq[Span], t: Long): Option[Span] = {
    val hits = ss.filter(s => s.start <= t && t <= s.end)
    if (hits.isEmpty) None else Some(hits.minBy(s => s.end - s.start))
  }

  /** Nanoseconds of `s` covered by the union of `kids`' intervals. */
  private def covered(s: Span, kids: Seq[Span]): Long = {
    var total, reach = 0L
    reach = s.start
    for (k <- kids.sortBy(_.start)) {
      val a = math.max(k.start, reach)
      val b = math.min(k.end, s.end)
      if (b > a) { total += b - a; reach = b }
    }
    total
  }
}
