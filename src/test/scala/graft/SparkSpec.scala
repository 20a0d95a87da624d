package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites; mirrors the Verify/Bench
  * session config (UTC, nanosAsLong for the events fixture). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  /** Jobs started while `body` runs: a listener counter, drained by
    * polling until stable (job-start events post asynchronously). */
  def countJobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1
      var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = n.get
        if (c == prev) stable += 1 else { stable = 0; prev = c }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // same Sessions.local base as the three driver mains, so the config
    // the suites exercise IS the config the graded runs use
    val s = graft.Sessions.local("4")
      .config(graft.sources.Tables.nanosAsLongKey, "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A landed day upserted into history, the `etl_day` shape: `historyDays`
  * days of PipelineFixture orders run through `Main.run` under
  * `root/history_out`, then one day under `root/day_in` whose last ids
  * re-deliver history orders, with `badFiles` corrupt day-files beside it.
  * Returns the day's input dir and the history master to merge into. */
object HistoryDay {
  def land(spark: SparkSession, root: java.nio.file.Path, historyOrders: Int,
           historyDays: Int, orders: Int, badFiles: Int, seed: Long): (String, String) = {
    import java.nio.file.Files
    val day = java.time.LocalDate.of(2024, 1, 15)
    PipelineFixture.write(root.resolve("history_in"), historyOrders, historyDays,
      seed = seed, startDay = day.minusDays(historyDays.toLong))
    val dayIn = root.resolve("day_in")
    PipelineFixture.write(dayIn, orders, 1, seed = seed + 1,
      idBase = historyOrders - orders / 5, startDay = day)
    for (k <- 0 until badFiles)
      Files.writeString(dayIn.resolve(day.toString).resolve(s"broken_$k.json"),
        s"""[{"delivery_order_id": "BAD-$k", "code": trunc""")
    Main.run(spark, root.resolve("history_in").toString, s"$root/history_out")
    (dayIn.toString, s"$root/history_out/delivery_order_master")
  }
}
