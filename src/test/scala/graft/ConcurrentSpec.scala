package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}

class ConcurrentSpec extends SparkSpec {

  test("a failing thunk is rethrown at once and its sibling's running job ends cancelled") {
    val sc = spark.sparkContext
    val siblingStarted = new CountDownLatch(1)
    val siblingEnded = new CountDownLatch(1)
    val siblingJob = new AtomicReference[Integer]()
    val siblingSucceeded = new AtomicReference[java.lang.Boolean]()
    val siblingError = new AtomicReference[Throwable]()
    val siblingDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "sibling")) {
          siblingJob.set(e.jobId)
          siblingStarted.countDown()
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (siblingJob.get() != null && e.jobId == siblingJob.get().intValue) {
          siblingSucceeded.set(e.jobResult == JobSucceeded)
          siblingEnded.countDown()
        }
    }
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val thrown = intercept[IllegalStateException] {
        Concurrent.all(spark)(Seq(
          { () =>
            sc.setJobDescription("sibling")
            // one task that runs until it is killed (or 60 s pass)
            try spark.range(0, 1, 1, 1).rdd.map { x =>
                val end = System.currentTimeMillis() + 60000
                while (!TaskContext.get().isInterrupted() && System.currentTimeMillis() < end)
                  Thread.sleep(20)
                x
              }.count()
            catch { case e: Throwable => siblingError.set(e); throw e }
            finally siblingDone.countDown()
          },
          { () =>
            assert(siblingStarted.await(30, TimeUnit.SECONDS), "sibling job never started")
            throw new IllegalStateException("boom")
          }))
      }
      val elapsedS = (System.nanoTime() - t0) / 1e9
      assert(thrown.getMessage == "boom")
      assert(elapsedS < 30, s"failure surfaced only after $elapsedS s")
      assert(siblingEnded.await(30, TimeUnit.SECONDS), "sibling job never ended")
      assert(!siblingSucceeded.get(), "sibling job ran to success instead of being cancelled")
      assert(siblingDone.await(30, TimeUnit.SECONDS))
      assert(siblingError.get() != null &&
        siblingError.get().getMessage.toLowerCase.contains("cancel"),
        s"sibling ended with ${siblingError.get()}")
    } finally sc.removeSparkListener(listener)
  }
}
