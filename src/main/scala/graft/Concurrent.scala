package graft

import java.util.UUID

import scala.concurrent.{Await, ExecutionContext, Future, Promise, blocking}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession

/** Independent driver-side Spark actions submitted at once (optimization
  * guide §2.6): Spark's FIFO scheduler back-fills the cores one job's
  * straggler tail leaves idle with the next job's tasks.
  *
  * Fail-fast: the first failure is rethrown as soon as it happens, not
  * after the siblings finish, and the siblings' running jobs are
  * cancelled through a job tag shared by every thunk of the call. A tag
  * rather than a job group, so the caller's job group and description
  * (which tools such as a tracer attribute jobs by) stay as they are.
  * Each worker runs under the caller's group, description and tags,
  * set per call: pool threads otherwise keep whatever properties they
  * inherited from the thread that created them. A job a sibling submits
  * after the cancellation is not stopped; its result is discarded.
  *
  * Thunks run on the global pool, so at most one per core runs at a
  * time; the rest queue. The waits are `blocking`, so a thunk that calls
  * [[all]] itself gets a compensating pool thread instead of starving.
  */
object Concurrent {

  private val inherited = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")

  /** Runs every thunk concurrently and returns their results in order. */
  def all[T](spark: SparkSession)(thunks: Seq[() => T]): Seq[T] = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val sc = spark.sparkContext
    val tag = s"graft-concurrent-${UUID.randomUUID()}"
    val caller = inherited.map(k => k -> sc.getLocalProperty(k))
    val failed = Promise[Seq[T]]()
    val runs = thunks.map { thunk =>
      Future {
        val own = inherited.map(k => k -> sc.getLocalProperty(k))
        caller.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        sc.addJobTag(tag)
        try thunk()
        finally own.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }
    runs.foreach(_.failed.foreach(failed.tryFailure))
    try blocking(Await.result(
      Future.firstCompletedOf(Seq(Future.sequence(runs), failed.future)), Duration.Inf))
    catch {
      case e: Throwable =>
        sc.cancelJobsWithTag(tag)
        throw e
    }
  }
}
