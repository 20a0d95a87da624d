package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reads Spark's own always-on application status store, which the
  * untraced passes use for task CPU without registering a listener of
  * their own. Lives in an `org.apache.spark` package because the status
  * store and the listener bus are `private[spark]`. */
object StatusProbe {

  /** Blocks until every queued listener event has been delivered, so
    * the status store (and any registered listener) has seen every task
    * that has ended. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Highest stage id the status store knows, or -1. */
  def lastStageId(sc: SparkContext): Int = {
    drain(sc)
    val ids = sc.statusStore.stageList(null).map(_.stageId)
    if (ids.isEmpty) -1 else ids.max
  }

  /** Summed executor CPU nanoseconds of the stages after `floor`. */
  def cpuNanosAfter(sc: SparkContext, floor: Int): Long = {
    drain(sc)
    sc.statusStore.stageList(null).filter(_.stageId > floor).map(_.executorCpuTime).sum
  }
}
