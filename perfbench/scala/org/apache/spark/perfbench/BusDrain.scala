package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus drain is private to Spark; the benchmark needs it so
  * that every task-end event of a phase is counted before the phase's
  * counters are read.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
