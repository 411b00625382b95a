package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event.
  * Listener delivery is asynchronous, so per-query counters are read
  * only after this returns. The bus is package-private to Spark, hence
  * this one-line shim in Spark's package.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
