package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * benchmark's listeners have seen all jobs and tasks of the timed phase.
  * The bus is package-private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
