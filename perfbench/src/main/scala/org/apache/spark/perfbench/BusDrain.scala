package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so the
  * traced counters read after an operation hold all of its task, job and
  * query-execution events. The bus is private to Spark; this accessor is
  * the only reason the benchmark has a file in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
