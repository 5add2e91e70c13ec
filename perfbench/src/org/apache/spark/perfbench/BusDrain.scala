package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are posted asynchronously; the benchmark drains the bus
  * before it reads per-layer counters, so a batch's last stages are counted
  * in that batch. `listenerBus` is package-private to Spark, hence this
  * package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
