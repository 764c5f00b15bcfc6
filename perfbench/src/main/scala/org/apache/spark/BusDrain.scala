package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so a
  * span's listener totals are complete before they are read. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
