package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener totals read afterwards are complete. The bus is private to
  * Spark; this accessor lives in Spark's package for that reason. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
