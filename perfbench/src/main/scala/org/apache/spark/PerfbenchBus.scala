package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener's counts are complete before they are read. The bus is
  * private to Spark; this accessor lives in Spark's package for that
  * reason alone. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
