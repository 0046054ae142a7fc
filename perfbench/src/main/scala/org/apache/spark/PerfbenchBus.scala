package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private. The
  * traced run drains it before reading listener counters, so every event
  * of the interval it reads has been delivered. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
