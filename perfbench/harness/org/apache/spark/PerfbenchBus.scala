package org.apache.spark

/** The benchmark reads Spark's counters through a listener; listener events
  * are delivered asynchronously, so before it sums a pass it waits for the
  * bus to drain. `listenerBus` is `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
