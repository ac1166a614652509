package org.apache.spark

/** The listener bus is asynchronous and `waitUntilEmpty` is package-private
  * to Spark. The benchmark drains it after each call so the listener's
  * per-call counters are complete before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
