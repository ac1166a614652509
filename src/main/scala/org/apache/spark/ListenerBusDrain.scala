package org.apache.spark

/** Access to the package-private listener-bus drain. The bus is
  * asynchronous, so listener and status-store reads right after an action
  * can miss its last events until the bus is drained. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
