package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait for it
  * to deliver every queued event before it reads what its listeners saw. */
object ListenerBusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
