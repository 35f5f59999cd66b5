package org.apache.spark

/** The listener bus is private to Spark; a test that counts events must
  * wait for it to deliver every queued one before it reads its listener. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
