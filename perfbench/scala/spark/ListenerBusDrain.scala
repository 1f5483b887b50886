package org.apache.spark

/** The listener bus is private to Spark; the bench waits on it so that a
  * traced pass's events are all delivered before its listeners go away.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
