package org.apache.spark

/** Waits until every event posted so far has reached the listeners
  * (the bus is asynchronous and its drain is package-private), so a
  * spec can read exact job and task counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
