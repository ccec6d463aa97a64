package org.apache.spark

/** Blocks until every event posted so far has reached the listeners.
  * Listener delivery is asynchronous, so a trace is complete only after
  * this returns; the bus's drain is not public API.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
