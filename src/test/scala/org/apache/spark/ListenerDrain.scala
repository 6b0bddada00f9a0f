package org.apache.spark

/** Listener events arrive asynchronously; a spec reads a listener's
  * counters only after every event posted so far has been delivered. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
