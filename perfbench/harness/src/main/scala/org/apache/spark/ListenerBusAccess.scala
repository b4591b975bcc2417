package org.apache.spark

/** Listener events are delivered asynchronously; counters read right
  * after an action would miss its last events without this wait. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
