package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached the listeners, so a listener's counts are complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
