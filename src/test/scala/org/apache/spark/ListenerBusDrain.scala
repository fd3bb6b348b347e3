package org.apache.spark

/** Test access to the listener bus: blocks until every posted event has
  * reached its listeners, so a listener's counts are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
