package org.apache.spark

/** Test access to the private listener bus: wait until every posted event
  * has reached the listeners. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
