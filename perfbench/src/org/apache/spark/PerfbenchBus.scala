package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark reads complete per-job metrics right after an operation. The
  * bus is private to Spark's own package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
