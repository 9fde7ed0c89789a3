package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait until
  * every posted event has reached it before reading its counters. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
