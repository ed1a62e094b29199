package org.apache.spark

/** The listener bus is private to Spark; the tracer needs to wait for it
  * to deliver every event before it reads its counters at a boundary. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
