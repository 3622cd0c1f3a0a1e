package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs
  * one call on it to read a window only after all its events arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
