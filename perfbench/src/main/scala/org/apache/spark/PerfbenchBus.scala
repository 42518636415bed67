package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark; the tracer needs it
  * drained before it reads its listener's counts. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
