package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark; code that reads
  * listener counts (ProfileQuery, the listener-asserting specs) drains
  * it through this helper. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
