package org.apache.spark

/** `SparkContext.listenerBus` is private to Spark; specs that assert on
  * listener events drain it through this helper. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
