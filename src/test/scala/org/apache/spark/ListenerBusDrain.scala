package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
 * test's listener has seen every job that has finished. `listenerBus`
 * is private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
