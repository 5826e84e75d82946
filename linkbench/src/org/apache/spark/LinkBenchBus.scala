package org.apache.spark

/** Waits until the listener bus has delivered every queued event.
 *
 * The traced run reads its listener only after this returns, so every
 * task of a job that has finished is counted. `listenerBus` is private
 * to Spark, hence this package; Spark's own tests use the same call. */
object LinkBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
