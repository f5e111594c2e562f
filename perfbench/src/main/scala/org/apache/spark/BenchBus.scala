package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so per-call job attribution is complete when it is read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
