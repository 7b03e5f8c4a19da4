package org.apache.spark

/** Lets the harness wait until the listener bus has delivered every
  * event posted so far, so traced counters are complete when read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
