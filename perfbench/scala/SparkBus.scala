package org.apache.spark

/** The listener bus is private to Spark; the benchmark must wait for it to
  * deliver every job and task event before it reads its counters. */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
