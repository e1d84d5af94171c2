package org.apache.spark

/** The listener bus is private to Spark; code that counts events
  * (`graft.PlanSnap --time`, the specs' job counts) must wait until the bus
  * has delivered everything posted before it reads. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
