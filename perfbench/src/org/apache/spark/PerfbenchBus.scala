package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run aggregates complete spans (the bus is private to Spark).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
