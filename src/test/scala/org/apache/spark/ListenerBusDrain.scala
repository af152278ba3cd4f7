package org.apache.spark

/** Test-side access to the `private[spark]` listener bus: waits until every
  * posted event has reached its listeners, so a listener's counts are
  * complete when the spec reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
