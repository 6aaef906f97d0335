package org.apache.spark

/** Waits until every event already posted to the listener bus has been
  * delivered, so a listener removed afterwards has seen all of them. The
  * bus is `private[spark]`, hence this package.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
