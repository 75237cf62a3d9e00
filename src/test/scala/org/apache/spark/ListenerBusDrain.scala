package org.apache.spark

/** Waits until every listener event posted so far has been delivered
  * (the bus is `private[spark]`, hence this package). Listener callbacks
  * run asynchronously on the bus thread, so a test reads listener counts
  * only after draining.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
