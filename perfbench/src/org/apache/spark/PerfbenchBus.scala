package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Listener callbacks run asynchronously on the bus thread; the harness
  * reads its counters only after draining, so no event is lost.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
