package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's Spark counters are complete when it reads them (the bus
  * is asynchronous and its drain hook is package-private).
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
