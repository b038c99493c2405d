package org.apache.spark

/** Waits until every queued listener event has been delivered, so per-query
  * task totals are complete before the benchmark reads them.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
