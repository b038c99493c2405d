package org.apache.spark

/** Waits until every queued listener event has been delivered, so a test
  * listener has seen every job and task of the calls before it.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
