package org.apache.spark

/** Waits until every listener event posted so far has been delivered,
  * so per-unit listener counts are complete before they are read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
