package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is private to Spark; [[graft.obs.QueryMetrics]]
  * reads its numbers only after this returns. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
