package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so the engine numbers of a finished call are complete
  * before they are read. The listener bus is private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
