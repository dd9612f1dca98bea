package org.apache.spark

/** Blocks until every event posted so far has reached every listener, so a
  * traced pass's counters are complete before they are read. The listener
  * bus is private to Spark; this object lives in Spark's package to reach it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
