package org.apache.spark

/** Blocks until every queued listener event has been delivered, so a
  * listener's counters are complete when they are read. The bus is
  * private to Spark; this shim lives in Spark's package to reach it. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
