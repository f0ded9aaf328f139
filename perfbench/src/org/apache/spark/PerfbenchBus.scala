package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener totals cover all work submitted so far. The
  * listener bus is private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
