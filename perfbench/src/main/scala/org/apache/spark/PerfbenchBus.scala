package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-op job and task counts are complete before they are
  * aggregated. The listener bus is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
