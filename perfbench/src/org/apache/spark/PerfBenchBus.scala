package org.apache.spark

/** Blocks until every queued listener event has been delivered, so the
  * traced run's job, task and query spans are complete before they are
  * written out. The listener bus is only reachable from Spark's own
  * package.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
