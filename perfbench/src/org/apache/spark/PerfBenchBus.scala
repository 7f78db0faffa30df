package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so per-op Spark metrics are complete before they are read.
  * The listener bus is `private[spark]`; this is its only use. */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
