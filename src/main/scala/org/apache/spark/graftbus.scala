package org.apache.spark

/** Bridge to the context's listener bus, which is `private[spark]`: waits
  * until every queued listener event has been delivered, so a count read
  * after an action is complete (see `graft.ops.Observability.QueryMetrics`). */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
