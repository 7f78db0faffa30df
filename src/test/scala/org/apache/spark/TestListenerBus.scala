package org.apache.spark

/** Lets a spec wait until every queued listener event has been delivered,
  * so a job count read after an action is complete. The listener bus is
  * `private[spark]`. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
