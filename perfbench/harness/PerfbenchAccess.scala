package org.apache.spark

/** Reaches the one `private[spark]` member the traced run needs. */
object PerfbenchAccess {
  /** Blocks until every queued listener event has been delivered, so the
    * traced run's counters are complete when it reads them.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
