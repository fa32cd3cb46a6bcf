package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * traced run reads complete job and task totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
