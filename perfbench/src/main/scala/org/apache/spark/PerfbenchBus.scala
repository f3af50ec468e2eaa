package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener has seen all jobs of the operations it attributes.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
