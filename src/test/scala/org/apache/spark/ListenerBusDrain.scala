package org.apache.spark

/** Spec helper: block until every event posted so far reached every
  * listener (the bus is asynchronous, and its wait is Spark-internal).
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
