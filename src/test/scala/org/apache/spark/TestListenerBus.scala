package org.apache.spark

/** Waits until every queued listener event has been delivered, so a job
  * count read right after an action is complete. `listenerBus` is
  * Spark-private, hence this package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
