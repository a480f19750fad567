package org.apache.spark

/** Lets the benchmark wait until every queued listener event has been
  * delivered, so job/stage/task totals read after a measured phase are
  * complete. `listenerBus` is Spark-private, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
