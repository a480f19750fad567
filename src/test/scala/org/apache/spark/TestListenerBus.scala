package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Waits until every queued listener event has been delivered, so a job
  * count read right after an action is complete. `listenerBus` is
  * Spark-private, hence this package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val Tag = "graft.spec.jobs"

  /** Spark jobs `f` submits from this thread. */
  def jobsOf(sc: SparkContext)(f: => Any): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(Tag) == tag) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setLocalProperty(Tag, tag)
    try { f; drain(sc); n.get }
    finally { sc.setLocalProperty(Tag, null); sc.removeSparkListener(l) }
  }
}
