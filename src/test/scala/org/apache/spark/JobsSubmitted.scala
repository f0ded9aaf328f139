package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` submits from the calling thread: a job
  * counts when it carries this call's local-property tag, so other
  * threads' jobs never do. The listener bus delivers events
  * asynchronously and is private to Spark, hence this package: it is
  * drained before the count is read. */
object JobsSubmitted {
  private val Key = "graft.test.jobs"

  def during(sc: SparkContext)(body: => Any): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && js.properties.getProperty(Key) == tag)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Key, tag)
    try body
    finally {
      sc.setLocalProperty(Key, null)
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }
}
