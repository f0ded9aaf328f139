package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The optimized plans of the actions (collects, writes, checkpoints)
  * `body` runs in `spark`. Execution listeners hear of an action
  * through the listener bus, which delivers asynchronously and is
  * private to Spark, hence this package: it is drained before the
  * plans are read. */
object PlansExecuted {
  def during(spark: SparkSession)(body: => Any): Seq[LogicalPlan] = {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try body
    finally {
      spark.sparkContext.listenerBus.waitUntilEmpty()
      spark.listenerManager.unregister(listener)
    }
    plans.asScala.toSeq
  }
}
