package org.apache.spark.sql.graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The optimized plans of the local checkpoints a block cuts, after
  * flushing the listener bus (`waitUntilEmpty` is private[spark], hence
  * this package): a checkpointed frame's own plan no longer shows the
  * projection below it.
  */
object CheckpointPlans {
  def during(spark: SparkSession)(body: => Unit): Seq[LogicalPlan] = {
    val plans = ArrayBuffer.empty[LogicalPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.synchronized(plans += qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(l)
    try body
    finally {
      sc.listenerBus.waitUntilEmpty()
      spark.listenerManager.unregister(l)
    }
    plans.synchronized(plans.toSeq)
  }
}
