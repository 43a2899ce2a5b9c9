package org.apache.spark

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed physical plans of every query action a block runs,
  * checkpoints included. Drains the listener bus as [[JobCount]] does, so
  * no query of the block is missed and none from before it leaks in. */
object ExecutedPlans {
  def apply[A](spark: SparkSession)(body: => A): (A, Seq[SparkPlan]) = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.synchronized(plans += qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.sparkContext.listenerBus.waitUntilEmpty()
    spark.listenerManager.register(listener)
    try {
      val a = body
      spark.sparkContext.listenerBus.waitUntilEmpty()
      (a, plans.synchronized(plans.toList))
    } finally spark.listenerManager.unregister(listener)
  }
}
