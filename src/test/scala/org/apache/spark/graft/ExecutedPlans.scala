package org.apache.spark.graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed physical plans of the queries and writes a body runs on
  * one session, in completion order. Lives under `org.apache.spark` to
  * drain the listener bus, as [[JobCount]] does: execution listeners are
  * called from it, after the query returns.
  */
object ExecutedPlans {
  def apply(session: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    session.listenerManager.register(l)
    try {
      body
      session.sparkContext.listenerBus.waitUntilEmpty()
      plans.synchronized(plans.toList)
    } finally session.listenerManager.unregister(l)
  }
}
