package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge into Spark's `private[spark]` listener bus and the
  * `private[sql]` fields of an execution's end event, for
  * `graft.obs.Meter`. Lives under org.apache.spark.sql to satisfy the
  * access modifiers. */
object MeterBridge {
  /** Blocks until every listener event posted so far has been
    * delivered. Spark posts an action's job, stage, task and
    * SQL-execution-end events before the action returns, so after this
    * call a listener has seen all of them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The action's name ("collect", "save", ...), if it was given one. */
  def executionName(e: SparkListenerSQLExecutionEnd): Option[String] =
    e.executionName

  /** The plan the execution ran, final once it has run. */
  def executedPlan(e: SparkListenerSQLExecutionEnd): SparkPlan =
    e.qe.executedPlan
}
