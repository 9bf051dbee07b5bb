package org.apache.spark.sql.graftshim

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the `private[sql]` fields a SQL execution's end event carries —
  * the same ones Spark's own QueryExecutionListener bus reads — so a plain
  * SparkListener can pair a Dataset action's QueryExecution with the
  * execution id its jobs report (`QueryExecution.id` is a different
  * counter). Used by [[graft.PlanAudit]].
  */
object ExecutionEnd {

  /** The action name and QueryExecution of a Dataset action that
    * succeeded; None for a failed execution or one no Dataset action
    * named.
    */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[(String, QueryExecution)] =
    for {
      action <- e.executionName
      qe <- Option(e.qe)
      if e.executionFailure.isEmpty
    } yield (action, qe)
}
