package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries. Spark keeps it
  * package-private to `org.apache.spark.sql`; it is the only link from a
  * SQL execution id to that execution's planning phases (a
  * QueryExecutionListener receives the QueryExecution but not the
  * execution id, and `QueryExecution.id` is a different counter).
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
