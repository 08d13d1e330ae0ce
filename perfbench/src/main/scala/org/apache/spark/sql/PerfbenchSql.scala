package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The `QueryExecution` that the end event of one SQL execution carries to
  * every `QueryExecutionListener`. Read from the event itself because it
  * also carries the execution id, which maps the action to its job group —
  * a `QueryExecutionListener` callback gets the plan without the id. Lives
  * in `org.apache.spark.sql` only because the field is `private[sql]`. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
