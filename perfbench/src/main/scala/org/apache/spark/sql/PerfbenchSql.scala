package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The QueryExecution an SQL execution-end event carries (the feed that
  * QueryExecutionListeners are called from), which Spark keeps
  * package-private. Null when the event did not come from this JVM. */
object PerfbenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
