package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event carries its QueryExecution in a package-private
  * field; the traced run reads plan shape and planning time from it. */
object PerfbenchSql {
  def qeOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
