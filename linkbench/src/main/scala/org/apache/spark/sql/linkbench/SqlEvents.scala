package org.apache.spark.sql.linkbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query an execution-end event reports. Spark hands it to its
  * QueryExecutionListeners without the execution id the event carries;
  * reading it off the event keeps the two together. */
object SqlEvents {
  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
