package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The action name and query execution a SQL execution's end event
  * carries are package-private to Spark SQL; the benchmark reads them
  * to tell the stream sink's executions apart. */
object PerfbenchSql {
  def action(e: SparkListenerSQLExecutionEnd): String = e.executionName.getOrElse("")
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
