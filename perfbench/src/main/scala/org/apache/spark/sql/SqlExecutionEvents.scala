package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The end-of-execution event carries the finished QueryExecution and the
  * action's name; `QueryExecutionListener` is fed from exactly these
  * fields, which are package-private. Reading them here keeps each
  * action's plan together with its execution id, which its jobs carry. */
object SqlExecutionEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def name(e: SparkListenerSQLExecutionEnd): String = e.executionName.getOrElse("")
}
