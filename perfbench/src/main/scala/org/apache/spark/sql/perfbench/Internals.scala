package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's engine listener reads. */
object Internals {

  /** Block until every event posted so far has reached every listener, so
    * a span's counts are complete when the span is read.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution behind an execution-end event; its executed plan
    * carries the final adaptive plan and the operators' SQLMetrics.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
