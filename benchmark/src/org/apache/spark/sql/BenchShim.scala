package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark internals the traced benchmark run reads: the listener bus, to
  * see every posted event before reporting, and the query execution an
  * SQL-execution-end event carries. Both are package-private to Spark.
  */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def executionOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
