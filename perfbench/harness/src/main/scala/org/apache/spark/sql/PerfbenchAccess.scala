package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads. */
object PerfbenchAccess {
  /** Waits until every listener has seen every event posted so far; listener
    * delivery is asynchronous, so traced metrics are read only after this. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution an end event belongs to, from any session of
    * the context (a session's own QueryExecutionListener sees only that
    * session's executions). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
