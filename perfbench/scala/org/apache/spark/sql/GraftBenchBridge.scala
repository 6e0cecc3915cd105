package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the traced run needs. */
object GraftBenchBridge {
  /** Wait until every listener event posted so far has been delivered,
    * so a traced run's per-layer totals are complete before they are
    * summed. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The query execution that an execution-end event closes: its
    * executed plan (with SQL metrics) and its phase tracker. Keyed by
    * the event's execution id, so each execution is recorded once. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
