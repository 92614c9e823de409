package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the benchmark reads: the listener bus's drain (to
  * close a measurement window only after its events were delivered) and
  * the QueryExecution an execution-end event carries, which is what
  * Spark's QueryExecutionListener bus is fed from. Reading it here keys
  * each action's planner phases and plan metrics by its SQL execution id,
  * the id its jobs carry.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
  def failed(e: SparkListenerSQLExecutionEnd): Boolean = e.executionFailure.isDefined
}
