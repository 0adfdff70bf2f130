package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's collector reads. They sit in
  * Spark's own package because both are `private[spark]`/`private[sql]`.
  */
object PerfbenchBridge {

  /** The QueryExecution an execution-end event carries (null for events
    * posted without one).
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Block until every listener has seen every event posted so far. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
