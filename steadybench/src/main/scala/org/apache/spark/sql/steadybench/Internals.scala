package org.apache.spark.sql.steadybench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the tracer needs, reachable only from inside
  * the `org.apache.spark.sql` package. */
object Internals {

  /** The query execution an execution-end event carries (null when the
    * event was replayed without one). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe

  /** Block until every posted listener event has been delivered, so
    * the recorder holds every job, stage and query of the ops that ran. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
