package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the traced run needs, and nothing else. */
object PerfbenchAccess {
  /** The listener bus delivers events asynchronously; the traced run reads
    * its counters only after every event posted so far has been handled.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query behind a finished SQL execution, to join plan facts to the
    * execution's jobs.
    */
  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
