package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listeners read, which Spark
  * keeps package-private: the listener bus (to wait until every posted
  * event has been delivered) and the query execution an SQL execution-end
  * event carries (to tie a QueryExecutionListener callback to the
  * execution id its jobs carry). */
object SparkAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryOf(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
