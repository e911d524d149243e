package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads, both
  * package-private to Spark, hence this object's package: the listener
  * bus (to wait until every posted event has been delivered, so span
  * counters are complete before they are read) and the query execution
  * a finished SQL execution carries (its planning times and final
  * plan). */
object PerfbenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
