package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the tracer reads, both package-private: the
  * listener bus's drain, and the `QueryExecution` an SQL execution-end
  * event carries (the object a `QueryExecutionListener` receives, here
  * together with the execution id that ties it to a span). */
object PerfbenchAccess {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
