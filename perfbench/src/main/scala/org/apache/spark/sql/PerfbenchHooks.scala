package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two `private[spark]`/`private[sql]` members the benchmark's tracer reads: the
  * query execution a finished SQL execution carried, and a drain of
  * the listener bus so every event of a phase is counted before the
  * phase's numbers are read. */
object PerfbenchHooks {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
