package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The few package-private Spark members the benchmark's tracer reads. */
object PerfbenchInternals {
  /** Wait until every posted listener event has been handled. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The action's name (`count`, `collect`, `command`, ...). */
  def name(e: SparkListenerSQLExecutionEnd): Option[String] = e.executionName

  /** The Catalyst phases of the execution's query, when it ran in-process. */
  def phases(e: SparkListenerSQLExecutionEnd): Map[String, PhaseSummary] =
    Option(e.qe).map(_.tracker.phases).getOrElse(Map.empty)
}
