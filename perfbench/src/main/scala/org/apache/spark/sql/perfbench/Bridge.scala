package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The benchmark's one seam into Spark internals. */
object Bridge {
  /** Waits until every posted listener event has been delivered, so span
    * counts are final. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning milliseconds of a finished SQL
    * execution, from its query planning tracker. */
  def catalystMs(end: SparkListenerSQLExecutionEnd): Long =
    Option(end.qe).map(_.tracker.phases.values.map(_.durationMs).sum).getOrElse(0L)
}
