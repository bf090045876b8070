package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark internals the benchmark's listeners
  * read; it lives in Spark's package to reach them.
  */
object SparkInternals {

  /** Waits until every posted listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis + optimization + planning time of a finished SQL
    * execution, when its query execution is still attached.
    */
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.tracker.phases.valuesIterator.map(_.durationMs).sum)
}
