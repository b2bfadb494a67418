package org.apache.spark.sql.graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The engine internals the benchmark reads that the public API
  * hides. Lives under org.apache.spark.sql only for access.
  */
object EngineBridge {

  /** Block until every event posted so far has reached every listener,
    * so counters read afterwards are complete (no sleep-and-hope).
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Dataset cache entries registered with the session's cache manager,
    * materialized or not.
    */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.numCachedEntries

  /** Analysis + optimization + planning milliseconds of a finished SQL
    * execution, when the event still carries its QueryExecution.
    */
  def planningMs(end: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(end.qe).map { qe =>
      val phases = qe.tracker.phases
      Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
    }
}
