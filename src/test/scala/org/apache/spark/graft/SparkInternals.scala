package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Spark-internal readings the specs need, from inside Spark's package. */
object SparkInternals {

  /** Block until every listener event posted so far has been delivered,
    * so counters read afterwards are complete. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  /** Number of generated classes compiled by this JVM so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
