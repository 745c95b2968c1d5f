package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The engine-internal reads the benchmark makes, kept in one place. */
object PerfbenchAccess {
  /** Blocks until the listener bus has delivered every queued event, so
    * counters read after a timed window include all of its events.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression classes compiled by this JVM so far. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
