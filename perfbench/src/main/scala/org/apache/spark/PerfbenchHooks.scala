package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** The two things the benchmark needs from inside Spark's package:
  * waiting for the listener bus to deliver every queued event, so
  * counters are complete before they are read, and the whole-stage
  * codegen compile histogram. */
object PerfbenchHooks {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compiles so far, their summed compile milliseconds). The histogram
    * keeps a sample, so the sum is its mean times its count. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
