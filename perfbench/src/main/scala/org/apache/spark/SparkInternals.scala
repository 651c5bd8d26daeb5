package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Reads what Spark keeps package-private: the listener bus, which the
  * trace drains before it aggregates or detaches, and the codegen
  * compilation histogram. */
object SparkInternals {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** (compilations so far, their total time in seconds). The histogram
    * keeps a sample of the timings, so the total is count × sampled mean. */
  def codegenCompiles(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }
}
