package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Spark-private state the benchmark reads. This object lives in Spark's
  * package so the benchmark can drain the listener bus instead of sleeping. */
object ListenerBusAccess {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whole-stage and expression code compilations so far, and their
    * estimated total seconds (count × the histogram's mean, in ms). */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }
}
