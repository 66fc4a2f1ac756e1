package org.apache.spark

import org.apache.spark.metrics.source.CodegenMetrics

/** Reads of Spark internals the tracer needs: draining the listener bus
  * before a run's figures are read, and the codegen metrics. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)

  /** (compiles, total compile ms, total generated source bytes) so far. */
  def codegen: (Long, Long, Long) = {
    val t = CodegenMetrics.METRIC_COMPILATION_TIME
    (t.getCount, t.getSnapshot.getValues.sum, CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getSnapshot.getValues.sum)
  }
}
