package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters of Spark 4's
  * unified Column API, for registering custom Catalyst expressions as
  * Columns (SURVEY.md §7.3). Lives in the spark.sql package namespace on
  * purpose; the public surface stays in graft.*.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Frees the cached blocks of a `localCheckpoint()`ed Dataset.
    * `Dataset.unpersist()` is a no-op for checkpointed plans (the CacheManager
    * never tracked them) — iterative operators must free each round's blocks
    * through the underlying RDD instead, or they accumulate one copy per
    * round until the ContextCleaner gets around to it. Only call this on a
    * MATERIALIZED checkpoint whose data is no longer needed: a localCheckpoint
    * cannot recompute lost blocks.
    */
  def freeCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Block (bounded) until the shared listener bus has delivered every
    * posted event. QueryExecutionListener callbacks — BenchStats' observed
    * masses — arrive via the asynchronous ExecutionListenerBus riding this
    * bus, so a stats snapshot taken right after the last action RACES
    * delivery: a single-query `SPARK_GRAFT_ONLY` probe run has no
    * subsequent work to drain the queue and can record empty/partial
    * stats. `SparkContext.listenerBus` is `private[spark]`, hence the
    * bridge. A timeout (bus wedged behind a slow third-party listener)
    * degrades to the pre-drain behavior rather than hanging the record. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long = 30000L): Unit =
    try spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Build a DataFrame from an InternalRow RDD without the Row round-trip:
    * `Dataset.rdd` deserializes every row through Scala converters (and
    * `createDataFrame(Row)` re-encodes them) — a 4-5× tax on row-at-a-time
    * operators like the distributed prefix sum. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
