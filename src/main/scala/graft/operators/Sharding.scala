package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** X1 — deterministic shard assignment (reference: src/main.rs:714-718).
  *
  * The reference splits its scan-order file list into consecutive chunks of
  * `--files-per-db` (default 500); the chunk index is the shard id and the
  * output file name. Directory-iterator order is platform-dependent, so we
  * define scan order as ORDER BY the given sort keys (documented divergence,
  * SURVEY.md §7.4).
  *
  * Scale note: a global row_number is a single-partition window — fine for
  * the reference-parity path, but at 1000-executor scale use
  * [[shardByRange]]: zero global ordering bottleneck, same shard sizes.
  */
object Sharding {
  val DefaultFilesPerShard = 500 // reference: src/main.rs:68-69

  /** Exact reference semantics: consecutive chunks in global sort order. */
  def shardConsecutive(df: DataFrame, filesPerShard: Int, order: Column*): DataFrame = {
    val w = Window.orderBy(order: _*)
    df.withColumn("shard_id",
      floor((row_number().over(w) - lit(1)) / lit(filesPerShard)).cast("int"))
  }

  /** Scalable variant: repartitionByRange on the sort key gives ~equal-size,
    * ordered shards without a global window; shard id = partition id. */
  def shardByRange(df: DataFrame, numShards: Int, order: Column*): DataFrame = {
    import org.apache.spark.sql.functions.spark_partition_id
    df.repartitionByRange(numShards, order: _*)
      .withColumn("shard_id", spark_partition_id())
  }

  /** Scalable global cumulative sum: appends `outCol` = running sum of
    * `valueCol` (cast to long) in ascending `orderCol` order, WITHOUT a
    * single-partition window. Range-partition on the order key gives a total
    * order across partitions; per-partition totals (one long per partition)
    * are collected, prefix-scanned on the driver, and broadcast back as
    * offsets — the classic two-pass distributed prefix sum. Data rows only
    * ever move through the one parallel range shuffle.
    */
  def cumSum(df: DataFrame, orderCol: String, valueCol: Column, outCol: String): DataFrame =
    cumSumBy(df, Seq(orderCol), valueCol, outCol)

  /** [[cumSum]] with a composite (lexicographic) ordering — e.g. a running
    * rank over `(group, sort_key, tiebreak)` for distributed per-group
    * ranking without a per-group window. */
  def cumSumBy(df: DataFrame, orderCols: Seq[String], valueCol: Column, outCol: String): DataFrame =
    cumSumByCounted(df, orderCols, valueCol, outCol)._1

  /** [[cumSumBy]] that ALSO returns the grand total (the fold of pass 1's
    * per-partition totals) — already on the driver when the scan runs, so
    * consumers that need "sum of everything" get it for ZERO extra jobs
    * and zero extra input listings. */
  def cumSumByCounted(df: DataFrame, orderCols: Seq[String], valueCol: Column,
      outCol: String): (DataFrame, Long) =
    twoPassScan(df, orderCols, valueCol, outCol,
      zero = 0L, exclusive = false)(_ + _) // null-safe: null values count 0

  /** Scalable global EXCLUSIVE prefix max: appends `outCol` = max of
    * `valueCol` (cast to long) over all rows STRICTLY BEFORE the current one
    * in ascending `orderCols` order — [[Long.MinValue]] for the first row
    * (and anywhere no predecessor carries a non-null value; nulls don't
    * participate). Max is associative, so it rides the same two-pass scan
    * as [[cumSumBy]]; exclusive semantics because the main consumer
    * ([[Skyline.globalSkyline]]) needs "best among strictly earlier keys".
    * (Returns only the frame — the pass-1 fold is a MAX here, not a count.)
    */
  def cumMaxBy(df: DataFrame, orderCols: Seq[String], valueCol: Column, outCol: String): DataFrame =
    twoPassScan(df, orderCols, valueCol, outCol,
      zero = Long.MinValue, exclusive = true)(math.max)._1

  /** The shared two-pass distributed prefix scan over any associative
    * `op` with identity `zero` (null values coalesce to `zero`, so they
    * never perturb the running value): range-partition on the order key
    * for a total order across partitions, reduce one long per partition to
    * the driver, prefix-scan those, broadcast back as per-partition seeds.
    * Data rows only ever move through the one parallel range shuffle —
    * pass 2 reuses the shuffle files. `exclusive` emits the PRE-update
    * running value (prefix over strictly-preceding rows). */
  private def twoPassScan(
      df: DataFrame, orderCols: Seq[String], valueCol: Column, outCol: String,
      zero: Long, exclusive: Boolean)(op: (Long, Long) => Long): (DataFrame, Long) = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    // internal column must be collision-free: withColumn REPLACES an existing
    // name in place, which would silently corrupt the positional reads below
    val tmpCol = Iterator.iterate("_ts_v")(_ + "_").dropWhile(df.columns.contains).next()
    val ranged = df
      .withColumn(tmpCol, coalesce(valueCol.cast("long"), lit(zero)))
      .repartitionByRange(parts, orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    // stay on InternalRow: Dataset.rdd would deserialize every row through
    // Scala converters and createDataFrame would re-encode them — measured
    // 4-5× slower on wide scans. The running value REUSES the appended
    // tmp column's (last, non-null long) slot, renamed to outCol below.
    val vIdx = ranged.schema.length - 1
    val rdd = ranged.queryExecution.toRdd
    // pass 1: one long per partition reaches the driver
    val totals = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        Iterator.single(pid -> it.foldLeft(zero)((a, r) => op(a, r.getLong(vIdx))))
      }
      .collect().toMap
    val n = rdd.getNumPartitions
    val offsets = (0 until n)
      .scanLeft(zero)((acc, pid) => op(acc, totals.getOrElse(pid, zero))).toArray
    val bcOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: the range shuffle's files are reused, not recomputed; each
    // partition streams through with its seed
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc = bcOffsets.value(pid)
      it.map { r =>
        val c = r.copy() // toRdd reuses the row object per partition
        val v = c.getLong(vIdx)
        if (exclusive) { c.setLong(vIdx, acc); acc = op(acc, v) }
        else { acc = op(acc, v); c.setLong(vIdx, acc) }
        c
      }
    }
    (GraftBridge.internalCreateDataFrame(spark, out,
      StructType(df.schema.fields :+ StructField(outCol, LongType, nullable = false))),
      offsets(n)) // the fold over ALL partitions — grand total under `op`
  }

  /** Exact consecutive chunking with no shuffle and no join: the key column
    * is collected once and [[sortAndBound]] picks the shard boundaries. A
    * row's `shard_id` is the number of boundaries ≤ its key, a binary search
    * in a codegen'd projection, so the wide rows never move. Duplicate key
    * values share a shard; a null key sorts first.
    *
    * Driver memory: the key column.
    */
  def shardConsecutiveByKey(df: DataFrame, keyCol: String, filesPerShard: Int): DataFrame = {
    val dt = df.schema(keyCol).dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val keys = df.select(col(keyCol)).collect().map(r => toCatalyst(r.get(0)))
    val (_, bounds) = sortAndBound(keys.toIndexedSeq, dt, filesPerShard)
    df.withColumn("shard_id",
      GraftBridge.column(ShardOf(GraftBridge.expression(col(keyCol)), bounds)))
  }

  /** [[shardConsecutiveByKey]] for items already on the driver: `items` cut
    * into consecutive shards of `filesPerShard` distinct string keys, in
    * Spark's ORDER BY order (UTF-8 byte order, null first). Element `i` is
    * shard `i`, its items in key order. */
  def consecutiveShards[T](items: IndexedSeq[T], filesPerShard: Int)(key: T => String): IndexedSeq[IndexedSeq[T]] = {
    val keys = items.map(t => UTF8String.fromString(key(t)))
    val (order, bounds) = sortAndBound(keys, StringType, filesPerShard)
    val byShard = order.groupBy(i => bounds.shardOf(keys(i)))
    (0 until byShard.size).map(byShard(_).map(items))
  }

  /** Lays out a `shard_id`-carrying frame the way the shard sinks take it:
    * each shard whole in one partition, rows ordered by `shard_id` and then
    * `orderCols`. For frames whose shards were assigned by a projection
    * ([[shardConsecutiveByKey]]); costs an aggregate for the shard count
    * and a shuffle of the rows. */
  def arrange(df: DataFrame, orderCols: String*): DataFrame = {
    val nShards = Option(df.agg(max(col("shard_id"))).head().get(0)).fold(1)(_.asInstanceOf[Int] + 1)
    df.repartition(nShards, col("shard_id"))
      .sortWithinPartitions(col("shard_id") +: orderCols.map(col): _*)
  }

  /** X1's one sort: the permutation that orders `keys` (Catalyst values of
    * `dt`) the way ORDER BY does — for strings that is `UTF8String`'s UTF-8
    * binary order, not `java.lang.String`'s UTF-16 order — with nulls first,
    * and every `filesPerShard`-th distinct key as a shard boundary. */
  private def sortAndBound(
      keys: IndexedSeq[Any], dt: DataType, filesPerShard: Int): (IndexedSeq[Int], ShardBounds) = {
    val ord = TypeUtils.getInterpretedOrdering(dt)
    val (nulls, nonNull) = keys.indices.partition(keys(_) == null)
    val sorted = nonNull.sortBy(keys)(ord)
    val distinct = nulls.take(1).map(keys) ++ sorted.indices.collect {
      case j if j == 0 || !ord.equiv(keys(sorted(j - 1)), keys(sorted(j))) => keys(sorted(j))
    }
    val bounds = (filesPerShard until distinct.length by filesPerShard).map(distinct).toArray
    (nulls ++ sorted, new ShardBounds(bounds, dt))
  }
}

/** Sorted shard boundary keys (Catalyst values of type `dt`). */
private[operators] final class ShardBounds(keys: Array[Any], dt: DataType) extends Serializable {
  @transient private lazy val ord = TypeUtils.getInterpretedOrdering(dt)

  /** Number of boundaries ≤ `key`; null sorts first, so it is shard 0. */
  def shardOf(key: Any): Int = {
    var lo = 0
    var hi = if (key == null) 0 else keys.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.lteq(keys(mid), key)) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** `shard_id` of `child`'s value under `bounds`; never null. */
private case class ShardOf(child: Expression, bounds: ShardBounds) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = bounds.shardOf(child.eval(input))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val key = child.genCode(ctx)
    val b = ctx.addReferenceObj("bounds", bounds)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${key.code}
      int ${ev.value} = $b.shardOf(${key.isNull} ? null : (Object) ${key.value});""")
  }
  override protected def withNewChildInternal(c: Expression): ShardOf = copy(child = c)
}
