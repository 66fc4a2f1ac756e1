package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** X1 — deterministic shard assignment (reference: src/main.rs:714-718),
  * plus the distributed prefix scans of the query surface.
  *
  * The reference splits its scan-order file list into consecutive chunks of
  * `--files-per-db` (default 500); the chunk index is the shard id and the
  * output file name. Directory-iterator order is platform-dependent, so we
  * define scan order as the relative path's ORDER BY order (documented
  * divergence, SURVEY.md §7.4). The cut runs on the driver over the planned
  * file list ([[consecutiveShards]]); no row moves to be sharded.
  */
object Sharding {
  val DefaultFilesPerShard = 500 // reference: src/main.rs:68-69

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

  /** X1: `items` cut into consecutive shards of `filesPerShard` distinct
    * string keys, in Spark's ORDER BY order ([[KeyOrder]]). Element `i` is
    * shard `i`, its items in key order; duplicate keys share a shard. */
  def consecutiveShards[T](items: IndexedSeq[T], filesPerShard: Int)(key: T => String): IndexedSeq[IndexedSeq[T]] = {
    val byKey = items.groupBy(t => UTF8String.fromString(key(t)))
    byKey.keys.toIndexedSeq.sorted(KeyOrder).grouped(filesPerShard).map(_.flatMap(byKey)).toIndexedSeq
  }

  /** ORDER BY's order of string keys: UTF-8 bytes, not `java.lang.String`'s
    * UTF-16 code units, with null first. */
  val KeyOrder: Ordering[UTF8String] = (a, b) =>
    if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
    else a.binaryCompare(b)
}
