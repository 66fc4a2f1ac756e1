package graft.streaming

import graft.core.GraftSession
import graft.operators.Sharding
import graft.sinks.ParquetShardSink
import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.JoinedRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{IntegerType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming surface over the events schema
  * `(event_id long, ts timestamp, user_id long, event_type string,
  *   value double, props string)`.
  *
  * The transforms are written against plain DataFrames so the SAME code
  * serves the batch queries (Analytics.eventsTumbling / eventsSessionize are
  * their batch twins, oracle-checked) and the streaming path
  * (readStream → transform → writeStream). Watermarks bound state at scale:
  * a 1000-executor job holds only in-flight windows/sessions, never history.
  */
object EventStream {

  /** File-based stream source over a directory of events parquet.
    * `maxFilesPerTrigger` bounds each micro-batch (0 = unlimited) — the
    * upsert-MV entry uses it to force a genuinely multi-batch run. */
  def readEvents(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING")
    (if (maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", maxFilesPerTrigger) else r)
      .parquet(dir)
  }

  /** Tumbling 1-hour window aggregation with a 2-hour watermark: count and
    * value sum per (window, event_type). Late data beyond the watermark is
    * dropped; state is bounded by watermark horizon × type cardinality. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("hour"), col("event_type"), col("n"), col("sum_value"))

  /** Hopping (sliding) 60-minute windows every 30 minutes with a 2-hour
    * watermark: each event lands in TWO windows, so state carries 2× the
    * window keys of [[tumblingCounts]] — still bounded by watermark horizon
    * × type cardinality, never by stream length. The value sum is
    * integer-cents (floor(value·100)) so the emitted aggregate is
    * engine-portable for the oracle gate. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "60 minutes", "30 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(col("win.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /** Streaming OHLC bars: open/close are STRUCT-argmin/argmax over
    * (event-time µs, event_id, value) inside a watermarked 30-minute
    * window aggregation — deterministic first/last BY EVENT TIME with the
    * built-in agg machinery (struct ordering is lexicographic and
    * (ts, event_id) is unique), no flatMapGroupsWithState needed. State =
    * one row per (window, type) within the watermark horizon. Integer-cents
    * volume keeps the sums engine-portable for the oracle gate. */
  def ohlcBars(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .withColumn("ts_us", unix_micros(col("ts")))
      .groupBy(window(col("ts"), "30 minutes").as("win"), col("event_type"))
      .agg(
        min(struct(col("ts_us"), col("event_id"), col("value"))).as("o"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("c"),
        count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("volume_cents"))
      .select(col("win.start").as("bar_start"), col("event_type"),
        col("o.value").as("open"), col("high"), col("low"),
        col("c.value").as("close"), col("n"), col("volume_cents"))

  /** Stream-STATIC enrichment: join the event stream to a static dimension
    * table — the "attach account/user attributes at ingest" shape. The
    * static side is (re)read and broadcast per micro-batch, the join is
    * STATELESS (no watermark, no state store), and rows emit within their
    * data batch. At scale the dimension is the broadcast-sized side by
    * construction; a corpus-sized dimension would make this a
    * stream-stream join instead. */
  def enrichWithDim(events: DataFrame, dim: org.apache.spark.sql.DataFrame,
                    eventKey: String, dimKey: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dim),
      col(eventKey) === col(dimKey))

  /** Streaming exact deduplication: drop repeated `event_id`s with state
    * bounded by the watermark — the streaming form of the pipeline's exact
    * dedup (late duplicates beyond the horizon age out of state instead of
    * accumulating forever). */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming → shard-sink bridge: each micro-batch is written as exact-name
    * shards under `outDir/batch={id}/` via foreachBatch — how the audio
    * pipeline's sink composes with a continuous ingest at scale (one shard
    * set per micro-batch; the batch id makes restarts idempotent). The
    * batch's `audio.path` keys are collected and cut as the pipeline cuts
    * its files (X1); each row then moves to its shard's partition, sorted by
    * path, and the pipeline's Parquet sink (K1) writes it. */
  def shardSinkQuery(
      records: DataFrame,
      outDir: String,
      filesPerShard: Int): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    records.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val paths = batch.select(col("audio.path")).collect().map(_.getString(0)).toIndexedSeq
        val shards = Sharding.consecutiveShards(paths, filesPerShard)(identity)
        val shardOf = shards.zipWithIndex.flatMap { case (ps, i) => ps.map(UTF8String.fromString(_) -> i) }.toMap
        val byShard = new Partitioner {
          val numPartitions: Int = shards.length
          def getPartition(key: Any): Int = shardOf(key.asInstanceOf[UTF8String])
        }
        val audio = batch.schema.fieldIndex("audio")
        val audioType = batch.schema(audio).dataType.asInstanceOf[StructType]
        val path = audioType.fieldIndex("path")
        implicit val byPath: Ordering[UTF8String] = Sharding.KeyOrder
        val rows = batch.queryExecution.toRdd
          .map { r =>
            val c = r.copy() // toRdd reuses its row object
            val a = if (c.isNullAt(audio)) null else c.getStruct(audio, audioType.length)
            (if (a == null || a.isNullAt(path)) null else a.getUTF8String(path), c)
          }
          .repartitionAndSortWithinPartitions(byShard)
          .mapPartitionsWithIndex { (shard, it) =>
            val id = InternalRow(shard)
            it.map { case (_, r) => new JoinedRow(r, id): InternalRow }
          }
        ParquetShardSink.writeShards(rows, batch.schema.add("shard_id", IntegerType, nullable = false),
          s"$outDir/batch=$batchId", GraftSession.hadoopConf(batch.sparkSession.sparkContext, outDir))
      }
    }

  /** Stream-static enrichment: broadcast-join a small dimension frame onto
    * the stream — the dim is re-resolved per micro-batch, never shuffled
    * against the stream (the 100 TB/day shape for slowly-changing lookups). */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Watermarked stream-stream join: each `click` pairs with the same user's
    * `view` at or before it within [[JoinWindowMs]]. Both sides carry
    * watermarks and the join condition carries the time bound, so state for
    * BOTH sides is evicted at the horizon — unbounded-state joins never ship.
    */
  val JoinWindowMs: Long = 30 * 60 * 1000
  /** Watermarked stream-stream interval join. `joinType = "inner"` emits
    * matches eagerly; `"left_outer"` additionally emits never-matched
    * clicks with null view columns ONCE THE WATERMARK EXPIRES their state —
    * the streaming semantics batch joins get for free, and the reason the
    * left-outer entry stages watermark-advancing sentinels on BOTH sides
    * (the outer-null flush waits on the MIN of the two source watermarks).
    * The 1 h watermark delay strictly covers the 30 min join window, so
    * state is never evicted while a match could still arrive. */
  def correlate(clicks: DataFrame, views: DataFrame,
                joinType: String = "inner"): DataFrame = {
    val c = clicks.withWatermark("ts", "1 hour")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"),
        col("value").as("click_value"))
    val v = views.withWatermark("ts", "1 hour")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("view_ts"))
    c.join(v,
      col("user_id") === col("v_user") &&
        col("view_ts") <= col("click_ts") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL ${JoinWindowMs / 1000} SECONDS"),
      joinType)
      .select(col("click_id"), col("view_id"), col("user_id"),
        col("click_ts"), col("view_ts"), col("click_value"))
  }

  /** Update-mode running aggregate per event type — the incremental-
    * materialized-view source: each micro-batch emits the keys whose
    * totals changed, carrying the full new value (integer cents, so the
    * serving numbers are exact at any batch boundary). */
  def incrementalCounts(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100).cast("long")).as("cents"))

  /** Materialize a batch-stamped upsert delta log as the current view:
    * latest batch wins per key. */
  def materializeLatest(deltaLog: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("batch_id").desc)
    deltaLog.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "batch_id")
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, cents: Long)
  final case class Session(user_id: Long, start_us: Long, end_us: Long,
                           n_events: Int, value_cents: Long)

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Exact µs since epoch — `Timestamp.getTime` alone truncates to ms, and
    * the events table carries µs precision; a knife-edge gap within 1 ms of
    * the session boundary would diverge from the batch twin. */
  def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Custom streaming state: per-user sessionization with a 30-minute
    * inactivity gap via flatMapGroupsWithState in EVENT time — a watermark on
    * `ts` drives both late-data handling and session-close timeouts, so
    * behavior is deterministic (no wall-clock dependence) and state is
    * bounded by the watermark horizon. The streaming twin of the
    * oracle-checked Analytics.eventsSessionize, and itself oracle-gated
    * (events_stateful_stream). Gap arithmetic runs on exact µs; values
    * accumulate as integer cents (`floor(value·100)`) so the sum is
    * identical regardless of micro-batch arrival order. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(userId, s.start, s.last, s.n, s.cents)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = micros(e.ts)
              val c = math.floor(e.value * 100).toLong
              cur match {
                case Some(s) if t - s.last <= SessionGapUs =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.cents + c))
                case Some(s) =>
                  closed ::= Session(userId, s.start, s.last, s.n, s.cents)
                  cur = Some(SessionState(t, t, 1, c))
                case None =>
                  cur = Some(SessionState(t, t, 1, c))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // close when the event-time watermark passes last + gap
              // (timeout granularity is ms; round up so it never fires early)
              state.setTimeoutTimestamp((s.last + SessionGapUs) / 1000 + 1)
            }
            closed.reverseIterator
          }
      }
  }
}
