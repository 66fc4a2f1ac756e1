package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Structured Streaming specs: MemoryStream-driven, results compared to the
  * batch twins of the same transforms. */
class StreamingSpec extends SparkSpec {

  // base offset keeps event times away from the epoch-0 initial watermark
  private val Base = 86400000L
  private def ts(minutes: Long) = new java.sql.Timestamp(Base + minutes * 60000L)

  test("streaming tumbling window agg matches the batch computation") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.tumblingCounts(events)
      .writeStream.format("memory").queryName("tumbling").outputMode("complete").start()
    try {
      mem.addData(
        (1L, ts(10), 1L, "click", 1.0, "{}"),
        (2L, ts(20), 1L, "click", 2.0, "{}"),
        (3L, ts(70), 2L, "view", 5.0, "{}"),
        (4L, ts(80), 2L, "click", 7.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("tumbling")
        .orderBy("hour", "event_type")
        .collect().map(r => ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq(
        (0L, "click", 2L, 3.0), (60L, "click", 1L, 7.0), (60L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("file-source streaming: events parquet dir through tumbling agg matches batch") {
    val dir = tmpDir("graft-stream-src")
    // stage the testdata events as a stream source dir (ts normalized to µs)
    val batch = graft.queries.Util.eventsWithTs(spark, "/root/testdata/sf0.001")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    batch.write.mode("overwrite").parquet(dir.getAbsolutePath)
    val streamed = graft.streaming.EventStream.readEvents(spark, dir.getAbsolutePath)
    val q = graft.streaming.EventStream.tumblingCounts(streamed)
      .writeStream.format("memory").queryName("file_tumbling").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("file_tumbling")
        .orderBy("hour", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
      val expect = graft.streaming.EventStream.tumblingCounts(batch)
        .orderBy("hour", "event_type").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSeq
      assert(got.nonEmpty && got == expect)
    } finally q.stop()
  }

  test("streaming hopping windows: every event lands in exactly two windows") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.hoppingCounts(events)
      .writeStream.format("memory").queryName("hopping").outputMode("complete").start()
    try {
      mem.addData(
        (1L, ts(10), 1L, "click", 1.25, "{}"),   // windows -30 and 0
        (2L, ts(40), 1L, "click", 2.50, "{}"),   // windows 0 and 30
        (3L, ts(70), 2L, "view", 5.0, "{}"))     // windows 30 and 60
      q.processAllAvailable()
      val got = spark.table("hopping")
        .orderBy("w_start", "event_type")
        .collect().map(r => ((r.getTimestamp(0).getTime - Base) / 60000,
          r.getString(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == Seq(
        (-30L, "click", 1L, 1.25), (0L, "click", 2L, 3.75),
        (30L, "click", 1L, 2.5), (30L, "view", 1L, 5.0), (60L, "view", 1L, 5.0)))
      // hop = width/2 ⇒ Σn over windows = 2 × event count, exactly
      assert(got.map(_._3).sum == 6L)
    } finally q.stop()
  }

  test("streaming ohlc: open/close picked by EVENT time under out-of-order arrival") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.ohlcBars(events)
      .writeStream.format("memory").queryName("ohlc").outputMode("complete").start()
    try {
      // ARRIVAL order scrambles EVENT order; same-instant tie on t=25
      mem.addData(
        (2L, ts(20), 1L, "trade", 7.0, "{}"),
        (4L, ts(25), 1L, "trade", 9.0, "{}"),
        (1L, ts(10), 1L, "trade", 3.0, "{}"),   // true open (earliest t)
        (3L, ts(25), 1L, "trade", 5.0, "{}"))   // t ties id 4; id 4 > 3 wins close
      q.processAllAvailable()
      val r = spark.table("ohlc").collect()
      assert(r.length == 1)
      val row = r.head
      assert(row.getDouble(2) == 3.0, "open must be the earliest EVENT time")
      assert(row.getDouble(3) == 9.0 && row.getDouble(4) == 3.0)
      assert(row.getDouble(5) == 9.0, "close tie on t must break to larger event_id")
      assert(row.getLong(6) == 4L && row.getLong(7) == 2400L)
    } finally q.stop()
  }

  test("streaming dedup drops repeated event ids within the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = graft.streaming.EventStream.streamingDedup(events)
      .writeStream.format("memory").queryName("deduped").outputMode("append").start()
    try {
      mem.addData(
        (1L, ts(1), 1L, "click", 1.0, "{}"),
        (1L, ts(2), 1L, "click", 1.0, "{}"), // duplicate id, same batch
        (2L, ts(3), 1L, "view", 2.0, "{}"))
      q.processAllAvailable()
      mem.addData((1L, ts(4), 1L, "click", 1.0, "{}")) // duplicate id, later batch
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  /** The `audio.path`s of each `{i}.parquet` under `dir`, in shard order
    * and, within a shard, in file order. */
  private def shardPaths(dir: java.io.File): Seq[Seq[String]] = {
    val files = dir.list().filterNot(_.startsWith(".")).sortBy(_.stripSuffix(".parquet").toInt).toSeq
    assert(files == files.indices.map(i => s"$i.parquet"))
    files.map(f => spark.read.parquet(new java.io.File(dir, f).getAbsolutePath)
      .select("audio.path").collect().map(_.getString(0)).toSeq)
  }

  test("foreachBatch bridge writes exact-name shards per micro-batch; typed facade reads back") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tmpDir("graft-stream-sink")
    val mem = MemoryStream[(String, Int, String, Double, String)]
    val records = mem.toDF().toDF("bytes_s", "sr", "path", "duration", "transcription")
      .select(
        struct(encode(col("bytes_s"), "UTF-8").as("bytes"), col("sr").as("sampling_rate"),
          col("path")).as("audio"),
        col("duration"), col("transcription"))
    val q = graft.streaming.EventStream
      .shardSinkQuery(records, outDir.getAbsolutePath, filesPerShard = 2)
      .option("checkpointLocation", tmpDir("graft-ckpt").getAbsolutePath)
      .start()
    try {
      mem.addData(
        ("aa", 8000, "a.wav", 1.0, "ta"), ("bb", 8000, "b.wav", 2.0, "tb"),
        ("cc", 8000, "c.wav", 3.0, "tc"))
      q.processAllAvailable()
      val batch0 = new java.io.File(outDir, "batch=0")
      val files = batch0.list().filterNot(_.startsWith(".")).sorted.toSeq
      assert(files == Seq("0.parquet", "1.parquet"))
      val typed = graft.core.AudioRecord.fromFrame(
        spark.read.parquet(batch0.getAbsolutePath))
      val recs = typed.collect().sortBy(_.audio.path)
      assert(recs.map(_.audio.path).toSeq == Seq("a.wav", "b.wav", "c.wav"))
      assert(recs.head.transcription == "ta" && recs.head.duration == 1.0)
      assert(shardPaths(batch0) == Seq(Seq("a.wav", "b.wav"), Seq("c.wav")))

      // shard order is UTF-8 byte order, not UTF-16; a repeated path is one key
      mem.addData(
        ("dd", 8000, "😀.wav", 4.0, "td"), ("ee", 8000, "～.wav", 5.0, "te"),
        ("ff", 8000, "b.wav", 6.0, "tf"), ("gg", 8000, "b.wav", 7.0, "tg"))
      q.processAllAvailable()
      val utf8 = Seq("b.wav", "～.wav", "😀.wav")
      assert(utf8.sorted != utf8) // the two orders differ on these paths
      val batch1 = shardPaths(new java.io.File(outDir, "batch=1"))
      assert(batch1.map(_.distinct) == utf8.grouped(2).toSeq) // shard i: the i-th pair of paths
      assert(batch1 == Seq(Seq("b.wav", "b.wav", "～.wav"), Seq("😀.wav"))) // in path order
    } finally q.stop()
  }

  test("stream-static enrich: broadcast dim joins onto the stream per batch") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val q = graft.streaming.EventStream.enrich(events, dim, "user_id")
      .writeStream.format("memory").queryName("enriched").outputMode("append").start()
    try {
      mem.addData((1L, ts(1), 1L, "click", 1.0, "{}"), (2L, ts(2), 3L, "view", 2.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("enriched").orderBy("event_id")
        .collect().map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier")))
      assert(got.toSeq == Seq((1L, "gold"), (2L, null))) // left join keeps unmatched
    } finally q.stop()
  }

  test("stream-stream interval join pairs clicks with preceding views in-window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memC = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val memV = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = graft.streaming.EventStream.correlate(
        memC.toDF().toDF(cols: _*), memV.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("correlated").outputMode("append").start()
    try {
      memV.addData((10L, ts(0), 1L, "view", 0.0, "{}"),   // in window for click@20
        (11L, ts(100), 2L, "view", 0.0, "{}"))            // AFTER click@25 → no pair
      memC.addData((20L, ts(20), 1L, "click", 1.0, "{}"),
        (21L, ts(25), 2L, "click", 2.0, "{}"),
        (22L, ts(55), 1L, "click", 3.0, "{}"))            // view@0 is 55min old → outside 30min
      q.processAllAvailable()
      val got = spark.table("correlated").select("click_id", "view_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(got.toSeq == Seq((20L, 10L)))
    } finally q.stop()
  }

  test("left-outer stream-stream join: matches emit eagerly, unmatched flush on watermark expiry") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val memC = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val memV = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = graft.streaming.EventStream.correlate(
        memC.toDF().toDF(cols: _*), memV.toDF().toDF(cols: _*), joinType = "left_outer")
      .writeStream.format("memory").queryName("loj").outputMode("append").start()
    try {
      memV.addData((10L, ts(0), 1L, "view", 0.0, "{}"),
        (11L, ts(100), 2L, "view", 0.0, "{}"))
      memC.addData((20L, ts(20), 1L, "click", 1.0, "{}"), // pairs with view@0
        (21L, ts(25), 2L, "click", 2.0, "{}"),            // view@100 is later → no pair
        (22L, ts(55), 1L, "click", 3.0, "{}"))            // view@0 outside 30min → no pair
      q.processAllAvailable()
      val eager = spark.table("loj").filter(col("view_id").isNotNull)
        .select("click_id", "view_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(eager.toSeq == Seq((20L, 10L)), "inner matches must emit before any watermark")
      // push BOTH watermarks far past the clicks; the expiry scan runs in
      // the batch AFTER the watermark update, so feed two sentinel rounds
      Seq(200000, 200001).foreach { m =>
        memC.addData((-1L, ts(m), -1L, "sentinel", 0.0, "{}"))
        memV.addData((-2L, ts(m), -2L, "sentinel", 0.0, "{}"))
        q.processAllAvailable()
      }
      val unmatched = spark.table("loj")
        .filter(col("view_id").isNull && col("click_id") >= 0)
        .select("click_id").collect().map(_.getLong(0)).sorted
      assert(unmatched.toSeq == Seq(21L, 22L),
        s"watermark expiry must flush exactly the never-matched clicks, got ${unmatched.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionization closes sessions on gap and emits exact aggregates") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sessions").outputMode("append").start()
    try {
      // user 1: events at t=0,10 then a 60-min gap then t=70 → first session closes
      mem.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(2, ts(10), 1, "click", 2.0))
      q.processAllAvailable()
      mem.addData(Event(3, ts(70), 1, "click", 4.0))
      q.processAllAvailable()
      val got = spark.table("sessions").as[Session].collect().toSeq
      assert(got == Seq(Session(1, Base * 1000, (Base + 10 * 60000) * 1000, 2, 300)))
    } finally q.stop()
  }

  test("update-mode upsert materialization: later batches overwrite served totals") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val logDir = tmpDir("graft_mv_log").getAbsolutePath
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String)]
    val events = mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.incrementalCounts(events)
      .writeStream.outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          batch.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(logDir)
      }
      .start()
    try {
      mem.addData((1L, ts(0), 1L, "click", 1.10, "{}"), (2L, ts(1), 1L, "click", 2.20, "{}"))
      q.processAllAvailable()
      mem.addData((3L, ts(2), 2L, "click", 0.30, "{}"), (4L, ts(3), 2L, "view", 5.00, "{}"))
      q.processAllAvailable()
      val log = spark.read.parquet(logDir)
      // click was updated in BOTH batches — the upsert path is real
      assert(log.filter(col("event_type") === "click").count() == 2)
      val served = EventStream.materializeLatest(log)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(served == Map("click" -> (3L, 360L), "view" -> (1L, 500L)))
    } finally q.stop()
  }

  /** The streaming↔batch equivalence GATE: the availableNow trigger runs the
    * streaming transforms over the real sf0.01 events parquet and the result
    * must equal the oracle-checked batch twins over the same data. A sentinel
    * event far in the future is appended so the final no-data micro-batch
    * advances the watermark past all real data, flushing every window /
    * session; the sentinel's own (never-closed) state is excluded from both
    * sides. This test goes red if streaming and batch semantics ever drift.
    */
  test("availableNow streaming over events parquet equals the batch twins (tumbling + sessions)") {
    val s = spark
    import s.implicits._
    val sfDir = "/root/testdata/sf0.01"
    val dir = tmpDir("graft_stream_eq")
    val evDir = new java.io.File(dir, "events.parquet").getAbsolutePath
    // re-write with a true µs timestamp column (the source parquet is
    // TIMESTAMP(NANOS), which Spark reads as a long under nanosAsLong)
    val src = graft.queries.Util.eventsWithTs(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    src.write.mode("overwrite").parquet(evDir)
    val maxTs = src.agg(max(col("ts"))).head.getTimestamp(0)
    val sentinelUser = 10000000L
    Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000),
        sentinelUser, "sentinel", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(evDir)

    // ---- tumbling windows ----
    val tq = EventStream.tumblingCounts(EventStream.readEvents(spark, evDir))
      .writeStream.format("memory").queryName("eq_tumbling").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(tq.awaitTermination(300000))
    val streamT = spark.table("eq_tumbling")
      .filter(col("event_type") =!= "sentinel")
      .select(unix_timestamp(col("hour")).as("hour_epoch"), col("event_type"),
        col("n"), col("sum_value"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batchT = graft.queries.Analytics.eventsTumbling(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamT.keySet == batchT.keySet)
    streamT.foreach { case (k, (n, sum)) =>
      val (bn, bsum) = batchT(k)
      assert(n == bn, s"count mismatch at $k")
      // batch rounds to cents; streaming sums raw doubles
      assert(math.abs(sum - bsum) <= 0.006, s"sum mismatch at $k: $sum vs $bsum")
    }

    // ---- sessionization ----
    val events = EventStream.readEvents(spark, evDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    val sq = EventStream.sessionize(events)
      .writeStream.format("memory").queryName("eq_sessions").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    assert(sq.awaitTermination(300000))
    val byStart = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("start_us"))
    val streamS = spark.table("eq_sessions")
      .filter(col("user_id") =!= sentinelUser)
      .withColumn("session_id", row_number().over(byStart).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"), col("value_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getInt(2).toLong, r.getLong(3))).toMap
    val streamSessCol = graft.queries.Analytics.eventsSessionize(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamS.keySet == streamSessCol.keySet)
    streamS.foreach { case (k, (n, cents)) =>
      val (bn, bv) = streamSessCol(k)
      assert(n == bn, s"session event-count mismatch at $k")
      // both sides sum floor-cents — EXACT equality, no tolerance
      assert(cents == math.round(bv * 100), s"session value mismatch at $k: $cents vs $bv")
    }
  }
}
