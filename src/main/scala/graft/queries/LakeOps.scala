package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Lakehouse / scale-layout operator family: storage bucketing, Pareto
  * skyline, interval algebra, changelog compaction, sketch-gated heavy
  * hitters, posting-list document similarity, forward as-of join. Each entry
  * is oracle-checked against DuckDB on the same parquet tables.
  */
object LakeOps {
  type Q = (SparkSession, String) => DataFrame

  /** Bucketed co-located join: both fact tables are written bucketed and
    * sorted by the join key, so the join reads them with zero shuffle of
    * either side (the bucketing is the exchange, paid at layout time).
    * Each call writes the two layouts as managed tables in the process's
    * [[graft.core.EphemeralWarehouse]], repartitioned by the key first so
    * every bucket is one file (Spark trusts bucket sort order only for
    * single-file buckets), and drops them before it returns.
    *
    * Invariants:
    *   - the emitted rows are computed from the source parquet, so they
    *     never depend on the written layout;
    *   - the bucketed aggregate is `require`d equal to the from-source one
    *     (the layout is lossless); both are at most 5 priority rows;
    *   - under `-Dgraft.assertPlans=true` (set by Verify) the join inputs
    *     are `require`d shuffle-free in the session's own configuration.
    */
  val joinBucketed: Q = (s, dir) => {
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "")
    val buckets = 16
    val ordSrc = table(s, dir, "orders").filter(col("o_orderkey") % 4 === 0)
    val liSrc = table(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 0)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val (oName, lName) = (s"graft_b_orders_$nonce", s"graft_b_lineitem_$nonce")
    def aggregate(l: DataFrame, o: DataFrame): DataFrame = l
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_lines"),
        sum(floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"))
    def rows(df: DataFrame): Seq[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    try {
      def layout(df: DataFrame, key: String, name: String): Unit =
        df.repartition(buckets, col(key))
          .write.format("parquet").bucketBy(buckets, key).sortBy(key)
          .saveAsTable(name)
      layout(ordSrc, "o_orderkey", oName)
      layout(liSrc, "l_orderkey", lName)
      val bucketed = aggregate(s.table(lName), s.table(oName))
      // the final groupBy legitimately exchanges once; the bucketed JOIN
      // INPUTS must contribute zero
      requireShuffles(bucketed, 1, "bucketed join inputs must not shuffle")
      val fromSource = aggregate(liSrc, ordSrc)
      val (b, src) = (rows(bucketed), rows(fromSource))
      require(b == src,
        s"bucketed layout lost rows: bucketed=$b source=$src")
      fromSource
    } finally Seq(oName, lName).foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
  }
  val joinBucketedSql =
    """SELECT o_orderpriority, count(*) AS n_lines,
      |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_orderkey % 4 = 0
      |GROUP BY o_orderpriority""".stripMargin

  /** Per-brand Pareto frontier of parts (cheapest price for the largest
    * size): [[graft.operators.Skyline.groupedSkyline]] — per-x reduction +
    * bounded window, never the quadratic NOT EXISTS the oracle runs. */
  val partSkyline: Q = (s, dir) =>
    graft.operators.Skyline.groupedSkyline(
      table(s, dir, "part").select("p_partkey", "p_brand", "p_retailprice", "p_size"),
      Seq("p_brand"), "p_retailprice", "p_size")
      .select("p_partkey", "p_brand", "p_retailprice", "p_size")
  val partSkylineSql =
    """SELECT p_partkey, p_brand, p_retailprice, p_size FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM part q WHERE q.p_brand = p.p_brand
      |  AND q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |  AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""".stripMargin

  /** Interval union (coverage): total µs each user is "active", merging
    * overlapping 5-minute event intervals. The classic sweep — per-user
    * running max of interval ends; each row contributes only its
    * not-already-covered suffix. One shuffle on user_id; per-user windows
    * are small and parallel (the global-sweep variant of this shape is
    * events_concurrency via the two-pass prefix sum). The SUM is
    * order-insensitive under ties, so ORDER BY st alone is deterministic. */
  val intervalUnion: Q = (s, dir) => {
    val iv = eventsWithTs(s, dir)
      .select(col("user_id"), col("ts_us").as("st"), (col("ts_us") + 300000000L).as("en"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("st"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("pm", max(col("en")).over(w))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(greatest(col("en") - greatest(col("st"), coalesce(col("pm"), lit(Long.MinValue))),
          lit(0L))).as("covered_us"))
  }
  val intervalUnionSql =
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS st, epoch_us(ts) + 300000000 AS en FROM events),
      |m AS (SELECT user_id, st, en,
      |        max(en) OVER (PARTITION BY user_id ORDER BY st
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |      FROM iv)
      |SELECT user_id, count(*) AS n_intervals,
      |  CAST(sum(greatest(en - greatest(st, coalesce(pm, -9223372036854775808)), 0)) AS BIGINT)
      |    AS covered_us
      |FROM m GROUP BY user_id""".stripMargin

  /** Changelog compaction (the CDC MERGE shape): replay the event log per
    * key in (ts, event_id) order; the latest entry wins, and a terminal
    * 'error' tombstones the key. One window shuffle on the key — how a
    * lakehouse materializes current state from an append-only log. */
  val eventsCdcApply: Q = (s, dir) => {
    val byKey = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    eventsWithTs(s, dir)
      .withColumn("rn", row_number().over(byKey))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        floor(col("value") * 100).cast("long").as("state_cents"))
  }
  val eventsCdcApplySql =
    """SELECT user_id, event_id AS last_event_id,
      |  CAST(floor(value * 100) AS BIGINT) AS state_cents
      |FROM (SELECT user_id, event_id, event_type, value,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
      |      FROM events)
      |WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  /** Count-min-sketch heavy hitters: the sub-linear frequency sketch (width
    * ⌈e/ε⌉ counters per row, mergeable across partitions — the shuffle
    * carries kilobytes at any data size). The estimate is gated against the
    * exact count: CMS can only OVERcount, by at most ε·N — with a fixed
    * seed the whole claim is deterministic, so the DuckDB oracle asserts it
    * as a literal (same contract style as hll_distinct). */
  val heavyHittersCms: Q = (s, dir) => {
    val ev = table(s, dir, "events").select(col("event_type"))
    val skRow = ev
      .agg(expr("count_min_sketch(event_type, CAST(0.001 AS DOUBLE), CAST(0.99 AS DOUBLE), 42)"))
      .head
    val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("n_exact"))
    // a 0-row input yields a null sketch — and a 0-row exact table, so the
    // gate column's value is never observed; any literal keeps it empty-safe
    val within =
      if (skRow.isNullAt(0)) lit(false)
      else {
        val cms = org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(skRow.getAs[Array[Byte]](0)))
        val est = udf((t: String) => cms.estimateCount(t))
        est(col("event_type")) >= col("n_exact") &&
          est(col("event_type")) <= col("n_exact") + ceil(col("_tot") * 0.001)
      }
    exact.crossJoin(exact.agg(sum(col("n_exact")).as("_tot")))
      .select(col("event_type"), col("n_exact"), within.as("within_bound"))
  }
  val heavyHittersCmsSql =
    """SELECT event_type, count(*) AS n_exact, TRUE AS within_bound
      |FROM events GROUP BY event_type""".stripMargin

  /** Pairwise document similarity via posting lists: term = HASHED 3-gram
    * shingle ([[graft.functions.SpanHashes]] — one compiled pass, and the
    * shuffle keys are 8-byte longs instead of shingle strings), tf per
    * (doc, term), terms blocked to document frequency 2..10 (rare-term
    * blocking — each posting list joins ≤ C(10,2) pairs, so candidates ∝
    * terms, never n² docs), integer idf-ish weight N div df, pair score =
    * Σ tf·tf·w. All integer arithmetic — bit-portable across engines. */
  val tfidfPairSim: Q = (s, dir) => {
    val docs = table(s, dir, "documents")
    // persist the two reused stages (dedup_containment's discipline —
    // round 18 applied it here too): tf feeds the df aggregate AND the
    // posting join; posting feeds both pair-join sides. Without the
    // persists the SpanHashes explode+groupBy executed once per consumer
    // (4 shingling passes in the before-plan, 12 scans); the physical
    // plan shows no ReusedExchange for these subtrees.
    val tf = docs
      .select(col("doc_id"), explode(graft.functions.SpanHashes(col("text"), 3)).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .persist()
    // NOTE (round 19, measured): the cold tf/posting caches are filled by
    // CONCURRENT racing AQE stages (~2× the shingling task mass). An eager
    // count() barrier was tried and REJECTED: +18-19% wall at sf0.1 and
    // sf1 — the duplicate fill rides idle cores, the barrier serializes.
    val w = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, 10))
      .crossJoin(docs.agg(count(lit(1)).as("_n")))
      .select(col("tok"), expr("_n div df").as("wt"))
    val posting = tf.join(w, Seq("tok")).persist()
    val a = posting.select(col("tok"), col("doc_id").as("d1"), col("tf").as("tf1"), col("wt"))
    val b = posting.select(col("tok"), col("doc_id").as("d2"), col("tf").as("tf2"))
    // Materialize the (small, output-bounded) result, then RELEASE the two
    // stage caches (round 19, r18 advice): without this, cleanup relied
    // entirely on the harness's per-query clearCache and a library caller
    // leaked tf+posting forever. The result checkpoint is ∝ output (rare-
    // term-blocked pairs with score ≥ 500 — each posting list joins
    // ≤ C(10,2) pairs, so output ∝ distinct terms, never n² docs), the
    // same class as ConnectedComponents' materialized result.
    val out = a.join(b, Seq("tok"))
      .filter(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(col("tf1") * col("tf2") * col("wt")).as("score"))
      .filter(col("score") >= 500)
      .localCheckpoint()
    tf.unpersist(blocking = false)
    posting.unpersist(blocking = false)
    out
  }
  val tfidfPairSimSql = {
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(${spansOfThSql(3)}) AS tok
       |  FROM (SELECT doc_id, $tokenHashesSql AS th FROM documents)),
       |tfc AS (SELECT doc_id, tok, count(*) AS tf FROM sh GROUP BY 1, 2),
       |w AS (SELECT tok, (SELECT count(*) FROM documents) // count(*) AS wt
       |      FROM tfc GROUP BY tok HAVING count(*) BETWEEN 2 AND 10),
       |p AS (SELECT * FROM tfc JOIN w USING (tok))
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(sum(a.tf * b.tf * a.wt) AS BIGINT) AS score
       |FROM p a JOIN p b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING sum(a.tf * b.tf * a.wt) >= 500""".stripMargin
  }

  /** Forward as-of join: each event pairs with the same user's NEXT
    * purchase at-or-after it ([[graft.operators.AsOfJoin.asOfForward]] —
    * union + one key shuffle + forward-frame carry, no row multiplication).
    * Purchases are pre-deduplicated per (user, instant) as the operator
    * requires. The oracle runs the same union+window composition in SQL. */
  val joinAsofForward: Q = (s, dir) => {
    val ev = eventsWithTs(s, dir).select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = eventsWithTs(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("pt"))
      .agg(min(col("event_id")).as("pid"))
    graft.operators.AsOfJoin.asOfForward(
      ev, purchases, "user_id", "ts_us", "pt", Seq("pid", "pt"))
      .select(col("event_id"), col("user_id"), col("asof_pid").as("next_pid"),
        (col("asof_pt") - col("ts_us")).as("wait_us"))
  }
  val joinAsofForwardSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS pt, min(event_id) AS pid
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id AS k, epoch_us(ts) AS t, 0 AS side, event_id,
      |         CAST(NULL AS BIGINT) AS pid, CAST(NULL AS BIGINT) AS pt
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, pt, 1, NULL, pid, pt FROM p),
      |c AS (SELECT k, t, side, event_id,
      |        first_value(pid IGNORE NULLS) OVER win AS next_pid,
      |        first_value(pt IGNORE NULLS) OVER win AS next_pt
      |      FROM u WINDOW win AS (PARTITION BY k ORDER BY t, side
      |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_id, k AS user_id, next_pid, next_pt - t AS wait_us
      |FROM c WHERE side = 0""".stripMargin

  /** Nearest as-of join: each event pairs with the same user's purchase
    * CLOSEST in time, either direction, backward ties winning
    * ([[graft.operators.AsOfJoin.asOfNearest]] — one key shuffle, two
    * partition-local sorts, both directional carries on running frames).
    * The oracle replays the same dual-carry composition with window SQL. */
  val joinAsofNearest: Q = (s, dir) => {
    val ev = eventsWithTs(s, dir).select(col("event_id"), col("user_id"), col("ts_us"))
    val purchases = eventsWithTs(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts_us").as("pt"))
      .agg(min(col("event_id")).as("pid"))
    graft.operators.AsOfJoin.asOfNearest(
      ev, purchases, "user_id", "ts_us", "pt", Seq("pid"))
      .select(col("event_id"), col("user_id"), col("asof_pid").as("near_pid"),
        abs(col("ts_us") - col("asof_pt")).as("dist_us"))
  }
  val joinAsofNearestSql =
    """WITH p AS (SELECT user_id, epoch_us(ts) AS pt, min(event_id) AS pid
      |           FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
      |u AS (
      |  SELECT user_id AS k, epoch_us(ts) AS t, 1 AS side, event_id,
      |         CAST(NULL AS BIGINT) AS pid, CAST(NULL AS BIGINT) AS pt
      |  FROM events
      |  UNION ALL
      |  SELECT user_id, pt, 0, NULL, pid, pt FROM p),
      |c AS (SELECT k, t, side, event_id,
      |        last_value(pid IGNORE NULLS) OVER wb AS prev_pid,
      |        last_value(pt IGNORE NULLS) OVER wb AS prev_pt,
      |        last_value(pid IGNORE NULLS) OVER wf AS next_pid,
      |        last_value(pt IGNORE NULLS) OVER wf AS next_pt
      |      FROM u WINDOW
      |        wb AS (PARTITION BY k ORDER BY t ASC, side ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |        wf AS (PARTITION BY k ORDER BY t DESC, side ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_id, k AS user_id,
      |  CASE WHEN next_pt IS NULL OR (prev_pt IS NOT NULL AND t - prev_pt <= next_pt - t)
      |       THEN prev_pid ELSE next_pid END AS near_pid,
      |  abs(CASE WHEN next_pt IS NULL OR (prev_pt IS NOT NULL AND t - prev_pt <= next_pt - t)
      |       THEN t - prev_pt ELSE next_pt - t END) AS dist_us
      |FROM c WHERE side = 1""".stripMargin

  /** Global (ungrouped) Pareto frontier — exercises the distributed
    * prefix-max path ([[graft.operators.Skyline.globalSkyline]] over
    * [[graft.operators.Sharding.cumMaxBy]]) through the oracle gate. */
  val partSkylineGlobal: Q = (s, dir) =>
    graft.operators.Skyline.globalSkyline(
      table(s, dir, "part").select("p_partkey", "p_retailprice", "p_size"),
      "p_retailprice", "p_size")
      .select("p_partkey", "p_retailprice", "p_size")
  val partSkylineGlobalSql =
    """SELECT p_partkey, p_retailprice, p_size FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
      |  AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""".stripMargin

  /** Z-order (Morton) clustering — the multi-dimensional data-layout tool:
    * interleave the bit planes of two join/filter dimensions and bucket by
    * the top interleaved bits, so rows close in BOTH dimensions land in the
    * same bucket and per-file min/max statistics prune 2-D range predicates
    * (linear layouts only prune the leading dimension). With 8-bit planes
    * and bucket = the 16-bit z's top 6 bits, a bucket fixes the top 3 bits
    * of EACH dimension, so every bucket's per-dimension span is
    * structurally < 2^5 — emitted as a gated boolean the oracle asserts as
    * a literal. */
  private def mortonBits(xExpr: String, yExpr: String, width: Int): String =
    (0 until width).map { i =>
      s"((($xExpr >> $i) & 1) << ${2 * i}) | ((($yExpr >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")

  val zorderCluster: Q = (s, dir) => {
    // 8-bit planes per dimension (16-bit z); bucket = top 6 z-bits = top 3
    // bits of EACH dimension → per-bucket per-dimension span < 2^5
    val z = mortonBits("(l_partkey % 256)", "(l_suppkey % 256)", 8)
    table(s, dir, "lineitem")
      .select(expr(s"($z) >> 10").as("bucket"),
        (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"),
        min(col("y")).as("y_min"), max(col("y")).as("y_max"))
      .withColumn("within_block",
        col("x_max") - col("x_min") < 32 && col("y_max") - col("y_min") < 32)
  }
  val zorderClusterSql = {
    val z = mortonBits("(l_partkey % 256)", "(l_suppkey % 256)", 8)
    s"""SELECT bucket, count(*) AS n,
       |  min(x) AS x_min, max(x) AS x_max, min(y) AS y_min, max(y) AS y_max,
       |  TRUE AS within_block
       |FROM (SELECT ($z) >> 10 AS bucket,
       |        l_partkey % 256 AS x, l_suppkey % 256 AS y
       |      FROM lineitem)
       |GROUP BY bucket""".stripMargin
  }

  /** Runtime-filter join (semi-join reduction): the selective dimension
    * side folds its join keys into a tiny Bloom bitmap (252 bits as 4
    * longs, 2 probes/key — `decontaminate_bloom`'s constant-memory shape),
    * which broadcasts onto the FACT scan and prunes non-joining rows
    * BEFORE the join's exchange. False positives only cost wasted shuffle
    * rows; the real equi-join behind the filter restores exactness — which
    * is why the oracle is the PLAIN join+aggregate with no Bloom at all:
    * the prefilter must be semantically invisible.
    *
    * This is the explicit, engine-portable form of Spark's own runtime
    * bloom-filter pushdown (`spark.sql.optimizer.runtime.bloomFilter.*`);
    * at 100 TB the bitmap is sized to the dim cardinality (still KBs where
    * a broadcast hash set would be GBs) and the win is the fact-table
    * shuffle shrinking by the dim's selectivity. Integer Lehmer hash
    * (k·48271 mod 2^31−1) — overflow-free in both engines, so even the
    * false-positive pattern is deterministic. PlanPropertySpec pins the
    * probe filter to the scan side below the join. */
  val joinBloomPrefilter: Q = (s, dir) => {
    // Lehmer hash then two bit positions in [0, 252); `div`/`%` on a
    // positive hash — identical expressions on build and probe side
    def b1(key: String) = expr(s"(($key * 48271) % 2147483647) % 252")
    def b2(key: String) = expr(s"((($key * 48271) % 2147483647) div 252) % 252")
    val cust = table(s, dir, "customer")
      .filter(col("c_nationkey") === 7).select(col("c_custkey"))
    val bits = cust
      .select(explode(array(b1("c_custkey"), b2("c_custkey"))).as("bit"))
      .select(expr("bit div 63").as("w"), expr("bit % 63").as("b"))
      .groupBy(col("w"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")).as("word"))
    val aggs = (0 to 3).map(i => max(when(col("w") === i, col("word"))).as(s"bw$i"))
    val bloom = bits.agg(aggs.head, aggs.tail: _*)
    // & 1, not % 2: bits land in [0,62] so words stay non-negative anyway,
    // but the mask form is shift-sign-proof (decontaminate_bloom's rule)
    def hit(bitSql: String) =
      s"(shiftright(coalesce(element_at(array(bw0, bw1, bw2, bw3), " +
        s"CAST(($bitSql) div 63 AS INT) + 1), CAST(0 AS BIGINT)), " +
        s"CAST(($bitSql) % 63 AS INT)) & 1) = 1"
    val b1s = "((o_custkey * 48271) % 2147483647) % 252"
    val b2s = "(((o_custkey * 48271) % 2147483647) div 252) % 252"
    val ordersF = table(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .crossJoin(broadcast(bloom))
      .filter(expr(s"${hit(b1s)} AND ${hit(b2s)}"))
    ordersF.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
  }
  val joinBloomPrefilterSql =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE c_nationkey = 7 GROUP BY o_orderstatus""".stripMargin

  def defs: Map[String, (Q, Option[String])] = Map(
    "join_bloom_prefilter" -> (joinBloomPrefilter, Some(joinBloomPrefilterSql)),
    "join_bucketed" -> (joinBucketed, Some(joinBucketedSql)),
    "part_skyline" -> (partSkyline, Some(partSkylineSql)),
    "interval_union" -> (intervalUnion, Some(intervalUnionSql)),
    "events_cdc_apply" -> (eventsCdcApply, Some(eventsCdcApplySql)),
    "heavy_hitters_cms" -> (heavyHittersCms, Some(heavyHittersCmsSql)),
    "tfidf_pair_sim" -> (tfidfPairSim, Some(tfidfPairSimSql)),
    "join_asof_forward" -> (joinAsofForward, Some(joinAsofForwardSql)),
    "join_asof_nearest" -> (joinAsofNearest, Some(joinAsofNearestSql)),
    "part_skyline_global" -> (partSkylineGlobal, Some(partSkylineGlobalSql)),
    "zorder_cluster" -> (zorderCluster, Some(zorderClusterSql)),
  )
}
