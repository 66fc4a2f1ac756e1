package graft

import graft.operators.{Multimodal, PathRewriter, Sharding}
import org.apache.spark.sql.functions._

/** Specs for standalone operators: path rewriter (reference:
  * scripts/test_csv_path_rewriter.py), sharding, multimodal decode, and the
  * SQL extension registration. */
class OperatorSpec extends SparkSpec {

  test("path rewriter: LCP-relative paths + basename (Cyrillic preserved)") {
    val s = spark
    import s.implicits._
    // mirrors scripts/test_csv_path_rewriter.py:69-94
    val in = Seq(
      ("/home/devops/a/b/6.wav/6_1.wav", "Він хотів стягти її з вагончика."),
      ("/home/devops/a/b/7.wav/7_1.wav", "друга фраза"),
      ("/home/devops/a/c/8.wav", "третя")
    ).toDF("file_name", "transcription")
    val out = PathRewriter.rewrite(in).orderBy("relative_path").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("6_1.wav", "7_1.wav", "8.wav"))
    assert(out.map(_.getString(1)).toSeq == Seq("b/6.wav/6_1.wav", "b/7.wav/7_1.wav", "c/8.wav"))
    assert(out.map(_.getString(2)).head == "Він хотів стягти її з вагончика.")
  }

  test("eventsWithTs: identical ts_us for ns-long and µs-NTZ event tables") {
    // The driver has shipped events.parquet as TIMESTAMP(NANOS) (read as ns
    // long under nanosAsLong) in rounds ≤6 and as µs TIMESTAMP_NTZ from
    // round 7 — the silent representation flip that dropped 26 queries from
    // the r7/r8 correctness records. Pin both paths to the same µs output.
    val s = spark
    import s.implicits._
    val micros = Seq(0L, 1_000_000L, 1_700_000_000_123_456L)
    val dir = tmpDir("evts")
    Seq(("ns", micros.map(_ * 1000L)), ("ntz", micros)).foreach {
      case ("ns", vals) =>
        vals.toDF("ts").write.mode("overwrite")
          .parquet(s"$dir/ns/events.parquet")
      case (_, vals) =>
        vals.toDF("us")
          .select(timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"))
          .write.mode("overwrite").parquet(s"$dir/ntz/events.parquet")
    }
    val fromNs = graft.queries.Util.eventsWithTs(s, s"$dir/ns")
      .select("ts_us").as[Long].collect().sorted.toSeq
    val fromNtz = graft.queries.Util.eventsWithTs(s, s"$dir/ntz")
      .select("ts_us").as[Long].collect().sorted.toSeq
    assert(fromNs == micros)
    assert(fromNtz == micros)
    // and the normalized `ts` column is a plain TIMESTAMP in both
    Seq(s"$dir/ns", s"$dir/ntz").foreach { d =>
      assert(graft.queries.Util.eventsWithTs(s, d).schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType, d)
    }
  }

  test("path rewriter: explicit base dir wins over LCP") {
    val s = spark
    import s.implicits._
    val in = Seq(("/data/x/1.wav", "a"), ("/data/y/2.wav", "b")).toDF("file_name", "transcription")
    val out = PathRewriter.rewrite(in, Some("/data")).orderBy("file_name").collect()
    assert(out.map(_.getString(1)).toSeq == Seq("x/1.wav", "y/2.wav"))
  }

  test("common dir prefix helper") {
    assert(PathRewriter.commonDirPrefix("/a/b/c/", "/a/b/d/") == "/a/b/")
    assert(PathRewriter.commonDirPrefix("/a/b/", "/a/b/") == "/a/b/")
    assert(PathRewriter.commonDirPrefix("x/1", "y/2") == "")
  }

  test("cumSum: distributed prefix sum equals the window oracle; ranks whole-df") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random values (incl. zeros), keys shuffled across
    // input partitions, non-string order key — exercises the range
    // repartition + offset-broadcast path end to end
    val n = 1000
    val df = (0 until n).map(i => ((i * 7919) % n, (i % 13).toLong))
      .toDF("k", "v").repartition(8)
    val got = Sharding.cumSum(df, "k", col("v"), "cum")
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(2)))
    val oracle = df.orderBy("k").collect().map(_.getLong(1))
      .scanLeft(0L)(_ + _).tail
    assert(got.map(_._2).toSeq == oracle.toSeq)
    assert(got.map(_._1).toSeq == (0 until n)) // every row kept, ordered
    // rank = cumSum of ones; duplicate keys in the data each get a rank
    val ranks = Sharding.cumSum(df, "k", lit(1L), "r")
      .agg(min(col("r")), max(col("r")), count(lit(1))).head()
    assert(ranks.getLong(0) == 1L && ranks.getLong(1) == n.toLong && ranks.getLong(2) == n.toLong)
  }

  test("consecutiveShards: duplicate keys share a shard, rows never multiply") {
    val items = (0 until 90).map(i => (f"k${i % 30}%03d", i)) // 3 rows/key
    val shards = Sharding.consecutiveShards(items, filesPerShard = 10)(_._1)
    assert(shards.flatten.sortBy(_._2) == items) // every row exactly once
    assert(shards.map(s => (s.map(_._1).distinct.size, s.size)) == Seq((10, 30), (10, 30), (10, 30)))
    // a key's rows all land in ONE shard
    assert(shards.flatMap(_.map(_._1).distinct).size == 30)
    assert(shards.flatten.map(_._1) == items.map(_._1).sorted) // in key order
  }

  test("counted scan: pass-1 grand total == count, shard count rides free") {
    val s = spark
    import s.implicits._
    // the CLI's single-listing contract rests on this: the total returned
    // by the counted variants must equal the actual row/key count for
    // every partitioning and for empty input
    for (n <- Seq(0, 1, 37, 500)) {
      val df = (0 until n).map(i => ((i * 7919) % math.max(n, 1), (i % 13).toLong))
        .toDF("k", "v").repartition(8)
      val (withCum, total) =
        Sharding.cumSumByCounted(df, Seq("k"), col("v"), "cum")
      assert(total == (0 until n).map(_ % 13).sum.toLong, s"sum total n=$n")
      assert(withCum.count() == n)
      val keys = (0 until n).map(i => f"k$i%04d")
      val shards = Sharding.consecutiveShards(keys, filesPerShard = 10)(identity)
      assert(shards.map(_.size).sum == n, s"row count n=$n")
      assert(shards.size == (n + 9) / 10, "shard count consistent with the key count")
    }
    // duplicate keys: shards chunk DISTINCT keys
    val dup = (0 until 60).map(i => f"k${i % 20}%03d")
    assert(Sharding.consecutiveShards(dup, 7)(identity).size == 3) // ceil(20 / 7) shards
  }

  test("dedup embedding/semantic: clone-heavy corpus — full clone recall, no dup rows") {
    // The r11 sf100 failure mode in miniature: a corpus where every vector
    // has exact clones (identical → identical sign-LSH buckets in EVERY
    // band). Pins (a) recall: every clone pair must surface with cosine
    // exactly 1.0 (clones can never be separated by any band), and
    // (b) the fused verify-in-join rewrite emits each pair ONCE despite
    // the per-band duplicate collision rows.
    val s = spark
    import s.implicits._
    val dir = tmpDir("clones")
    val nBase = 40; val c = 5
    def vec(b: Int): Seq[Float] =
      (0 until 64).map(i => (((b * 37 + i * 11 + 3) % 17) - 8).toFloat / 8f)
    val rows = for (cl <- 0 until c; b <- 0 until nBase)
      yield ((cl * nBase + b).toLong, vec(b), b)
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val emb = graft.queries.VectorOps.dedupEmbedding(s, dir.getPath)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // no duplicate (a, b) rows survive the per-band collision duplication
    assert(emb.map(p => (p._1, p._2)).distinct.length == emb.length)
    val at = emb.map(p => (p._1, p._2) -> p._3).toMap
    for (b <- 0 until nBase; c1 <- 0 until c; c2 <- c1 + 1 until c) {
      val pair = ((c1 * nBase + b).toLong, (c2 * nBase + b).toLong)
      assert(at.get(pair).contains(1.0), s"clone pair $pair missing or cos != 1")
    }

    val sem = graft.queries.VectorOps.dedupSemantic(s, dir.getPath)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val semAt = sem.map(t => t._1 -> t).toMap
    assert(sem.map(_._1).distinct.length == sem.length) // one row per dropped doc
    for (id <- nBase until nBase * c) {  // every non-first clone is dropped
      val t = semAt.getOrElse(id.toLong, fail(s"clone $id not reported as dup"))
      assert(t._2 < id && t._3 == 1.0, s"clone $id: dup_of/max_cosine wrong: $t")
    }
  }

  test("multimodal decode: stub kernel over binary column, null-safe") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", "hello"), ("b", null)).toDF("id", "txt")
      .select(col("id"), encode(col("txt"), "UTF-8").as("payload"))
    val out = Multimodal.decodeBinary(df, "payload").orderBy("id").collect()
    assert(out(0).getStruct(2).getInt(0) == 5) // n_bytes
    assert(out(0).getStruct(2).getLong(1) ==
      graft.functions.CharFoldHash.hash("hello")) // ascii text: byte-fold == char-fold
    assert(out(1).get(2) == null)
  }

  test("multimodal decode: real PCM sample rms for WAV payloads, stub fallback otherwise") {
    val s = spark
    import s.implicits._
    val wav = graft.functions.Wav.synthPcmWav(16000, 100)
    val sq = (0 until 100).map { i =>
      val v = ((i * 2654435761L) % 65536L - 32768L).toDouble; v * v
    }.sum
    val df = Seq(("t", "hello".getBytes("UTF-8")), ("w", wav)).toDF("id", "payload")
    val out = Multimodal.decodeBinary(df, "payload").orderBy("id").collect()
    val txt = out(0).getStruct(2)
    val dec = out(1).getStruct(2)
    assert(dec.getDouble(4) == math.sqrt(sq / 100)) // true sample RMS, not byte RMS
    assert(dec.getInt(5) == 16000)                  // sampling_rate from the header
    assert(dec.getDouble(6) == 100.0 / 16000)       // duration = frames / rate
    assert(txt.getInt(5) == 0 && txt.getDouble(6) == 0.0) // non-WAV → stub path
  }

  test("rank-select percentile: bit-equal to Spark's percentile() object agg") {
    val s = spark
    import s.implicits._
    // awkward sizes: n=1, n=2, ties, and a group where p*(n-1) is integral
    val df = Seq(
      ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 7.5), ("a", 9.25),
      ("b", 3.0),
      ("c", 4.0), ("c", 5.0),
      ("d", 1.1), ("d", 2.2), ("d", 3.3), ("d", 4.4)).toDF("g", "v")
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p25" -> 0.25, "p0" -> 0.0, "p100" -> 1.0)
    val got = graft.operators.RankSelect.percentileCont(df, "g", "v", ps)
      .orderBy("g").collect()
    val exp = df.groupBy(col("g")).agg(
        expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 0.9)").as("p90"),
        expr("percentile(v, 0.25)").as("p25"), expr("percentile(v, 0.0)").as("p0"),
        expr("percentile(v, 1.0)").as("p100"))
      .orderBy("g").collect()
    got.zip(exp).foreach { case (g, e) =>
      assert(g.getString(0) == e.getString(0))
      ps.indices.foreach { i =>
        assert(g.getDouble(i + 2) == e.getDouble(i + 1), // EXACT double equality
          s"group ${g.getString(0)} p=${ps(i)._1}: ${g.getDouble(i + 2)} vs ${e.getDouble(i + 1)}")
      }
    }
  }

  test("valueAtRanks: histogram selection == driver-side sort on random data (ties, nulls, tiny groups)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(42)
    (0 until 6).foreach { trial =>
      val nGroups = 1 + rnd.nextInt(4)
      val rows = (0 until 1 + rnd.nextInt(400)).map { _ =>
        val g = s"g${rnd.nextInt(nGroups)}"
        // heavy tie mass + occasional nulls + a constant-valued group g0
        val v: Option[Double] =
          if (rnd.nextInt(10) == 0) None
          else if (g == "g0") Some(7.0)
          else Some((rnd.nextInt(40) / 4.0))
        (g, v)
      }
      val df = rows.toDF("g", "v").repartition(7)
      // request every rank of a few groups (exhaustive), tiny bucket count
      // to force multi-rank probes inside one bucket
      val byG = rows.groupBy(_._1)
      def ranksOf(n: Long, nNull: Long): Seq[(String, Long)] =
        (1L to n).map(r => (s"r$r", r))
      val got = graft.operators.RankSelect
        .valueAtRanks(df, "g", "v", ranksOf, buckets = 4)
        .collect()
        .map(r => (r.getString(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        .sortBy(t => (t._1, t._2.drop(1).toInt))
      // reference: full sort, NULLS FIRST, value at each 1-based rank
      val want = byG.toSeq.flatMap { case (g, rs) =>
        val sorted = rs.map(_._2).sortBy(v => (v.isDefined, v.getOrElse(0.0)))
        sorted.zipWithIndex.map { case (v, i) => (g, s"r${i + 1}", v) }
      }.sortBy(t => (t._1, t._2.drop(1).toInt))
      assert(got.toSeq == want, s"trial $trial: ${got.toSeq} != $want")
    }
  }

  test("sql extension: char_fold_hash registered and codegen result matches scala") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT char_fold_hash('abc') AS h").head().getLong(0)
    assert(r == graft.functions.CharFoldHash.hash("abc"))
    assert(r == 304891L) // pinned against the DuckDB list_reduce oracle form
    val d = spark.sql("SELECT vector_dot(array(1.0d, 2.0d), array(3.0d, 0.5d)) AS d")
      .head().getDouble(0)
    assert(d == 4.0)
  }

  test("as-of join: latest right row at or before each left time, per key") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (2L, 5L, "e3"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 10L, "r@10"), (1L, 15L, "r@15"), (2L, 7L, "r@7"))
      .toDF("k", "rt", "payload")
    val out = graft.operators.AsOfJoin
      .asOf(left, right, "k", "t", "rt", Seq("payload"))
      .orderBy("ev").collect().map(r => (r.getAs[String]("ev"), r.getAs[String]("asof_payload")))
    // e1 at t=10 matches r@10 (inclusive); e2 picks the later r@15;
    // e3 at t=5 precedes every right row → null
    assert(out.toSeq == Seq(("e1", "r@10"), ("e2", "r@15"), ("e3", null)))
  }

  test("as-of join: NULL payload values carry atomically with their row") {
    val s = spark
    import s.implicits._
    // The matched (most recent) right row at t=15 has payload a=NULL, b="B2".
    // A per-column carry would resurrect a=A1 from the OLDER t=10 row and
    // emit a mixed (A1, B2) row; the whole-row carry must yield (NULL, B2).
    val left = Seq((1L, 20L, "e1")).toDF("k", "t", "ev")
    val right = Seq(
      (1L, 10L, Some("A1"), Some("B1")),
      (1L, 15L, None: Option[String], Some("B2"))
    ).toDF("k", "rt", "a", "b")
    val out = graft.operators.AsOfJoin
      .asOf(left, right, "k", "t", "rt", Seq("a", "b")).collect().head
    assert(out.getAs[String]("asof_a") == null)
    assert(out.getAs[String]("asof_b") == "B2")
  }

  test("range join: bucketed composition equals naive BETWEEN join") {
    val s = spark
    import s.implicits._
    val points = (0 until 100).map(i => (i.toLong, i * 1.37)).toDF("pid", "v")
    val ranges = Seq((0L, 5.0, 30.0), (1L, 25.0, 26.0), (2L, 90.0, 200.0)).toDF("rid", "lo", "hi")
    val bucketed = graft.operators.RangeJoin.joinRange(points, "v", ranges, "lo", "hi", 10.0)
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = points.join(ranges, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("pid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed == naive && naive.nonEmpty)
  }

  test("vector dot: native expression matches the portable fold bit-for-bit") {
    val s = spark
    import s.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 0.5, -1.0))).toDF("a", "b")
    val native = df.select(graft.functions.VectorDot(col("a"), col("b"))).head().getDouble(0)
    val portable = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y), lit(0.0), (acc, x) => acc + x))
      .head().getDouble(0)
    assert(native == 2.0 && portable == native)
    // null element contributes 0; null array → null
    val withNulls = Seq((Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](5.0, 7.0)))
      .toDF("a", "b")
    assert(withNulls.select(graft.functions.VectorDot(col("a"), col("b"))).head().getDouble(0) == 5.0)
    val nullArr = df.select(graft.functions.VectorDot(lit(null).cast("array<double>"), col("b")))
    assert(nullArr.head().isNullAt(0))
  }

  test("optimizer rule rewrites the portable char-fold into CharFoldHash") {
    val s = spark
    import s.implicits._
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.CharFoldRewrite
    try {
      // parquet-backed source: a literal Seq would be constant-folded to a
      // LocalRelation before the rule could fire
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(col("doc_id") < 5).select(col("text"))
      val df = docs.select(aggregate(split(col("text"), ""), lit(7L),
        (acc, ch) => (acc * lit(31L) + ascii(ch)) % lit(1000000007L)).as("h"))
      val optimized = df.queryExecution.optimizedPlan
      assert(optimized.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.CharFoldHash])),
        s"rule did not fire:\n$optimized")
      val expected = docs.collect().map(r =>
        graft.functions.CharFoldHash.hash(r.getString(0))).toSeq
      assert(df.collect().map(_.getLong(0)).toSeq == expected)
      // a DIFFERENT fold (init 8) must NOT be rewritten
      val other = docs.select(aggregate(split(col("text"), ""), lit(8L),
        (acc, ch) => (acc * lit(31L) + ascii(ch)) % lit(1000000007L)).as("h"))
      assert(!other.queryExecution.optimizedPlan.expressions.exists(_.exists(
        _.isInstanceOf[graft.functions.CharFoldHash])))
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == graft.plans.CharFoldRewrite)
    }
  }

  test("bfs: hop distances match a reference search on path, cycle, dag, random") {
    val s = spark
    import s.implicits._
    import graft.operators.Bfs
    // reference: sequential multi-source BFS (directed), truncated at maxHops
    def ref(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Map[Long, Int] = {
      val adj = edges.distinct.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      var dist = seeds.distinct.map(_ -> 0).toMap
      var frontier = seeds.distinct
      var h = 0
      while (frontier.nonEmpty && h < maxHops) {
        h += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Nil)).distinct
          .filterNot(dist.contains)
        dist ++= next.map(_ -> h)
        frontier = next
      }
      dist
    }
    def check(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int): Unit = {
      val got = Bfs.run(edges.toDF("src", "dst"), seeds.toDF("id"), maxHops)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == ref(edges, seeds, maxHops), s"divergence on seeds=$seeds maxHops=$maxHops")
    }
    val path = (0L until 10L).map(i => (i, i + 1))
    check(path, Seq(0L), maxHops = 4)  // truncation: nodes 5..10 unreached
    check(path, Seq(0L, 7L), maxHops = 4) // multi-source: 8..10 via the second seed
    check(path ++ path.map(_.swap), Seq(5L), maxHops = 3) // undirected walk both ways
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    check(cycle, Seq(0L), maxHops = 10) // cycle terminates at diameter, not maxHops
    check(Seq((1L, 2L)), Seq(9L), maxHops = 3) // seed disconnected from all edges
    val rnd = (0 until 50).map(i => (((i * 7919) % 20).toLong, ((i * 104729) % 20).toLong))
      .filter { case (a, b) => a != b }
    check(rnd, Seq(0L, 13L), maxHops = 3)
    check(rnd ++ rnd, Seq(0L), maxHops = 2) // duplicate edges collapse
  }

  test("connected components: large-star/small-star equals min-label on path, cliques, random") {
    val s = spark
    import s.implicits._
    import graft.operators.ConnectedComponents
    def check(nodes: Seq[Long], edges: Seq[(Long, Long)], maxIter: Int = 20): Unit = {
      val n = nodes.toDF("id")
      val e = edges.toDF("src", "dst")
      val a = ConnectedComponents.run(n, e, maxIter).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val b = ConnectedComponents.runStar(n, e).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(a == b, s"divergence on ${edges.take(5)}...")
      assert(a.nonEmpty && a.forall { case (id, comp) => comp <= id })
    }
    // long path: the O(diameter) worst case for min-label (59 rounds) vs
    // O(log n) for the star rounds
    check(0L until 60L, (0L until 59L).map(i => (i, i + 1)), maxIter = 80)
    // two cliques + isolated nodes
    check(0L until 12L,
      (for (i <- 0 until 4; j <- i + 1 until 4) yield (i.toLong, j.toLong)) ++
      (for (i <- 5 until 9; j <- i + 1 until 9) yield (i.toLong, j.toLong)))
    // deterministic pseudo-random graph
    val rnd = (0 until 40).map(i => (((i * 7919) % 30).toLong, ((i * 104729) % 30).toLong))
      .filter { case (a, b) => a != b }
    check(0L until 30L, rnd)
  }

  test("bpe apply: rank-order merges segment deterministically; counts match") {
    val s = spark
    import s.implicits._
    import graft.functions.Bpe
    val df = Seq("the and ing data xyz").toDF("text")
    val enc = df.select(Bpe.encodeCol(col("text"))).head().getString(0)
    val words = enc.split(" ").map(_.split(Bpe.Sep).toSeq).toSeq
    // th+e→the, an+d→and, in+g→ing fully merge; data → [dat, a]; xyz → chars
    assert(words == Seq(Seq("the"), Seq("and"), Seq("ing"), Seq("dat", "a"), Seq("x", "y", "z")))
    val n = df.select(Bpe.tokenCountCol(col("text"))).head().getLong(0)
    assert(n == words.map(_.size).sum)
  }

  test("char-fold hash: native == portable (split+ascii) for non-BMP text") {
    val s = spark
    import s.implicits._
    // Emoji are routine in LLM corpora: the fold must iterate CODEPOINTS
    // (split("") never splits a surrogate pair; ascii() yields the first
    // code point), not UTF-16 units — or minhash/simhash/fingerprint flip
    // vs the user's written query once the rewrite rule is enabled.
    val texts = Seq("emoji 😀 end", "ascii only", "кирилица", "混合 🤖 text")
    val df = texts.toDF("t").repartition(2) // off the LocalRelation fast path
    val portable = df.select(aggregate(split(col("t"), ""), lit(7L),
      (acc, ch) => (acc * lit(31L) + ascii(ch)) % lit(1000000007L))).collect().map(_.getLong(0))
    val native = df.select(graft.functions.CharFoldHash(col("t"))).collect().map(_.getLong(0))
    val interpreted = df.collect().map(r => graft.functions.CharFoldHash.hash(r.getString(0)))
    assert(portable.toSeq == native.toSeq)
    assert(native.toSeq == interpreted.toSeq)
    assert(graft.functions.CharFoldHash.hash("emoji 😀 end") == 260912962L)
  }

  test("hashed linear score: fused pass == composable HOF form, incl. edges") {
    val s = spark
    import s.implicits._
    val B = graft.queries.TextOps.ClassifierBuckets
    val texts = Seq(
      "the quick brown fox", "", " ", "one", "a  b", // empty tokens kept
      "emoji 😀 end", "кирилица текст", "混合 🤖 text")
    val df = texts.toDF("t").repartition(2)
    // composable twin: per-token char-fold → bucket → pseudo-weight → sum.
    // Uses the NATIVE CharFoldHash on each token (hash("") = 7, the
    // SpanHashes convention): a split("")+ascii() fold instead folds one
    // phantom ascii-0 char for EMPTY tokens (hash 217) — the documented
    // empty-token caveat of the portable form.
    val hof = df.select(aggregate(
      transform(split(col("t"), " "), t => graft.functions.CharFoldHash(t)),
      lit(0L),
      (acc, h) => acc + (((h % B) * lit(2654435761L)) % 2001L - 1000L)))
      .collect().map(_.getLong(0))
    val fused = df.select(graft.functions.HashedLinearScore(col("t"), B))
      .collect().map(_.getLong(0))
    assert(hof.toSeq == fused.toSeq)
    // weights span both signs and stay in [-1000, 1000]
    val ws = (0 until B).map(b => graft.functions.HashedLinearScore.weight(b.toLong, B))
    assert(ws.forall(w => w >= -1000 && w <= 1000))
    assert(ws.exists(_ < 0) && ws.exists(_ > 0))
  }

  test("dedup_incremental: batch-only output, store hit ids, both verdicts") {
    val out = graft.queries.TextOps
      .dedupIncremental(spark, "/root/testdata/sf0.001").collect()
    val storeMax = graft.queries.TextOps.IncrementalStoreMax
    assert(out.nonEmpty && out.forall(_.getLong(0) >= storeMax))
    val dups = out.filter(_.getLong(2) == 1L)
    val fresh = out.filter(_.getLong(2) == 0L)
    assert(dups.nonEmpty, "fixture must contain cross-boundary duplicates")
    assert(fresh.nonEmpty, "fixture must contain genuinely new docs")
    assert(dups.forall(r => !r.isNullAt(3) && r.getLong(3) < storeMax))
    assert(fresh.forall(_.isNullAt(3)))
  }

  test("mm_interleave: every registry item packed exactly once, lists ordered") {
    val out = graft.queries.MultimodalOps
      .mmInterleave(spark, "/root/testdata/sf0.001").collect()
    val total = out.map(_.getLong(1)).sum
    val nVec = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet").count()
    assert(total == nVec, "every media item must land in exactly one sample")
    out.foreach { r =>
      // lists ride as JSON text (driver-comparator house rule) — parse back
      val ids = r.getString(2).stripPrefix("[").stripSuffix("]") match {
        case "" => Seq.empty[Long]
        case s0 => s0.split(",").toSeq.map(_.trim.toLong)
      }
      assert(ids.length == r.getLong(1).toInt)
      assert(ids == ids.sorted, "attachment lists must be deterministic")
      assert(ids.forall(v => (v * 7) % 500 == r.getLong(0)))
    }
  }

  test("span hashes: fused pass == the composable HOF chain, incl. edge shapes") {
    val s = spark
    import s.implicits._
    import graft.functions.SpanHashes
    val texts = Seq(
      "a b c d e f g h i j k l",   // 12 tokens -> 3 spans of 10
      "one two three",             // short -> no spans
      "",                          // one empty token
      "x  y   z q w e r t y u i",  // consecutive spaces = empty tokens kept
      "emoji 😀 in a span a b c d e f g",
      "exactly ten tokens here now q w e r t")
    val df = texts.toDF("text").repartition(2)
    val hof = df.select(
      transform(split(col("text"), " "), t => graft.functions.CharFoldHash(t)).as("th"))
      .select(expr(
        """CASE WHEN size(th) < 10 THEN array()
          |ELSE transform(sequence(1, size(th) - 9),
          |  i -> aggregate(slice(th, i + 1, 9), element_at(th, i),
          |                 (a, x) -> (a * 31 + x) % 1000000007L)) END""".stripMargin))
      .collect().map(_.getSeq[Long](0))
    val fused = df.select(SpanHashes(col("text"), 10))
      .collect().map(_.getSeq[Long](0))
    assert(hof.map(_.toList).toList == fused.map(_.toList).toList)
    // SQL registration round-trip
    graft.GraftExtensions.register(s)
    val viaSql = s.sql(
      "SELECT span_hashes('a b c d e f g h i j k l', 10)").head().getSeq[Long](0)
    assert(viaSql.length == 3)
    // width 1 degenerates to the per-token char-fold hashes
    val w1 = df.select(SpanHashes(col("text"), 1)).collect().map(_.getSeq[Long](0))
    val tok = df.select(
        transform(split(col("text"), " "), t => graft.functions.CharFoldHash(t)))
      .collect().map(_.getSeq[Long](0))
    assert(w1.map(_.toList).toList == tok.map(_.toList).toList)
  }

  test("sql extension arg validation: clear analysis errors, not raw casts") {
    val s = spark
    graft.GraftExtensions.register(s)
    // BIGINT width literal is accepted (was a raw ClassCastException)
    assert(s.sql("SELECT span_hashes('a b c', CAST(2 AS BIGINT))")
      .head().getSeq[Long](0).length == 2)
    def analysisMsg(q: String): String =
      intercept[org.apache.spark.sql.AnalysisException](s.sql(q).collect()).getMessage
    assert(analysisMsg("SELECT span_hashes('a b c')").contains("exactly 2"))
    assert(analysisMsg("SELECT span_hashes('a b c', 'x')").contains("width"))
    assert(analysisMsg("SELECT span_hashes(t, length(t)) FROM (SELECT 'a b' AS t)")
      .contains("constant"))
    assert(analysisMsg("SELECT char_fold_hash('a', 'b')").contains("exactly 1"))
    // range too: SpanHashes' own require() must not escape the builder raw
    assert(analysisMsg("SELECT span_hashes('a b', 0)").contains(">= 1"))
    // upper bound: k sizes a struct and O(k)-per-shingle work — a huge SQL
    // literal must fail analysis, not hang/OOM execution
    assert(analysisMsg("SELECT min_hash_sig('a b c', 3, 100000000)").contains("<= 1024"))
    assert(analysisMsg("SELECT span_hashes('a b', 100000)").contains("<= 1024"))
  }

  test("minhash sig: fused expression == explode+min over SpanHashes, incl. short docs") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"),                       // < 3 tokens: no shingles → absent
      (3L, "x y z"),                     // exactly one shingle
      (4L, "dup dup dup dup dup"),       // duplicated shingles
      (5L, "")).toDF("doc_id", "text")
    val k = 8
    val fusedDf = docs.select(col("doc_id"),
        graft.functions.MinHashSig(col("text"), 3, k).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until k).map(j => col(s"sig.sig$j")): _*)
    val exploded = docs
      .select(col("doc_id"), explode(graft.functions.SpanHashes(col("text"), 3)).as("h"))
      .groupBy(col("doc_id"))
      .agg(
        min((col("h") * lit(graft.functions.MinHashSig.a(0)) +
          lit(graft.functions.MinHashSig.b(0))) % lit(graft.functions.MinHashSig.P)),
        (1 until k).map(j =>
          min((col("h") * lit(graft.functions.MinHashSig.a(j)) +
            lit(graft.functions.MinHashSig.b(j))) % lit(graft.functions.MinHashSig.P))): _*)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (0 until k + 1).map(r.getLong).toList).sortBy(_.head).toList
    assert(rows(fusedDf) == rows(exploded))
    // docs 2 ("a b") and 5 ("" = one empty token) have < 3 tokens → no shingles
    assert(rows(fusedDf).map(_.head) == List(1L, 3L, 4L))
  }

  test("warehouse: process-private dir under tmp; freshManagedTable rejects unsafe names") {
    val s = spark
    // the spec session (like Verify/Bench) must use the per-process
    // ephemeral warehouse — never a CWD spark-warehouse shared across JVMs
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    assert(wh == graft.core.EphemeralWarehouse.dir, s"unexpected warehouse: $wh")
    assert(new java.io.File(wh).getName.startsWith("graft-wh-"))
    // freshManagedTable recursively deletes under the warehouse — a
    // path-like name must never reach the filesystem
    intercept[IllegalArgumentException](
      graft.queries.Util.freshManagedTable(s, "bad/name"))
  }

  test("cumMaxBy: exclusive distributed prefix max equals the sequential scan") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vals = (0 until 500).map(i => (i, rnd.nextInt(1000).toLong))
    val got = Sharding.cumMaxBy(
        vals.toDF("ord", "v").repartition(7), Seq("ord"), col("v"), "pm")
      .orderBy("ord").collect().map(r => (r.getInt(0), r.getLong(2)))
    val expect = vals.map(_._2).scanLeft(Long.MinValue)(math.max).init
    assert(got.map(_._2).toSeq == expect)
    // null values don't participate but still receive the running max
    val withNull = Seq((0, Some(5L)), (1, None), (2, Some(3L))).toDF("ord", "v")
    val g2 = Sharding.cumMaxBy(withNull, Seq("ord"), col("v"), "pm")
      .orderBy("ord").collect().map(_.getLong(2))
    assert(g2.toSeq == Seq(Long.MinValue, 5L, 5L))
  }

  test("skyline: grouped and global forms equal the quadratic definition, incl. ties") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 400).map { i =>
      (i.toLong, s"g${rnd.nextInt(4)}", rnd.nextInt(30).toDouble / 2, rnd.nextInt(20))
    } :+ (400L, "g0", 1.5, 7) :+ (401L, "g0", 1.5, 7) // exact duplicates both survive
    def brute(grouped: Boolean): Set[Long] = rows.filter { p =>
      !rows.exists(q => (!grouped || q._2 == p._2) &&
        q._3 <= p._3 && q._4 >= p._4 && (q._3 < p._3 || q._4 > p._4))
    }.map(_._1).toSet
    val df = rows.toDF("id", "g", "x", "y").repartition(5)
    val grouped = graft.operators.Skyline.groupedSkyline(df, Seq("g"), "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(grouped == brute(grouped = true))
    val global = graft.operators.Skyline.globalSkyline(df, "x", "y")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(global == brute(grouped = false))
  }

  test("asOfForward: next-at-or-after semantics, incl. equal instants and no-match") {
    val s = spark
    import s.implicits._
    val left = Seq((1L, 10L), (1L, 20L), (1L, 35L), (2L, 5L))
      .toDF("k", "t")
    val right = Seq((1L, 10L, "a"), (1L, 30L, "b"), (3L, 1L, "z"))
      .toDF("k", "rt", "v")
    val got = graft.operators.AsOfJoin
      .asOfForward(left, right, "k", "t", "rt", Seq("v"))
      .orderBy("k", "t").collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)))).toSeq
    assert(got == Seq(
      (1L, 10L, Some("a")), // equal instant is inclusive
      (1L, 20L, Some("b")),
      (1L, 35L, None),      // nothing after
      (2L, 5L, None)))      // key has no right rows
  }

  test("bucketed join: co-located tables join with zero shuffle exchanges") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val a = (0 until 1000).map(i => (i.toLong, i * 2L)).toDF("k", "va")
    val b = (0 until 1000).map(i => (i.toLong, i * 3L)).toDF("k", "vb")
    Seq("graft_spec_bucket_a", "graft_spec_bucket_b")
      .foreach(graft.queries.Util.freshManagedTable(s, _))
    a.write.mode("overwrite").format("parquet").bucketBy(4, "k").sortBy("k")
      .saveAsTable("graft_spec_bucket_a")
    b.write.mode("overwrite").format("parquet").bucketBy(4, "k").sortBy("k")
      .saveAsTable("graft_spec_bucket_b")
    val joined = s.table("graft_spec_bucket_a")
      .join(s.table("graft_spec_bucket_b").hint("merge"), Seq("k"))
    assert(joined.count() == 1000)
    val exec = joined.queryExecution.executedPlan
    val plan = exec match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty, s"expected bucket-co-located join, got:\n$plan")
  }

  test("group top-k: salted two-phase rank equals the plain window, incl. skew and ties") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    // skewed: group "hot" has 5000 rows, others a handful; duplicate values force tiebreaks
    val rows = (0 until 5000).map(i => ("hot", i.toLong, (rnd.nextInt(50)).toDouble)) ++
      (0 until 7).map(i => ("cold", (10000 + i).toLong, 1.0)) ++
      Seq(("tiny", 20000L, 3.0))
    val df = rows.toDF("grp", "id", "v")
    val order = Seq(col("v").desc_nulls_last, col("id"))
    val salted = graft.operators.GroupTopK.topK(
      df, Seq("grp"), order, k = 5, saltFrom = col("id"), saltBuckets = 8)
    val w = Window.partitionBy(col("grp")).orderBy(order: _*)
    val plain = df.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
    assert(salted.select("grp", "rank", "id", "v").exceptAll(
      plain.select("grp", "rank", "id", "v")).isEmpty)
    assert(plain.select("grp", "rank", "id", "v").exceptAll(
      salted.select("grp", "rank", "id", "v")).isEmpty)
    // groups smaller than k keep all rows
    assert(salted.filter(col("grp") === "tiny").count() == 1)
  }
}
