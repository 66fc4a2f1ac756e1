package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  * Cosine is computed with `zip_with` + `aggregate` — pure codegen'd column
  * expressions, left-to-right summation, so Spark and DuckDB produce
  * bit-comparable doubles (guarded by round(…,4) in outputs).
  *
  * Scale path: brute force is the oracle baseline; the LSH-bucketed variant
  * (random-hyperplane signs) turns top-k into bucket-local joins, and the
  * IVF shape (coarse centroids = label partitions here) prunes to the
  * closest lists. At 100 TB both variants shuffle only (bucket, vec) pairs,
  * never the n² cross join.
  */
object VectorOps {
  type Q = (SparkSession, String) => DataFrame

  private def asDouble(c: Column): Column = transform(c, x => x.cast("double"))

  /** Native codegen'd dot product (graft.functions.VectorDot) — identical
    * summation order to the portable aggregate/zip_with form and the DuckDB
    * oracle, so values stay bit-comparable. */
  private def dot(a: Column, b: Column): Column = graft.functions.VectorDot(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force cosine top-k: 5 query vectors (vec_id < 5) against the whole
    * table; rank by cosine desc with vec_id tie-break; k=5. */
  val annBruteCosine: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = emb.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val scored = q.join(cand, col("q_id") =!= col("c_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 4).as("cosine"))
  }
  val annBruteCosineSql =
    """WITH emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |scored AS (
      |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
      |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) / (q.nrm * c.nrm) AS cos
      |  FROM emb q JOIN emb c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank, cos
      |  FROM scored)
      |SELECT q_id, c_id, rank, round(cos, 4) AS cosine FROM ranked WHERE rank <= 5""".stripMargin

  /** Embedding-cosine near-duplicate detection — the banded sign-LSH shape
    * (the embedding twin of `dedup_minhash_lsh`): candidates are pairs
    * sharing ANY of [[DedupBands]] bands of a [[DedupBits]]-bit
    * hyperplane-sign signature; exact cosine runs ONLY on candidates.
    * Contrast pairs (the deterministic hyperplane stand-in, identical in
    * the oracle) are spread via a fixed affine map so no two bits share a
    * dimension pair. No input cap and no all-pairs anywhere: BUCKET WIDTH
    * IS THE SCALE KNOB, and it is ADAPTIVE (see [[extraBitsFor]]) — the
    * 12-bit floor bounds uniform-data collisions at ~n²/4096 per band
    * (measured: the 8-bit variant went 1191× at a 100× blow-up because 256
    * buckets collide at n²/256), and past 65 536 rows each doubling of n
    * adds a sign bit so collision pairs grow O(n), not n² (measured: fixed
    * width went 27× for 10× rows sf1→sf10; adaptive is linear). A pair
    * sharing many bands is deduplicated BEFORE the vector join — the
    * shuffles carry (band, bucket, id) triples and (a_id, b_id) pairs,
    * never n² vectors. */
  val DedupBands = 5
  val DedupBits = 12
  /** bit m's contrast dims (1-based): v[i1] − v[i2]; the affine second
    * index is collision-free for m < 64 (6m ≡ −13 and 48a ≡ 24 have no
    * solutions mod 64, so no self-pairs and no repeated pairs). */
  private def contrastDims(m: Int): (Int, Int) = (m + 1, (m * 7 + 13) % 64 + 1)
  /** Adaptive bucket width — the actual 100 TB knob. The fixed-bit floor
    * (12 bits here, K·2^6 in dedup_semantic) is the oracle-pinned contract
    * and stays bit-identical for every n ≤ LoadTarget·baseBuckets (covers
    * sf0.01 verify and sf0.1/sf1 bench). Past that, each DOUBLING of n adds
    * one sign bit, holding expected bucket load ≤ LoadTarget — so collision
    * pairs per band stay ∝ n·LoadTarget instead of n²/buckets (the term the
    * sf1→sf10 sweep measured going 27× for 10× rows at fixed width).
    * Recall is the documented LSH trade: wider signatures only drop pairs
    * whose cosine is low enough to flip one of the added sign bits. */
  private val DedupLoadTarget = 16L
  private[graft] def extraBitsFor(n: Long, baseBuckets: Long): Int = {
    var extra = 0
    while (extra < 16 && (n >> extra) > DedupLoadTarget * baseBuckets) extra += 1
    extra
  }
  /** second contrast family for adaptive bits (the affine family above is
    * only collision-free for m < 64): fixed stride 31 mod 64 ⇒ i1 ≠ i2. */
  private[graft] def contrastDims2(m: Int): (Int, Int) = {
    val a = (m * 7 + 1) % 64
    (a + 1, (a + 31) % 64 + 1)
  }
  private[graft] def extraBitCols(v: Column, band: Int, extra: Int, shift: Int): Seq[Column] =
    (0 until extra).map { j =>
      val (i1, i2) = contrastDims2(band * 16 + j)
      when(element_at(v, i1) - element_at(v, i2) > 0,
        lit(1L << (shift + j))).otherwise(lit(0L))
    }

  /** Eager recursive delete for band scratch that is DONE serving the
    * query (the shutdown hook would get it eventually, but at the fourth
    * decade the ~10 GB materialized base must leave the disk before the
    * output phase needs the room). Only ever called on paths under
    * [[bandScratch]]'s nonce dir. */
  private def rmTree(path: String): Unit = graft.core.LocalFiles.deleteTree(java.nio.file.Paths.get(path))

  /** Scratch dir for band-local pair dumps: process-private (rides the
    * [[graft.core.EphemeralWarehouse]] shutdown cleanup) + per-call nonce,
    * so concurrent sessions/queries can never collide. */
  private def bandScratch(tag: String): String = {
    val d = new java.io.File(graft.core.EphemeralWarehouse.dir,
      s"bands_${tag}_${java.util.UUID.randomUUID().toString.replace("-", "")}")
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Corpus size past which the banded self-join runs ONE BAND PER JOB
    * instead of all bands in one exploded plan. Below it the all-bands
    * plan's total scratch is a few GB (2M vectors × bands × ~0.5 KB —
    * the benched-green sf100 regime); above it the accumulated
    * bands × (exchange + 2 SMJ sorts) demand is what the round-12
    * fourth-decade probe measured killing a 20M-vector `dedup_embedding`
    * (~110 GB vs 48 GB free, SCALING.md). The knob changes ONLY how many
    * bands share a job — same loop, same dumps, same read-back — the
    * adaptive-width (extraBitsFor) precedent: fixed behavior through every
    * oracle/bench scale, engaging one decade up. */
  private[graft] val BandSeqMinRows = 1L << 22

  /** Band-job schedule as (bands, subIndex, subCount) triples: one job of
    * all bands below [[BandSeqMinRows]]; past it, one job per (band,
    * bucket-residue slice) with subCount = ⌈n / BandSeqMinRows⌉. The
    * residue slice is the second scratch knob the first 20M probe run
    * proved necessary (SCALING.md round 13): a whole band's self-join at
    * 20M vectors still holds 2 × ~10 GB of exchange (AQE does not dedupe
    * the canonically-equal sides — measured) plus both SMJ sort spills at
    * once, and the probe bottomed the disk at 1 GB free. Filtering BOTH
    * join sides to `bucket % subCount == subIndex` partitions the PAIR
    * space exactly (a pair shares its bucket, so it lands in exactly one
    * slice) — in-flight exchange shrinks ∝ 1/subCount, the union of
    * slices is the band's exact pair set, and the re-scans read the
    * materialized base from page cache. */
  private[graft] def bandJobs(bands: Int, corpusRows: Long): Seq[(Seq[Int], Int, Int)] =
    if (corpusRows < BandSeqMinRows) Seq((0 until bands, 0, 1))
    else {
      val subs = math.max(1, math.ceil(corpusRows.toDouble / BandSeqMinRows).toInt)
      for (b <- 0 until bands; s <- 0 until subs) yield (Seq(b), s, subs)
    }

  /** Between band jobs in the sequential regime: nudge the JVM so the
    * finished band's now-unreachable ShuffleDependency enqueues for
    * Spark's ContextCleaner, which then removes its shuffle files from
    * disk before the next band writes its own — without it the per-band
    * map outputs ACCUMULATE for the whole query and the sequential
    * schedule saves nothing. Cleanup is asynchronous; the gc makes the
    * one-band-in-flight bound hold in practice (probe-measured), not a
    * hard guarantee. Gated on the same threshold as [[bandJobs]]: a
    * full GC on the 24g bench heap costs ~0.5-1 s and buys nothing in the
    * single-chunk regime.
    *
    * CAVEAT (round-14 advice): under `-XX:+DisableExplicitGC` the
    * `System.gc()` is a silent no-op and the one-band-in-flight disk
    * bound DISAPPEARS in the fourth-decade regime — per-band shuffle
    * files accumulate for the whole query, the exact failure mode the
    * round-13 probe runs 1-2 died of. Spark's own
    * `spark.cleaner.periodicGC.interval` is no help (it also calls
    * `System.gc()`), so the flag is detected once and warned about
    * LOUDLY; big-corpus operators keep running (the dumps themselves are
    * still ∝ true output) but the operator's disk ceiling reverts to the
    * all-bands figure. */
  private lazy val explicitGcDisabled: Boolean = {
    import scala.jdk.CollectionConverters._
    val disabled = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.contains("-XX:+DisableExplicitGC")
    if (disabled)
      System.err.println(
        "[graft] WARN: -XX:+DisableExplicitGC detected — the band-sequential " +
        "shuffle release is a no-op, so the one-band-in-flight disk bound " +
        "does NOT hold past 2^22 vectors. Remove the flag for fourth-decade " +
        "dedup runs (see VectorOps.releaseBandShuffles).")
    disabled
  }
  private def releaseBandShuffles(corpusRows: Long): Unit =
    if (corpusRows >= BandSeqMinRows && !explicitGcDisabled) System.gc()

  val dedupEmbedding: Q = (s, dir) => {
    val nRows = table(s, dir, "embeddings").count()
    val extra = extraBitsFor(nRows, 1L << DedupBits)
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    def bucket(b: Int): Column = ((0 until DedupBits).map { j =>
      val (i1, i2) = contrastDims(DedupBits * b + j)
      when(element_at(col("v"), i1) - element_at(col("v"), i2) > 0,
        lit(1L << j)).otherwise(lit(0L))
    } ++ extraBitCols(col("v"), b, extra, DedupBits)).reduce(_ + _)
    // Verify inside the band join (see dedupSemantic for the full r11
    // sf100 adjudication): shuffle ∝ corpus (banded vectors), never
    // ∝ candidate pairs; collision rows go skinny in the join stage and
    // the threshold filter runs before any further exchange. The distinct
    // moves only surviving 24-byte pair rows.
    //
    // Round 13, two changes from the r12 shape, both probe-driven:
    //
    // (1) The banding BASE (vec_id, double vector, norm) is MATERIALIZED
    //     once to scratch parquet and every band job scans it columnar.
    //     The upstream cast `transform` is an interpreted per-element
    //     lambda (HOF lambdas never codegen), and a first band-sequential
    //     cut that re-derived the base per band job re-paid it
    //     bands × 2 join sides times — measured 26.6 s for ONE semantic
    //     band at sf100 (probe in SCALING.md round 13; AQE does NOT
    //     dedupe the self-join's two identical exchanges either —
    //     measured 2 writes / 0 reused with canonically-equal plans,
    //     while static planning reuses but times WORSE).
    //
    // (2) Bands run in ADAPTIVE CHUNKS ([[bandJobs]]): one all-bands
    //     job below [[BandSeqMinRows]] — the benched sf100-green r12
    //     plan, whose total scratch is a few GB there — and one band per
    //     job past it, where the all-at-once peak (bands × (exchange +
    //     2 SMJ sorts) ≈ 110 GB at 20M vectors) exceeds a box's disk.
    //     Sequential jobs + shuffle release bound peak scratch to one
    //     band in flight plus the Tau-filtered pair dumps (∝ true
    //     output); the re-scan per band reads the materialized base. A
    //     cluster gets the same ~bands× peak-disk relief per executor.
    //
    // The final distinct over the read-back dumps de-duplicates
    // multi-band hits exactly as the single unioned explode did — the
    // result is row-identical at every chunk size.
    val tmp = bandScratch("embdedup")
    emb.write.mode("overwrite").parquet(s"$tmp/base")
    val base = s.read.schema("vec_id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE")
      .parquet(s"$tmp/base")
    // Data-drift side-records (round-14 verdict task 5, restructured for
    // round-15 task 6): the candidate mass — Σ C(load, 2) over
    // (band, bucket) = the banded self-join's a<b output — and the post-τ
    // survivor dump mass now ride each chunk job's OWN parquet-write
    // action as `observe` nodes (accumulated across chunks by the
    // listener), so the round-14 standalone candidate aggregate (a full
    // extra base pass at the fourth decade) and the dumps count() job are
    // gone entirely. Disabled (Verify/oracle) the plan is untouched.
    graft.core.BenchStats.record("dedup_embedding", "corpus_rows", nRows)
    val jobs = bandJobs(DedupBands, nRows)
    jobs.zipWithIndex.foreach { case ((bs, sub, subs), ci) =>
      val bandedAll = base.select(col("vec_id"), col("v"), col("nrm"),
          explode(array(bs.map(b =>
            struct(lit(b).as("band"), bucket(b).as("bucket"))): _*)).as("bb"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      val banded = if (subs == 1) bandedAll
        else bandedAll.filter(pmod(col("bucket"), lit(subs.toLong)) === sub.toLong)
      val candidates = banded.select(col("band"), col("bucket"),
          col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
        .join(banded.select(col("band"), col("bucket"),
          col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn")),
          Seq("band", "bucket"))
        .filter(col("a_id") < col("b_id"))
      val survivors = graft.core.BenchStats
        .observedSum(candidates, "dedup_embedding", s"cand_$ci",
          "candidate_pairs" -> count(lit(1)))
        .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
        .filter(col("cos") > 0.3)
        .select(col("a_id"), col("b_id"), round(col("cos"), 4).as("cosine"))
      graft.core.BenchStats
        .observedSum(survivors, "dedup_embedding", s"surv_$ci",
          "survivor_dump_rows" -> count(lit(1)))
        .write.mode("overwrite").parquet(s"$tmp/chunk_$ci")
      releaseBandShuffles(nRows)
    }
    // the base has served every band job — free its ~10 GB (fourth
    // decade) before the output phase needs the disk
    rmTree(s"$tmp/base")
    // explicit schema: a chunk (or every chunk) can survive with zero
    // pairs, leaving no parquet files to infer from
    def dumps = s.read.schema("a_id BIGINT, b_id BIGINT, cosine DOUBLE")
      .parquet(jobs.indices.map(i => s"$tmp/chunk_$i"): _*)
    // (survivor mass = post-τ dump rows, pre-distinct — observed on each
    // chunk's write above, no separate count job)
    val subs0 = jobs.head._3
    if (subs0 == 1) dumps.distinct()
    else {
      // Output phase, residue-sliced like the band jobs: pre-distinct
      // dump mass is OUTPUT-bound (surviving pairs × ≤bands multiplicity)
      // and one distinct over all of it holds dumps + the full exchange
      // on disk together — the second 20M probe run died exactly there.
      // Each pair lives in exactly one a_id residue class, so the union
      // of sliced distincts is the exact distinct; in-flight exchange
      // shrinks ∝ 1/subs, and the dumps are deleted before the result
      // (reading only the finals) is returned.
      (0 until subs0).foreach { r =>
        dumps.filter(pmod(col("a_id"), lit(subs0.toLong)) === r.toLong)
          .distinct()
          .write.mode("overwrite").parquet(s"$tmp/final_$r")
        releaseBandShuffles(nRows)
      }
      jobs.indices.foreach(i => rmTree(s"$tmp/chunk_$i"))
      s.read.schema("a_id BIGINT, b_id BIGINT, cosine DOUBLE")
        .parquet((0 until subs0).map(r => s"$tmp/final_$r"): _*)
    }
  }
  val dedupEmbeddingSql = {
    val bands = (0 until DedupBands).map { b =>
      val bits = (0 until DedupBits).map { j =>
        val (i1, i2) = contrastDims(DedupBits * b + j)
        s"CASE WHEN v[$i1] - v[$i2] > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT vec_id, $b AS band, CAST($bits AS BIGINT) AS bucket FROM emb"
    }.mkString("\nUNION ALL\n")
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |sig AS (
       |$bands),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
       |  FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id)
       |SELECT a_id, b_id,
       |  round(list_sum(list_transform(list_zip(qa.v, qb.v), p -> p[1] * p[2])) / (qa.nrm * qb.nrm), 4) AS cosine
       |FROM cand JOIN emb qa ON qa.vec_id = a_id JOIN emb qb ON qb.vec_id = b_id
       |WHERE list_sum(list_transform(list_zip(qa.v, qb.v), p -> p[1] * p[2])) / (qa.nrm * qb.nrm) > 0.3""".stripMargin
  }

  /** Driver-checked exercise of the ADAPTIVE LSH band width — the branch of
    * [[extraBitsFor]] that only engages past 65 536 vectors (LoadTarget ·
    * 2^12) and was previously pinned only by ScaleKnobSpec + the sf10 sweep.
    * Each of the first ≤[[DedupAdaptiveCapIds]] embeddings is replicated
    * [[DedupAdaptiveReplicas]]× with a deterministic integer-modular
    * perturbation (dyadic-rational doubles, so Spark and DuckDB compare
    * signs bit-identically), pushing the corpus to 80 000 vectors at
    * sf0.01 (500·160) and a capped 100 000 at every larger sf — always
    * past the 65 536 threshold → 13 band bits. The input cap is
    * deliberate: this row gates the bit-width LOGIC (a fixture, like the
    * recall evals), so its cost is scale-invariant; the production
    * adaptive path at corpus scale is [[dedupEmbedding]] itself. Output is
    * the per-band index summary (bit width, bucket count, max load,
    * Σ C(load,2) collision pairs): 5 rows regardless of n, while still
    * pinning every adaptive sign bit (any flipped bit moves bucket
    * populations).
    *
    * Scale shape: expansion and banding are narrow (explode of a literal
    * sequence); the only shuffles are the two keyed aggs, both map-side
    * combining, carrying (band, bucket) pairs — never vectors. The corpus
    * count feeding the bit-width knob is one driver-side count() of a
    * single column, the same constant-size action kmeans uses for its
    * centroids. */
  val DedupAdaptiveReplicas = 160
  val DedupAdaptiveCapIds = 625
  val dedupAdaptiveBits: Q = (s, dir) => {
    val base = table(s, dir, "embeddings")
      .filter(col("vec_id") < DedupAdaptiveCapIds)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // corpus side-record only (verdict task 5): the candidate mass is this
    // query's oracle-gated OUTPUT (Σ collision_pairs per band) — re-counting
    // it here would run the whole pipeline twice for a number the driver
    // already hashes
    val nExpanded = base.count() * DedupAdaptiveReplicas
    graft.core.BenchStats.record("dedup_adaptive_bits", "corpus_rows", nExpanded)
    val extra = extraBitsFor(nExpanded, 1L << DedupBits)
    // Two measured performance cliffs shaped this plan (both at sf0.1,
    // 320k replica rows):
    // (1) parallelism — the source parquet is a handful of files, so
    //     without the pre-explosion repartition the 160× explode and all
    //     75 bit terms ran on 1-2 cores. The shuffle moves only the SMALL
    //     pre-explosion table; at warehouse scale the base is already many
    //     partitions and this is a cheap round-robin.
    // (2) codegen — inlining the modular perturbation into all 75 bit
    //     terms blew whole-stage codegen's 64 KB method limit (13.4 s,
    //     interpreted fallback), and materializing the perturbed vector
    //     via a `transform` HOF was no better (10 s: HOF lambdas are never
    //     codegen'd — interpreted eval + boxing per lane). The perturbed
    //     vector is therefore 64 FLAT double columns: every expression
    //     stays small and inside one WholeStageCodegen span.
    // Perturbation: modular hash of (replica id, 1-based dim) mapped to
    // [-0.5, 0.5) in exact dyadic steps of 2^-16, so Spark and DuckDB
    // compare bit-identically.
    val expanded = base
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .select(col("vec_id"), col("v"),
        explode(expr(s"sequence(0, ${DedupAdaptiveReplicas - 1})")).as("r"))
      .withColumn("id", col("vec_id") * DedupAdaptiveReplicas + col("r"))
      .select(Seq(col("id")) ++ (1 to 64).map { i =>
        (element_at(col("v"), i) +
          ((col("id") * lit(2654435761L) + lit(i.toLong * 40503L)) % 65536L)
            .cast("double") / 65536.0 - 0.5).as(s"pv_$i")
      }: _*)
    def bit(m: (Int, Int), c: Long): Column =
      when(col(s"pv_${m._1}") > col(s"pv_${m._2}"), lit(c))
        .otherwise(lit(0L))
    def bucket(b: Int): Column = ((0 until DedupBits).map { j =>
      bit(contrastDims(DedupBits * b + j), 1L << j)
    } ++ (0 until extra).map { j =>
      bit(contrastDims2(b * 16 + j), 1L << (DedupBits + j))
    }).reduce(_ + _)
    val banded = expanded.select(explode(array((0 until DedupBands).map(b =>
      struct(lit(b).as("band"), bucket(b).as("bucket"))): _*)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("load"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"), max(col("load")).as("max_load"),
        sum(expr("load * (load - 1) DIV 2")).as("collision_pairs"))
      .withColumn("n_bits", lit(DedupBits + extra))
      .select(col("band"), col("n_bits"), col("n_buckets"),
        col("max_load"), col("collision_pairs"))
  }
  val dedupAdaptiveBitsSql = {
    // pv materialized per replica row (mirrors the Spark plan exactly);
    // extra replicated as the EXACT loop of extraBitsFor: count of e in
    // [0,16) with (n >> e) > LoadTarget<<12 (monotone, so the count equals
    // the loop's exit value — no float log2 boundary risk)
    val extraExpr = (0 until 16).map(e =>
      s"CASE WHEN (n >> $e) > ${DedupLoadTarget << DedupBits} THEN 1 ELSE 0 END")
      .mkString(" + ")
    val bands = (0 until DedupBands).map { b =>
      val fixed = (0 until DedupBits).map { j =>
        val (i1, i2) = contrastDims(DedupBits * b + j)
        s"CASE WHEN pv[$i1] > pv[$i2] THEN ${1L << j} ELSE 0 END"
      }
      val adaptive = (0 until 16).map { j =>
        val (i1, i2) = contrastDims2(b * 16 + j)
        s"CASE WHEN extra > $j AND pv[$i1] > pv[$i2] THEN ${1L << (DedupBits + j)} ELSE 0 END"
      }
      s"SELECT $b AS band, CAST(${(fixed ++ adaptive).mkString(" + ")} AS BIGINT) AS bucket FROM pexp, eb"
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings WHERE vec_id < $DedupAdaptiveCapIds),
       |nn AS (SELECT count(*) * $DedupAdaptiveReplicas AS n FROM base),
       |eb AS (SELECT CAST($extraExpr AS INT) AS extra FROM nn),
       |exp AS (
       |  SELECT vec_id * $DedupAdaptiveReplicas + r AS id, v
       |  FROM base, range($DedupAdaptiveReplicas) t(r)),
       |pexp AS (
       |  SELECT id, list_transform(range(1, 65), i -> v[i] +
       |    CAST((id * 2654435761 + i * 40503) % 65536 AS DOUBLE) / 65536.0 - 0.5) AS pv
       |  FROM exp),
       |sig AS (
       |$bands),
       |loads AS (
       |  SELECT band, bucket, count(*) AS load FROM sig GROUP BY band, bucket)
       |SELECT band, (SELECT 12 + extra FROM eb) AS n_bits,
       |  count(*) AS n_buckets, CAST(max(load) AS BIGINT) AS max_load,
       |  CAST(sum(load * (load - 1) // 2) AS BIGINT) AS collision_pairs
       |FROM loads GROUP BY band""".stripMargin
  }

  /** Sign-LSH bucketing: 8-bit signature from the signs of fixed coordinate
    * contrasts (a deterministic stand-in for random hyperplanes — portable to
    * the oracle). Vectors sharing a bucket are ANN candidates; per-bucket
    * sizes summarize the index. */
  val annLshBuckets: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val bits = (0 until 8).map { i =>
      when(element_at(col("v"), 2 * i + 1) - element_at(col("v"), 2 * i + 2) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    emb.withColumn("bucket", bits)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec"))
  }
  val annLshBucketsSql = {
    val bits = (0 until 8).map { i =>
      s"CASE WHEN CAST(embedding[${2 * i + 1}] AS DOUBLE) - CAST(embedding[${2 * i + 2}] AS DOUBLE) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""SELECT CAST($bits AS BIGINT) AS bucket, count(*) AS n_vectors, min(vec_id) AS min_vec
       |FROM embeddings GROUP BY 1""".stripMargin
  }

  /** IVF shape: centroid per label (mean vector), then per-vector distance to
    * its own centroid — the residual statistics an IVF index maintains.
    * Exercises a two-phase agg: centroid agg then re-join. */
  val ivfCentroidResiduals: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    // mean vector per label: element-wise sum via 64 aggregates (count rides
    // in the SAME agg — a second groupBy + join-back would scan twice)
    val sums = (0 until 64).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i")) :+
      count(lit(1)).as("n")
    val cents = emb.groupBy(col("label")).agg(sums.head, sums.tail: _*)
    val centroid = cents
      .select(col("label"), col("n"),
        array((0 until 64).map(i => col(s"s$i") / col("n")): _*).as("centroid"))
    emb.join(broadcast(centroid), Seq("label"))
      .withColumn("dist2",
        aggregate(zip_with(col("v"), col("centroid"), (x, c) => (x - c) * (x - c)),
          lit(0.0), (acc, x) => acc + x))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        round(avg(col("dist2")), 4).as("avg_residual2"),
        round(max(col("dist2")), 4).as("max_residual2"))
  }
  val ivfCentroidResidualsSql = {
    val sums = (0 until 64).map(i => s"avg(CAST(embedding[${i + 1}] AS DOUBLE)) AS c$i").mkString(", ")
    val dist = (0 until 64).map(i =>
      s"(CAST(e.embedding[${i + 1}] AS DOUBLE) - c.c$i) * (CAST(e.embedding[${i + 1}] AS DOUBLE) - c.c$i)")
      .mkString(" + ")
    s"""WITH c AS (SELECT label, $sums FROM embeddings GROUP BY label)
       |SELECT e.label, count(*) AS n_vectors,
       |  round(avg($dist), 4) AS avg_residual2,
       |  round(max($dist), 4) AS max_residual2
       |FROM embeddings e JOIN c ON e.label = c.label
       |GROUP BY e.label""".stripMargin
  }

  /** The full ANN query path: sign-LSH bucket join (candidates = vectors in
    * the query's bucket) → exact cosine re-rank → top-3. The approximate
    * structure is itself deterministic, so even this is oracle-checkable.
    * At 100 TB: bucket join shuffles (bucket, vec) pairs; re-rank only
    * touches bucket-local candidates. */
  val annLshTopk: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val bits = (0 until 8).map { i =>
      when(element_at(col("v"), 2 * i + 1) - element_at(col("v"), 2 * i + 2) > 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val bucketed = emb.withColumn("bucket", bits).withColumn("nrm", norm(col("v")))
    val q = bucketed.filter(col("vec_id") < 5)
      .select(col("bucket"), col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = bucketed
      .select(col("bucket"), col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val scored = q.join(cand, Seq("bucket")).filter(col("q_id") =!= col("c_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 4).as("cosine"))
  }
  val annLshTopkSql = {
    val bits = (0 until 8).map { i =>
      s"CASE WHEN CAST(embedding[${2 * i + 1}] AS DOUBLE) - CAST(embedding[${2 * i + 2}] AS DOUBLE) > 0 THEN ${1L << i} ELSE 0 END"
    }.mkString(" + ")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST($bits AS BIGINT) AS bucket,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) / (q.nrm * c.nrm) AS cos
       |  FROM emb q JOIN emb c ON q.bucket = c.bucket AND q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank, cos
       |  FROM scored)
       |SELECT q_id, c_id, rank, round(cos, 4) AS cosine FROM ranked WHERE rank <= 3""".stripMargin
  }

  /** The IVF SEARCH path (the missing third of the IVF lifecycle next to
    * [[ivfCentroidResiduals]]'s maintenance stats and [[annPqRerank]]'s
    * compressed scoring): coarse lists = label partitions with INTEGER
    * centroids (vectors fixed-point-quantized first, centroid = sum div n —
    * order-free, bit-identical in the oracle, same rule as
    * [[kmeansQuantized]]); each query probes its 2 nearest lists by integer
    * L2, and exact cosine re-ranks ONLY candidates from those lists.
    *
    * Scale shape: the K×64 centroid table is a broadcast; probing is a
    * narrow ×K expansion ranked by a (query)-partitioned window (2 probed
    * lists per query survive); candidates shuffle ∝ probed-list sizes
    * (n·probes/K, never n); the final top-k is row_number ≤ k →
    * WindowGroupLimit. */
  val annIvfTopk: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    // +1e7 offset: keeps sums non-negative so Spark's truncating `div`
    // agrees with DuckDB's flooring `//` (see kmeansQuantized)
    val qint = emb.select(col("vec_id"), col("label"),
      transform(col("v"),
        x => floor(x * lit(1000000.0)).cast("long") + lit(10000000L)).as("q"))
    val dims = 0 until 64
    val cents = qint.groupBy(col("label")).agg(
        count(lit(1)).as("n"),
        dims.map(i => sum(element_at(col("q"), i + 1)).as(s"s$i")): _*)
      .select(col("label").as("c_label"),
        array(dims.map(i => expr(s"s$i div n")): _*).as("c"))
    val probed = qint.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("q"))
      .join(broadcast(cents), lit(true))
      .withColumn("d2", aggregate(zip_with(col("q"), col("c"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x))
    val wp = Window.partitionBy(col("q_id")).orderBy(col("d2"), col("c_label"))
    val lists = probed.withColumn("rk", row_number().over(wp)).filter(col("rk") <= 2)
      .select(col("q_id"), col("c_label").as("label"))
    val full = emb.withColumn("nrm", norm(col("v")))
    val scored = lists
      .join(full.select(col("label"), col("vec_id").as("c_id"), col("v").as("cv"),
        col("nrm").as("cn")), Seq("label"))
      .filter(col("q_id") =!= col("c_id"))
      .join(broadcast(full.filter(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))), Seq("q_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val we = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("rank", row_number().over(we)).filter(col("rank") <= 3)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 4).as("cosine"))
  }
  val annIvfTopkSql = {
    val sums = (0 until 64).map(i => s"sum(q[${i + 1}]) AS s$i").mkString(", ")
    val means = (0 until 64).map(i => s"s$i // n").mkString(", ")
    """WITH emb AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |qint AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 10000000) AS q
      |  FROM embeddings),
      |s AS (SELECT label, CAST(count(*) AS BIGINT) AS n, SUMS FROM qint GROUP BY label),
      |c AS (SELECT label AS c_label, [MEANS] AS c FROM s),
      |probe AS (SELECT q_id, c_label FROM (
      |  SELECT qq.vec_id AS q_id, c.c_label,
      |    row_number() OVER (PARTITION BY qq.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(qq.q, c.c), p -> (p[1]-p[2])*(p[1]-p[2]))), c.c_label) AS rk
      |  FROM qint qq, c WHERE qq.vec_id < 3) WHERE rk <= 2),
      |scored AS (
      |  SELECT p.q_id, e.vec_id AS c_id,
      |    list_sum(list_transform(list_zip(qe.v, e.v), pp -> pp[1] * pp[2])) / (qe.nrm * e.nrm) AS cos
      |  FROM probe p
      |  JOIN emb e ON e.label = p.c_label
      |  JOIN emb qe ON qe.vec_id = p.q_id
      |  WHERE e.vec_id <> p.q_id)
      |SELECT q_id, c_id, rank, round(cos, 4) AS cosine FROM (
      |  SELECT q_id, c_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      |  FROM scored) WHERE rank <= 3""".stripMargin
      .replace("SUMS", sums).replace("[MEANS]", "[" + means + "]")
  }

  /** Scalar int8 quantization (the ANN compression step: 4× smaller vectors
    * before indexing): per-vector scale = max |x|, symmetric half-up
    * quantize to [-127, 127]. Shape: posexplode → per-vector max via a
    * partitioned window → quantize → re-aggregate — one shuffle on vec_id,
    * and the scale is a window ATTRIBUTE so it computes once per vector,
    * not once per element (projection collapse would inline a projected
    * scale into the per-element lambda). Verified via integer checksum. */
  val embedQuantize: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val w = Window.partitionBy(col("vec_id"))
    emb.select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
      .withColumn("mx", max(abs(col("x"))).over(w))
      .withColumn("q",
        when(col("mx") === 0, 0L)
          .otherwise(floor(col("x") * 127.0 / col("mx") + 0.5).cast("long")))
      .groupBy(col("vec_id"))
      .agg(round(max(col("mx")), 6).as("scale_max"),
        sum(col("q")).as("q_checksum"),
        sum(when(abs(col("q")) === 127, 1L).otherwise(0L)).as("n_saturated"))
  }
  val embedQuantizeSql =
    """SELECT vec_id, round(mx, 6) AS scale_max,
      |  CAST(list_sum(list_transform(v, x ->
      |    CASE WHEN mx = 0 THEN 0 ELSE CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT) END)) AS BIGINT) AS q_checksum,
      |  CAST(len(list_filter(v, x ->
      |    mx <> 0 AND abs(floor(x * 127.0 / mx + 0.5)) = 127)) AS BIGINT) AS n_saturated
      |FROM (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
      |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings))""".stripMargin

  /** Product quantization (the IVF-PQ compression step): 64-dim vectors →
    * 8 subvectors of 8 dims, each assigned to its nearest of 16 deterministic
    * codebook centroids (the first 16 vectors' subvectors — a stand-in for
    * k-means trained centroids, which keeps the op oracle-checkable). Output:
    * the 8-byte PQ code per vector (as JSON, array outputs crash the
    * comparator) plus the integer-floored total quantization error.
    *
    * Scale shape: the codebook is 128 tiny rows → broadcast; assignment is a
    * narrow ×16 expansion per subvector with argmin via a (vec,m)-partitioned
    * window (high cardinality — no stragglers); distances are IEEE-exact
    * zip_with sums, errors integer-floored so the per-vector sum is
    * order-free. */
  /** (id, m, subvector) rows: the 8 × 8-dim slices of each 64-dim vector. */
  private def pqSubvectors(emb: DataFrame, idName: String, vName: String): DataFrame = {
    val ms = explode(array((0 until 8).map(lit(_)): _*)).as("m")
    emb.select(col("vec_id").as(idName), ms, col("v"))
      .select(col(idName), col("m"), slice(col("v"), col("m") * 8 + 1, lit(8)).as(vName))
  }

  private def pqD2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Deterministic 16-entry codebook per subspace: the first 16 vectors'
    * subvectors (the oracle-checkable stand-in for k-means output). */
  private def pqCentroids(emb: DataFrame): DataFrame =
    pqSubvectors(emb.filter(col("vec_id") < 16), "cid", "cv")

  /** Nearest-centroid assignment per (id, subspace), as ONE codegen'd
    * argmin over the driver-collected constant codebook (128 rows at any
    * data scale — [[graft.functions.PqNearest]]). The previous broadcast
    * join expanded every subvector ×16 codebook candidates, evaluated an
    * interpreted `aggregate(zip_with(...))` distance per candidate, and
    * collapsed the expansion through a SORT-based `min(struct(dist2, cid))`
    * aggregate (struct min has no hash buffer) with its corpus-wide
    * exchange; the expression form is a single narrow map stage. Distance
    * accumulation order and the lowest-cid tie-break are bit-identical to
    * the struct-min form — oracle-pinned (embed_pq / ann_pq_rerank). */
  private def pqAssign(emb: DataFrame, idName: String): DataFrame = {
    val codebook = pqCentroids(emb).collect()
      .map(r => (r.getInt(1), r.getLong(0), r.getSeq[Double](2))).toSeq
    if (codebook.isEmpty)
      // no seed vectors (vec_id < 16 absent): same empty result the
      // join-with-empty-broadcast formulation produced
      pqSubvectors(emb, idName, "sv")
        .select(col(idName), col("m"), lit(-1L).as("cid"), lit(0.0).as("dist2"))
        .filter(lit(false))
    else
      pqSubvectors(emb, idName, "sv")
        .select(col(idName), col("m"),
          graft.functions.PqNearest.cid(col("m"), col("sv"), codebook).as("cid"),
          graft.functions.PqNearest.d2(col("m"), col("sv"), codebook).as("dist2"))
  }

  val embedPq: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    pqAssign(emb, "vec_id")
      .groupBy(col("vec_id"))
      .agg(
        to_json(transform(array_sort(collect_list(struct(col("m"), col("cid")))),
          x => x.getField("cid"))).as("codes"),
        sum(floor(col("dist2") * lit(1000000.0))).as("err_micro"))
  }
  val embedPqSql =
    """WITH emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |ms AS (SELECT unnest(range(0, 8)) AS m),
      |sub AS (SELECT vec_id, m, list_slice(v, m*8 + 1, m*8 + 8) AS sv FROM emb, ms),
      |cents AS (SELECT vec_id AS cid, m, list_slice(v, m*8 + 1, m*8 + 8) AS cv
      |          FROM emb, ms WHERE vec_id < 16),
      |d AS (SELECT s.vec_id, s.m, c.cid,
      |        list_sum(list_transform(list_zip(s.sv, c.cv),
      |          p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist2
      |      FROM sub s JOIN cents c USING (m)),
      |r AS (SELECT vec_id, m, cid, dist2,
      |        row_number() OVER (PARTITION BY vec_id, m ORDER BY dist2, cid) AS rk
      |      FROM d)
      |SELECT vec_id, to_json(list(cid ORDER BY m)) AS codes,
      |  CAST(sum(CAST(floor(dist2 * 1000000) AS BIGINT)) AS BIGINT) AS err_micro
      |FROM r WHERE rk = 1 GROUP BY vec_id""".stripMargin

  /** The full IVF-PQ SEARCH path composed end-to-end: PQ-encode the corpus
    * (as [[embedPq]]), build the query-side ADC lookup table (query subvector
    * × codebook distances — tiny, broadcast), score every candidate by
    * asymmetric-distance-computation (sum of 8 table lookups — the whole
    * point of PQ: no full-vector math per candidate), keep the approximate
    * top-8 per query, then re-rank those few with exact cosine for the final
    * top-3. ADC sums are 8 FIXED-ORDER adds (m-pivoted), so doubles stay
    * bit-portable; top-k goes through row_number ≤ k, which Spark plans with
    * WindowGroupLimit (map-side partial top-k — no single-task sort of the
    * corpus). */
  val annPqRerank: Q = (s, dir) => {
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // corpus codes: the SAME encode pipeline embedPq runs (shared helper —
    // codebook rule and tie-break can never drift between the two ops)
    val codes = pqAssign(emb, "c_id")
      .select(col("c_id"), col("m"), col("cid").as("code"))
    // ADC table: 3 queries × 8 subspaces × 16 centroids
    val adc = pqSubvectors(emb, "q_id", "qv").filter(col("q_id") < 3)
      .join(broadcast(pqCentroids(emb)), Seq("m"))
      .select(col("q_id"), col("m"), col("cid").as("code"), pqD2(col("qv"), col("cv")).as("qd2"))
    // m-pivoted fixed-order ADC sum per (query, candidate)
    val mCols = (0 until 8).map(i => sum(when(col("m") === i, col("qd2"))).as(s"d$i"))
    val approx = codes.join(broadcast(adc), Seq("m", "code"))
      .filter(col("q_id") =!= col("c_id"))
      .groupBy(col("q_id"), col("c_id"))
      .agg(mCols.head, mCols.tail: _*)
      .withColumn("adist", (0 until 8).map(i => col(s"d$i")).reduce(_ + _))
    val wa = Window.partitionBy(col("q_id")).orderBy(col("adist"), col("c_id"))
    val top8 = approx.withColumn("ark", row_number().over(wa)).filter(col("ark") <= 8)
      .select(col("q_id"), col("c_id"))
    // exact cosine re-rank of the surviving 8 per query
    val full = emb.withColumn("nrm", norm(col("v")))
    val scored = top8
      .join(full.select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn")), Seq("q_id"))
      .join(full.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")), Seq("c_id"))
    val we = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    scored.withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(we))
      .filter(col("rank") <= 3)
      .select(col("q_id"), col("c_id"), col("rank"), round(col("cos"), 4).as("cosine"))
  }
  val annPqRerankSql = {
    val adcSum = "((((((((d0 + d1) + d2) + d3) + d4) + d5) + d6) + d7))"
    val mPiv = (0 until 8).map(i => s"sum(CASE WHEN m = $i THEN qd2 END) AS d$i").mkString(", ")
    """WITH emb AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |ms AS (SELECT unnest(range(0, 8)) AS m),
      |sub AS (SELECT vec_id, m, list_slice(v, m*8 + 1, m*8 + 8) AS sv FROM emb, ms),
      |cents AS (SELECT vec_id AS cid, m, list_slice(v, m*8 + 1, m*8 + 8) AS cv
      |          FROM emb, ms WHERE vec_id < 16),
      |cd AS (SELECT s.vec_id AS c_id, s.m, c.cid,
      |         list_sum(list_transform(list_zip(s.sv, c.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS dist2
      |       FROM sub s JOIN cents c USING (m)),
      |codes AS (SELECT c_id, m, cid AS code FROM (
      |  SELECT c_id, m, cid, row_number() OVER (PARTITION BY c_id, m ORDER BY dist2, cid) AS rk
      |  FROM cd) WHERE rk = 1),
      |adc AS (SELECT s.vec_id AS q_id, s.m, c.cid AS code,
      |          list_sum(list_transform(list_zip(s.sv, c.cv), p -> (p[1]-p[2])*(p[1]-p[2]))) AS qd2
      |        FROM sub s JOIN cents c USING (m) WHERE s.vec_id < 3),
      |approx AS (
      |  SELECT q_id, c_id, MPIV
      |  FROM codes JOIN adc USING (m, code) WHERE q_id <> c_id GROUP BY q_id, c_id),
      |top8 AS (SELECT q_id, c_id FROM (
      |  SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id ORDER BY ADCSUM, c_id) AS ark
      |  FROM approx) WHERE ark <= 8),
      |rer AS (
      |  SELECT t.q_id, t.c_id,
      |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) / (q.nrm * c.nrm) AS cos
      |  FROM top8 t JOIN emb q ON q.vec_id = t.q_id JOIN emb c ON c.vec_id = t.c_id)
      |SELECT q_id, c_id, rank, round(cos, 4) AS cosine FROM (
      |  SELECT q_id, c_id, cos,
      |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rank
      |  FROM rer) WHERE rank <= 3""".stripMargin
      .replace("MPIV", mPiv).replace("ADCSUM", adcSum)
  }

  /** K-means codebook TRAINING (what a real IVF/PQ index runs before
    * [[embedPq]] can encode): K=8 centroids over the full 64-dim vectors,
    * deterministic init (vectors 0..7), two unrolled Lloyd iterations.
    * Vectors are fixed-point quantized (floor(x·1e6) as long) FIRST, so
    * assignment distances and centroid sums are pure integer arithmetic —
    * order-free, overflow-safe (|x|≤~1 → 1e12 per square · 64 dims · n),
    * and bit-identical in the oracle, which unrolls the same two iterations
    * as chained CTEs. Centroid means use integer division (sum div n).
    *
    * Scale shape per iteration: broadcast the K×64 centroid table, one
    * narrow argmin scan, one groupBy(cid) with 64 map-side-combining sums.
    * Output: per-centroid member count + coordinate checksum. */
  val kmeansQuantized: Q = (s, dir) => {
    // +1e7 offset keeps every coordinate (and so every centroid SUM)
    // non-negative: Spark's `div` truncates toward zero but DuckDB's `//`
    // floors, and they only agree on non-negatives. Distances are invariant
    // under the common offset.
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000000.0)).cast("long") + lit(10000000L)).as("q"))
    val dims = 0 until 64
    def centroidsOf(assigned: DataFrame): DataFrame = assigned
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        dims.map(i => sum(element_at(col("q"), i + 1)).as(s"s$i")): _*)
      .select(col("cid"), col("n"),
        array(dims.map(i => expr(s"s$i div n")): _*).as("c"))
    /** Assignment as ONE codegen'd argmin over the driver-collected K=8
      * centroid table ([[graft.functions.CentroidArgMin]]), so both Lloyd
      * rounds are narrow map stages and the only shuffles are the two
      * K-group centroid aggregates (map-side combining, K rows out).
      * Tie-break (lowest cid) and integer arithmetic match the oracle.
      *
      * Assumes `vec_id` is unique: the seed centroids take their cids from
      * it, and the oracle assigns one cid per `vec_id`
      * (`PARTITION BY e.vec_id`), while this assigns one per row. */
    def assign(centRows: Seq[(Long, Seq[Long])]): DataFrame =
      if (centRows.isEmpty)
        // no seed vectors (vec_id < 8 absent): same empty result the
        // join-with-empty-broadcast formulation produced
        emb.select(col("vec_id"), col("q"), lit(-1L).as("cid")).filter(lit(false))
      else emb.select(col("vec_id"), col("q"),
        graft.functions.CentroidArgMin(col("q"), centRows).as("cid"))
    // constant-size driver collects: K=8 rows each, at any data scale
    def centroidRows(df: DataFrame): Seq[(Long, Seq[Long])] =
      df.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val init = centroidRows(emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("q").as("c")))
    val round1 = centroidsOf(assign(init))
    val round2 = centroidsOf(assign(centroidRows(round1.select(col("cid"), col("c")))))
    round2.select(col("cid"), col("n"),
      aggregate(col("c"), lit(0L), (acc, x) => acc + abs(x)).as("coord_checksum"))
  }
  val kmeansQuantizedSql = {
    val sums = (0 until 64).map(i => s"sum(q[${i + 1}]) AS s$i").mkString(", ")
    val means = (0 until 64).map(i => s"s$i // n").mkString(", ")
    """WITH emb AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 10000000) AS q
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, q AS c FROM emb WHERE vec_id < 8),
      |a1 AS (SELECT vec_id, q, cid FROM (
      |  SELECT e.vec_id, e.q, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(e.q, c.c), p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rk
      |  FROM emb e, c0 c) WHERE rk = 1),
      |s1 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n, SUMS FROM a1 GROUP BY cid),
      |c1 AS (SELECT cid, n, [MEANS] AS c FROM s1),
      |a2 AS (SELECT vec_id, q, cid FROM (
      |  SELECT e.vec_id, e.q, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(e.q, c.c), p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rk
      |  FROM emb e, c1 c) WHERE rk = 1),
      |s2 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n, SUMS FROM a2 GROUP BY cid),
      |c2 AS (SELECT cid, n, [MEANS] AS c FROM s2)
      |SELECT cid, n, CAST(list_sum(list_transform(c, x -> abs(x))) AS BIGINT) AS coord_checksum
      |FROM c2""".stripMargin
      .replace("SUMS", sums).replace("[MEANS]", "[" + means + "]")
  }

  /** SemDeDup-shaped semantic dedup: k-means cluster the embeddings, then
    * look for near-duplicates ONLY within each cluster, with the banded
    * sign-LSH as a SECOND blocking layer inside the cluster — the hybrid
    * that keeps candidates ∝ collision pairs at any cluster size (a bare
    * within-cluster pairwise would be n²/K and blow up the 100× ScaleGen
    * run the way the first 8-bit dedup_embedding cut did; SCALING.md).
    * Effective buckets per band = K·2^SemBits = 64·64 = 4096 — the SAME
    * uniform-data collision bound (~n²/4096 per band) as dedup_embedding's
    * measured 100×-safe 12-bit knob, just factored as cluster × sub-band.
    * Assignment runs on quantized int64 coordinates (one refinement round,
    * integer centroid means, K=64 centroids broadcast — engine-portable
    * exactly like `kmeans_quantized`); candidates share (cluster, band,
    * bucket); the verify computes exact double cosine. A vector is dropped
    * when a LOWER-id candidate in its cluster has cosine above the
    * threshold (deterministic keep-lowest representative); output is the
    * dropped set with its representative and the max duplicate cosine. */
  val SemBands = 8
  val SemBits = 6
  val dedupSemantic: Q = (s, dir) => {
    val K = 64
    val Tau = 0.3
    // same adaptive-width schedule as dedup_embedding, over the factored
    // base bucket count K·2^SemBits = 4096 (cluster × sub-band)
    val nRows = table(s, dir, "embeddings").count()
    val extra = extraBitsFor(nRows, K.toLong << SemBits)
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1000000.0)).cast("long") + lit(10000000L)).as("q"),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    // Assignment = argmin over a CONSTANT-SIZE centroid table as ONE
    // native codegen'd expression ([[graft.functions.CentroidArgMin]]):
    // each row computes its K·64 long ops inside whole-stage codegen. No
    // n·K row expansion, no groupBy(vec_id) shuffle — both passes are
    // narrow map stages. (Measured alternatives at sf0.1/sf10: the
    // broadcast-join + min-struct formulation shuffles n·K rows — 1.3 B
    // intermediate at 100×; the higher-order aggregate() fold avoids the
    // expansion but evaluates interpreted and came out 1.5× slower still.)
    def assign(centRows: Seq[(Long, Seq[Long])]): DataFrame =
      if (centRows.isEmpty)
        // no seed vectors (empty table, or no vec_id < K): same empty
        // result the join-with-empty-broadcast formulation produced
        emb.select(col("vec_id"), col("q"), lit(-1L).as("cid")).filter(lit(false))
      else emb.select(col("vec_id"), col("q"),
        graft.functions.CentroidArgMin(col("q"), centRows).as("cid"))
    // constant-size driver collects: K=64 rows each, at any data scale
    def centroidRows(df: DataFrame): Seq[(Long, Seq[Long])] =
      df.collect().map(r =>
        (r.getLong(0), r.getSeq[Long](1))).toSeq
    val dims = 0 until 64
    val init = centroidRows(emb.filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("q").as("c")))
    val cents1 = centroidRows(assign(init)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        dims.map(i => sum(element_at(col("q"), i + 1)).as(s"s$i")): _*)
      .select(col("cid"), array(dims.map(i => expr(s"s$i div n")): _*).as("c")))
    // Final assignment carries v/nrm THROUGH the argmin projection instead
    // of joining them back on vec_id: everything lives on the same source
    // row, so the join was a corpus-wide exchange for nothing — and under
    // the band-sequential loop below it would have re-run once per band.
    val asg =
      if (cents1.isEmpty)
        emb.select(col("vec_id"), col("v"), col("nrm"), lit(-1L).as("cid"))
          .filter(lit(false))
      else emb.select(col("vec_id"), col("v"), col("nrm"),
        graft.functions.CentroidArgMin(col("q"), cents1).as("cid"))
    // in-cluster bands are WIDER than dedup_embedding's (6 bits, 8 bands):
    // the cluster already blocks the space, so the second layer trades
    // selectivity for recall while candidates stay ∝ bucket collisions
    def bucket(b: Int): Column = ((0 until SemBits).map { j =>
      val (i1, i2) = contrastDims(SemBits * b + j)
      when(element_at(col("v"), i1) - element_at(col("v"), i2) > 0,
        lit(1L << j)).otherwise(lit(0L))
    } ++ extraBitCols(col("v"), b, extra, SemBits)).reduce(_ + _)
    // Verify INSIDE the band join — the r11 sf100 lesson (found when this
    // query exhausted 60 GB of spill disk at 2M vectors, twice):
    // materializing the candidate PAIR set and then joining both vectors
    // onto it shuffles pairs × ~1 KB — and the pair mass is n·load/2·bands
    // (≈120 M here; LINEAR in n by the adaptive-bit schedule, but with a
    // constant that dwarfs the corpus). Shuffling pair-id rows first
    // (distinct, or dropDuplicates riding the join exchange) still left
    // the wide joins carrying every surviving pair. The scale-correct
    // plan: both sides of the bucket self-join already HOLD their
    // vectors, so compute the cosine in the join output and go SKINNY
    // immediately — shuffle is n·bands·(vector width) ≈ 8 GB/side at 2M
    // (∝ corpus, NOT ∝ pairs); collision rows reduce to 32-byte
    // (cid, a_id, b_id, cos) inside the join stage, the Tau filter kills
    // the random-collision bulk before anything else sees it, and the
    // terminal keep-lowest groupBy absorbs multi-band duplicates exactly
    // (min/max are duplicate-insensitive — ≤SemBands redundant cosines
    // per true pair is CPU, not shuffle). 346 s/fail → measured green at
    // sf100, and sf10 unchanged.
    // Round 13 (same probe-driven shape as dedupEmbedding): the ASSIGNED
    // base (cid, vec_id, double vector, norm) — quantize lambda + argmin
    // + norm, the expensive interpreted upstream — is materialized ONCE
    // to scratch parquet, and the banded self-join runs in adaptive
    // chunks off that columnar scan ([[bandJobs]]: the r12 all-bands
    // plan below [[BandSeqMinRows]], one band per job past it). The
    // terminal keep-lowest groupBy over the read-back dumps absorbs
    // multi-band duplicates exactly as it absorbed the unioned explode's
    // (min/max are duplicate-insensitive) — result identical at every
    // chunk size.
    val tmp = bandScratch("semdedup")
    asg.write.mode("overwrite").parquet(s"$tmp/base")
    val base = s.read
      .schema("vec_id BIGINT, v ARRAY<DOUBLE>, nrm DOUBLE, cid BIGINT")
      .parquet(s"$tmp/base")
    // Data-drift side-records (round-14 verdict task 5; round-15 task 6 —
    // see dedupEmbedding): candidate mass over the factored
    // (cid, band, bucket) blocking key = the banded self-join's a<b
    // output, and the post-τ survivor dump mass — both observed on each
    // chunk job's own write action, accumulated across chunks; the
    // round-14 standalone candidate agg (a full extra base pass) and the
    // dumps count() job are gone.
    graft.core.BenchStats.record("dedup_semantic", "corpus_rows", nRows)
    val jobs = bandJobs(SemBands, nRows)
    jobs.zipWithIndex.foreach { case ((bs, sub, subs), ci) =>
      val bandedAll = base.select(col("cid"), col("vec_id"), col("v"), col("nrm"),
          explode(array(bs.map(b =>
            struct(lit(b).as("band"), bucket(b).as("bucket"))): _*)).as("bb"))
        .select(col("cid"), col("vec_id"), col("v"), col("nrm"),
          col("bb.band").as("band"), col("bb.bucket").as("bucket"))
      // slice on the bucket residue only — cid rides along (a pair shares
      // BOTH its cid and bucket, so the slice partition stays exact)
      val banded = if (subs == 1) bandedAll
        else bandedAll.filter(pmod(col("bucket"), lit(subs.toLong)) === sub.toLong)
      val candidates = banded.select(col("cid"), col("band"), col("bucket"),
          col("vec_id").as("a_id"), col("v").as("av"), col("nrm").as("an"))
        .join(banded.select(col("cid"), col("band"), col("bucket"),
          col("vec_id").as("b_id"), col("v").as("bv"), col("nrm").as("bn")),
          Seq("cid", "band", "bucket"))
        .filter(col("a_id") < col("b_id"))
      val survivors = graft.core.BenchStats
        .observedSum(candidates, "dedup_semantic", s"cand_$ci",
          "candidate_pairs" -> count(lit(1)))
        .withColumn("cos", dot(col("av"), col("bv")) / (col("an") * col("bn")))
        .filter(col("cos") > Tau)
        .select(col("cid"), col("a_id"), col("b_id"), col("cos"))
      graft.core.BenchStats
        .observedSum(survivors, "dedup_semantic", s"surv_$ci",
          "survivor_dump_rows" -> count(lit(1)))
        .write.mode("overwrite").parquet(s"$tmp/chunk_$ci")
      releaseBandShuffles(nRows)
    }
    rmTree(s"$tmp/base") // free the assigned base before the output phase
    def dumps = s.read.schema("cid BIGINT, a_id BIGINT, b_id BIGINT, cos DOUBLE")
      .parquet(jobs.indices.map(i => s"$tmp/chunk_$i"): _*)
    def finalAgg(df: DataFrame): DataFrame = df
      .groupBy(col("b_id").as("vec_id"), col("cid"))
      .agg(min(col("a_id")).as("dup_of"), round(max(col("cos")), 4).as("max_cosine"))
    val subs0 = jobs.head._3
    if (subs0 == 1) finalAgg(dumps)
    else {
      // residue-sliced output phase (see dedupEmbedding): every
      // (vec_id = b_id, cid) group lives in exactly one b_id residue
      // class, so the union of sliced aggregates is the exact aggregate
      (0 until subs0).foreach { r =>
        finalAgg(dumps.filter(pmod(col("b_id"), lit(subs0.toLong)) === r.toLong))
          .write.mode("overwrite").parquet(s"$tmp/final_$r")
        releaseBandShuffles(nRows)
      }
      jobs.indices.foreach(i => rmTree(s"$tmp/chunk_$i"))
      s.read.schema("vec_id BIGINT, cid BIGINT, dup_of BIGINT, max_cosine DOUBLE")
        .parquet((0 until subs0).map(r => s"$tmp/final_$r"): _*)
    }
  }
  val dedupSemanticSql = {
    val sums = (0 until 64).map(i => s"sum(q[${i + 1}]) AS s$i").mkString(", ")
    val means = (0 until 64).map(i => s"s$i // n").mkString(", ")
    val bands = (0 until SemBands).map { b =>
      val bits = (0 until SemBits).map { j =>
        val (i1, i2) = contrastDims(SemBits * b + j)
        s"CASE WHEN e.v[$i1] - e.v[$i2] > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"SELECT a2.cid, a2.vec_id, $b AS band, CAST($bits AS BIGINT) AS bucket " +
        "FROM a2 JOIN emb e ON e.vec_id = a2.vec_id"
    }.mkString("\nUNION ALL\n")
    """WITH emb AS (
      |  SELECT vec_id,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT) + 10000000) AS q,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
      |    sqrt(list_sum(list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cid, q AS c FROM emb WHERE vec_id < 64),
      |a1 AS (SELECT vec_id, q, cid FROM (
      |  SELECT e.vec_id, e.q, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(e.q, c.c), p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rk
      |  FROM emb e, c0 c) WHERE rk = 1),
      |s1 AS (SELECT cid, CAST(count(*) AS BIGINT) AS n, SUMS FROM a1 GROUP BY cid),
      |c1 AS (SELECT cid, [MEANS] AS c FROM s1),
      |a2 AS (SELECT vec_id, cid FROM (
      |  SELECT e.vec_id, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_sum(list_transform(list_zip(e.q, c.c), p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rk
      |  FROM emb e, c1 c) WHERE rk = 1),
      |sig AS (
      |BANDS),
      |cand AS (
      |  SELECT DISTINCT a.cid, a.vec_id AS a_id, b.vec_id AS b_id
      |  FROM sig a JOIN sig b ON a.cid = b.cid AND a.band = b.band
      |    AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
      |SELECT cand.b_id AS vec_id, cand.cid AS cid, min(cand.a_id) AS dup_of,
      |  round(max(list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1]*p[2]))
      |    / (ea.nrm * eb.nrm)), 4) AS max_cosine
      |FROM cand
      |JOIN emb ea ON ea.vec_id = cand.a_id
      |JOIN emb eb ON eb.vec_id = cand.b_id
      |WHERE list_sum(list_transform(list_zip(ea.v, eb.v), p -> p[1]*p[2]))
      |  / (ea.nrm * eb.nrm) > 0.3
      |GROUP BY cand.b_id, cand.cid""".stripMargin
      .replace("SUMS", sums).replace("[MEANS]", "[" + means + "]")
      .replace("BANDS", bands)
  }

  /** Higher-order array functions over the embedding column — transform /
    * filter / aggregate / zip_with / array_position, the codegen'd
    * `functions._` kernels a vector pipeline composes instead of UDFs.
    * Everything folds in fixed-point int64 (floor(x·1000 + 0.5)) so the
    * per-element fold order cannot perturb the result: integer addition
    * commutes, float addition does not. Pure narrow scan — no shuffle. */
  val arrayHof: Q = (s, dir) =>
    table(s, dir, "embeddings")
      .withColumn("mili",
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000 + 0.5) as bigint))"))
      .withColumn("dim", size(col("embedding")).cast("long"))
      .select(col("vec_id"), col("dim"),
        expr("cast(size(filter(mili, x -> x > 0)) as bigint)").as("n_pos"),
        expr("aggregate(mili, 0L, (a, x) -> a + abs(x))").as("l1_mili"),
        expr("cast(array_position(mili, array_max(mili)) as bigint)").as("argmax_pos"),
        expr("aggregate(zip_with(mili, reverse(mili), (x, y) -> x * y), 0L, (a, x) -> a + x)")
          .as("rev_dot"))
  val arrayHofSql =
    """WITH m AS (
      |  SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
      |    list_transform(embedding, x ->
      |      CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)) AS mili
      |  FROM embeddings)
      |SELECT vec_id, dim,
      |  CAST(len(list_filter(mili, x -> x > 0)) AS BIGINT) AS n_pos,
      |  CAST(list_sum(list_transform(mili, x -> abs(x))) AS BIGINT) AS l1_mili,
      |  CAST(list_position(mili, list_max(mili)) AS BIGINT) AS argmax_pos,
      |  CAST(list_sum(list_transform(range(1, dim + 1),
      |    i -> mili[i] * mili[dim + 1 - i])) AS BIGINT) AS rev_dot
      |FROM m""".stripMargin

  /** Index-quality measurement: recall@3 of the IVF search
    * ([[annIvfTopk]]: 2-probe over label-centroid lists) against the exact
    * brute-force top-3 for the same query set — the evaluation loop every
    * ANN deployment runs before trusting an index. Both sides are fully
    * deterministic (integer centroids, exact cosine, id tie-breaks), so
    * recall itself is oracle-checkable — no tolerance band needed.
    *
    * Scale shape: the approximate side inherits IVF's pruned-list costs;
    * the exact side is the brute baseline over the SAME small query set
    * (queries ≪ corpus — the standard recall-eval protocol samples a few
    * hundred queries regardless of corpus size, so the brute join is
    * queries × corpus with a broadcast query side, one pass). The final
    * comparison joins two k-row-per-query sets on (q_id, c_id) — trivially
    * broadcast at any corpus scale. */
  val annRecallEval: Q = (s, dir) => {
    val ivf = annIvfTopk(s, dir).select(col("q_id"), col("c_id"))
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = broadcast(q).join(
        emb.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn")),
        col("q_id") =!= col("c_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("c_id"))
    val brute = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3).select(col("q_id"), col("c_id"))
    brute.join(ivf.withColumn("hit", lit(1L)), Seq("q_id", "c_id"), "left")
      .groupBy(col("q_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_pct", expr("(n_hits * 100) div 3"))
  }
  val annRecallEvalSql =
    s"""WITH ivf AS (SELECT q_id, c_id FROM (
       |  ${annIvfTopkSql.replace("\n", "\n  ")})),
       |emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |brute AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) / (q.nrm * c.nrm) DESC,
       |        c.vec_id) AS rank
       |    FROM emb q JOIN emb c ON q.vec_id < 3 AND c.vec_id <> q.vec_id)
       |  WHERE rank <= 3)
       |SELECT b.q_id, CAST(sum(CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |  CAST((sum(CASE WHEN i.c_id IS NOT NULL THEN 1 ELSE 0 END) * 100) // 3 AS BIGINT) AS recall_pct
       |FROM brute b LEFT JOIN ivf i ON b.q_id = i.q_id AND b.c_id = i.c_id
       |GROUP BY b.q_id""".stripMargin

  /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al. 2009):
    * the BM25 lexical top-10 ([[TextOps.textBm25]]) and the cosine vector
    * top-10 (query vector 0) are fused by summed reciprocal ranks —
    * `1e6 div (60 + rank)` per system, INTEGER fixed-point so the fusion
    * arithmetic is bit-portable and the op fully oracle-checkable. This is
    * the standard way modern curation/retrieval stacks combine lexical and
    * semantic signals (decontamination lookups, dedup candidate retrieval,
    * RAG); ids follow the fixture convention `vec_id ≡ doc_id`.
    *
    * Scale shape: each arm produces a k-row result via its own bounded
    * top-k (BM25's TakeOrdered; the brute arm is the recall-eval protocol's
    * broadcast-query pass — swap in [[annIvfTopk]]'s pruned lists when the
    * corpus outgrows it). The fusion itself joins two ≤k-row sets — the
    * rank windows and the full-outer join run on ≤10 rows by construction,
    * never on corpus-sized data. */
  val rankFusion: Q = (s, dir) => {
    // ≤10 rows by construction; the constant-valued partition key keeps the
    // plan out of WindowExec's empty-partitionSpec path (no global-window
    // warning) while costing the same single tiny partition. col*0 rather
    // than lit(0): EliminateWindowPartitions folds literal keys away.
    val wt = Window.partitionBy(col("doc_id") * 0).orderBy(col("bm25").desc, col("doc_id"))
    val text10 = TextOps.textBm25(s, dir)
      .withColumn("text_rank", row_number().over(wt))
      .select(col("doc_id").as("id"), col("text_rank"))
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = emb.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val top = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos", dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
      .orderBy(col("cos").desc, col("vec_id")).limit(10) // TakeOrdered
    val wv = Window.partitionBy(col("vec_id") * 0).orderBy(col("cos").desc, col("vec_id")) // ≤10 rows
    val vec10 = top.withColumn("vec_rank", row_number().over(wv))
      .select(col("vec_id").as("id"), col("vec_rank"))
    text10.join(vec10, Seq("id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr("1000000 div (60 + text_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + vec_rank)"), lit(0L)))
      .orderBy(col("rrf").desc, col("id")).limit(10)
      .select(col("id").as("doc_id"), col("text_rank"), col("vec_rank"), col("rrf"))
  }
  val rankFusionSql =
    s"""WITH bm AS (${TextOps.textBm25Sql.replace("\n", "\n  ")}),
       |t10 AS (SELECT doc_id AS id,
       |  row_number() OVER (ORDER BY bm25 DESC, doc_id) AS text_rank FROM bm),
       |emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |top AS (
       |  SELECT c.vec_id,
       |    list_sum(list_transform(list_zip(q.v, c.v), p -> p[1] * p[2])) / (q.nrm * c.nrm) AS cos
       |  FROM emb c, (SELECT v, nrm FROM emb WHERE vec_id = 0) q
       |  WHERE c.vec_id <> 0
       |  ORDER BY cos DESC, c.vec_id LIMIT 10),
       |v10 AS (SELECT vec_id AS id,
       |  row_number() OVER (ORDER BY cos DESC, vec_id) AS vec_rank FROM top),
       |fused AS (
       |  SELECT coalesce(t10.id, v10.id) AS doc_id, text_rank, vec_rank,
       |    coalesce(1000000 // (60 + text_rank), 0)
       |      + coalesce(1000000 // (60 + vec_rank), 0) AS rrf
       |  FROM t10 FULL OUTER JOIN v10 ON t10.id = v10.id)
       |SELECT doc_id, text_rank, vec_rank, CAST(rrf AS BIGINT) AS rrf
       |FROM fused ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin

  // public: encoder-generated code constructs/reads these reflectively
  final case class MmrCand(c_id: Long, rel: Double)
  final case class MmrSim(a_id: Long, b_id: Long, sim: Double)
  final case class MmrGroup(q_id: Long, cands: Seq[MmrCand], sims: Seq[MmrSim])
  final case class MmrPick(q_id: Long, sel_rank: Int, c_id: Long, score: Double)

  /** Diversity-aware reranking via maximal marginal relevance (MMR,
    * Carbonell & Goldstein 1998): from each query's cosine top-10, greedily
    * select 5, each step maximizing `0.7·rel − 0.3·maxSim(selected)` —
    * the dedup-at-serving-time step that keeps a retrieval batch (or a
    * curated training slice) from being k near-copies of the best hit.
    * `maxSim` clamps at 0 (a negatively-similar doc is simply "fully
    * diverse"); ties break by id, so selection is fully deterministic and
    * the oracle replays the greedy loop exactly (5 unrolled argmax CTEs).
    *
    * All float arithmetic that DRIVES decisions (rel, pairwise sims) is
    * computed by the same codegen'd dot expression the oracle's `list_sum`
    * mirrors bit-for-bit; the greedy loop itself only compares and forms
    * `0.7·x − 0.3·y`, identical IEEE ops on both engines.
    *
    * Scale shape: candidate generation is the ANN problem (swap in
    * [[annIvfTopk]]/[[annLshTopk]] past brute scale); everything after is
    * per-query bounded — k rows, k² sims, a k-item greedy loop — grouped on
    * q_id, embarrassingly parallel across queries, no corpus-sized state. */
  val rankMmr: Q = (s, dir) => {
    import s.implicits._
    val emb = table(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qn"))
    val cand = emb.select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cn"))
    val wr = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("c_id"))
    // Materialize the top-k ONCE (queries × 10 rows): rels and both sides
    // of the pair join reuse it, so the corpus is scanned a single time —
    // without this the lazy plan re-derives the scan+window three times.
    val top = cand.join(broadcast(q), col("c_id") =!= col("q_id"))
      .withColumn("rel", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= 10)
      .select(col("q_id"), col("c_id"), col("rel"), col("cv"), col("cn"))
      .localCheckpoint()
    val pair = top.select(col("q_id"), col("c_id").as("a_id"), col("cv").as("av"), col("cn").as("an"))
      .join(top.select(col("q_id"), col("c_id").as("b_id"), col("cv").as("bv"), col("cn").as("bn")),
        Seq("q_id"))
      .filter(col("a_id") =!= col("b_id"))
      .select(col("q_id"), col("a_id"), col("b_id"),
        (dot(col("av"), col("bv")) / (col("an") * col("bn"))).as("sim"))
    val grouped = top.groupBy(col("q_id"))
      .agg(collect_list(struct(col("c_id"), col("rel"))).as("cands"))
      .join(pair.groupBy(col("q_id"))
        .agg(collect_list(struct(col("a_id"), col("b_id"), col("sim"))).as("sims")),
        Seq("q_id"))
    grouped.as[MmrGroup].flatMap { g =>
      val sim = g.sims.map(x => (x.a_id, x.b_id) -> x.sim).toMap
      var chosen = List.empty[Long] // selection order is irrelevant to max
      val out = Seq.newBuilder[MmrPick]
      var step = 1
      while (step <= 5 && chosen.size < g.cands.size) {
        var bestId = -1L; var bestScore = 0.0; var first = true
        g.cands.foreach { c =>
          if (!chosen.contains(c.c_id)) {
            var maxSim = 0.0
            chosen.foreach { sid =>
              val sv = sim((c.c_id, sid)); if (sv > maxSim) maxSim = sv
            }
            val score = 0.7 * c.rel - 0.3 * maxSim
            if (first || score > bestScore ||
                (score == bestScore && c.c_id < bestId)) {
              bestId = c.c_id; bestScore = score; first = false
            }
          }
        }
        out += MmrPick(g.q_id, step, bestId, bestScore)
        chosen ::= bestId
        step += 1
      }
      out.result()
    }.toDF()
      .select(col("q_id"), col("sel_rank"), col("c_id"),
        round(col("score"), 4).as("mmr_score"))
  }
  val rankMmrSql = {
    def dotOver(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> p[1] * p[2]))"
    // step k: argmax of 0.7·rel − 0.3·max(0, sim to each of s1..s_{k-1})
    val steps = (2 to 5).map { k =>
      val simJoins = (1 until k).map(j =>
        s"JOIN s$j ON s$j.q_id = t.q_id " +
          s"JOIN sim x$j ON x$j.q_id = t.q_id AND x$j.a_id = t.c_id AND x$j.b_id = s$j.c_id")
        .mkString("\n    ")
      val gr = "greatest(0.0, " + (1 until k).map(j => s"x$j.sim").mkString(", ") + ")"
      val score = s"0.7 * t.rel - 0.3 * $gr"
      s"""s$k AS (SELECT q_id, c_id, score FROM (
         |  SELECT t.q_id, t.c_id, $score AS score,
         |    row_number() OVER (PARTITION BY t.q_id ORDER BY $score DESC, t.c_id) AS rn
         |  FROM top t
         |    $simJoins) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val out = (1 to 5).map(k =>
      s"SELECT q_id, $k AS sel_rank, c_id, round(score, 4) AS mmr_score FROM s$k")
      .mkString("\nUNION ALL\n")
    s"""WITH emb AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
       |    ${dotOver("q.v", "c.v")} / (q.nrm * c.nrm) AS rel, c.v AS cv, c.nrm AS cn
       |  FROM emb q JOIN emb c ON q.vec_id < 3 AND c.vec_id <> q.vec_id),
       |top AS (SELECT q_id, c_id, rel, cv, cn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rk
       |  FROM scored) WHERE rk <= 10),
       |sim AS (
       |  SELECT a.q_id, a.c_id AS a_id, b.c_id AS b_id,
       |    ${dotOver("a.cv", "b.cv")} / (a.cn * b.cn) AS sim
       |  FROM top a JOIN top b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
       |s1 AS (SELECT q_id, c_id, 0.7 * rel AS score FROM (
       |  SELECT q_id, c_id, rel,
       |    row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, c_id) AS rn
       |  FROM top) WHERE rn = 1),
       |$steps
       |$out""".stripMargin
  }

  def defs: Map[String, (Q, Option[String])] = Map(
    "rank_fusion" -> (rankFusion, Some(rankFusionSql)),
    "rank_mmr" -> (rankMmr, Some(rankMmrSql)),
    "ann_recall_eval" -> (annRecallEval, Some(annRecallEvalSql)),
    "array_hof" -> (arrayHof, Some(arrayHofSql)),
    "kmeans_quantized" -> (kmeansQuantized, Some(kmeansQuantizedSql)),
    "ann_pq_rerank" -> (annPqRerank, Some(annPqRerankSql)),
    "embed_pq" -> (embedPq, Some(embedPqSql)),
    "embed_quantize_int8" -> (embedQuantize, Some(embedQuantizeSql)),
    "ann_lsh_topk" -> (annLshTopk, Some(annLshTopkSql)),
    "ann_ivf_topk" -> (annIvfTopk, Some(annIvfTopkSql)),
    "ann_brute_cosine" -> (annBruteCosine, Some(annBruteCosineSql)),
    "dedup_embedding" -> (dedupEmbedding, Some(dedupEmbeddingSql)),
    "dedup_adaptive_bits" -> (dedupAdaptiveBits, Some(dedupAdaptiveBitsSql)),
    "dedup_semantic" -> (dedupSemantic, Some(dedupSemanticSql)),
    "ann_lsh_buckets" -> (annLshBuckets, Some(annLshBucketsSql)),
    "ivf_centroid_residuals" -> (ivfCentroidResiduals, Some(ivfCentroidResidualsSql)),
  )
}
