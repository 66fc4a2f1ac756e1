package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes an N× blow-up of a driver testdata directory, for scale-proof
  * benchmarking (`runMain graft.ScaleGen <srcDir> <outDir> <factor>`).
  *
  * Design goal: the scaled data must present the SAME WORKLOAD SHAPE, just
  * bigger — not a pathological variant of it. Concretely:
  *   - `region`/`nation` stay fixed (TPC-H dims don't scale with SF);
  *   - every key column is offset by `copy * (max(key)+1)`, with the SAME
  *     offset used across tables (orders.o_custkey and customer.c_custkey
  *     shift together), so referential joins stay within a copy and results
  *     scale ~linearly — keys never collide across copies;
  *   - event timestamps are kept, so time windows get N× denser (the
  *     streaming/sessionize shape at higher throughput) while per-user
  *     session structure is preserved via offset user ids;
  *   - document TEXT goes through a per-copy character BIJECTION
  *     (two rotated translate alphabets → up to 100 distinct maps;
  *     generate() rejects larger factors). A
  *     bijection preserves every within-copy equality/similarity relation —
  *     each copy mirrors the original's duplicate structure bit-for-bit in
  *     hash space — while making cross-copy shingles distinct, so near-dup
  *     candidate counts scale N×, not N² (verbatim-copied text would make
  *     every doc a near-duplicate of its 9 clones and turn the LSH bench
  *     into an everything-matches-everything graph that no real corpus has);
  *   - embeddings go through a per-copy ISOMETRY (dimension rotation +
  *     sign flip) — within-copy cosine/near-dup structure is preserved
  *     exactly, cross-copy vectors decorrelate, so capless embedding dedup
  *     scales N× in candidates, not N² (see [[copyVec]]).
  */
object ScaleGen {

  // two disjoint 10-letter alphabets; rotating the first by k%10 and the
  // second by (k/10)%10 yields UP TO 100 distinct compositions of
  // bijections — factor > 100 would silently reuse copy 0's identity map
  // and reintroduce the verbatim-duplicate pathology, so generate() rejects it.
  // Past 100×, CHAIN the generator (sf10 dir → ×10 → sf100, the round-11
  // third decade): rotation composition folds the 1000 copies into exactly
  // 100 bijection classes, i.e. deliberate 10-WAY EXACT-CLONE classes —
  // duplicate multiplicity real crawls have. Dedup outputs then scale with
  // TRUE DUPLICATE MASS (~300× pairs for 10× rows at sf100), never
  // quadratically; adjudicate output-bound flags against that, not row
  // count (SCALING.md round-11).
  val MaxFactor = 100
  private val Alpha1 = "aeiounrstl"
  private val Alpha2 = "bcdfghjkmp"

  /** Provenance marker (round-15 verdict task 3): every generated corpus
    * records its FULL generation chain, and [[generate]] refuses to chain
    * from anything but a direct ×[[MaxFactor]] base unless the stress flag
    * is set. Round 15 burned a full sf100 battery on an accidental ×10×10
    * chain (rotation composition folds 100 copies into 10 bijection
    * classes → 10-way clones at sf10, 100-way at sf100) that only the
    * in-plan mass records caught after the fact; the marker makes the
    * mistake impossible instead of merely diagnosable. */
  val MarkerName = "_GRAFT_SCALEGEN.json"

  /** The exact set of text-bijection classes a generation CHAIN produces:
    * each copy k applies rotations (k%10, (k/10)%10) to the two alphabets,
    * rotations compose additively mod 10 across chained generations, so
    * the class set of a chain is the sumset-fold of its factors' class
    * sets. |classSet(Seq(100))| = 100 (all combos); |classSet(Seq(10,10))|
    * = 10 (the r15 accident: Alpha2 never engages);
    * |classSet(Seq(100,10))| = 100 (the canonical sf100 regime — 10-way
    * clones by design). */
  private[graft] def classSet(factors: Seq[Int]): Set[(Int, Int)] =
    factors.foldLeft(Set((0, 0))) { (acc, f) =>
      val step = (0 until f).map(k => (k % 10, (k / 10) % 10)).toSet
      for (a <- acc; b <- step) yield ((a._1 + b._1) % 10, (a._2 + b._2) % 10)
    }

  /** Root under which marker-less parquet dirs are trusted as pristine
    * base data (the driver's own testdata). Everywhere else a marker-less
    * dir full of tables is suspect — a pre-marker chained corpus or a
    * crashed generation — and [[generate]] refuses it without `--stress`
    * (round-16 verdict task 1: `readChain` alone treated ANY marker-less
    * dir as pristine, so a stale pre-r16 corpus under target/scale
    * silently defeated the chain guard). */
  private[graft] val TestdataRoot =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA_ROOT", "/root/testdata")

  private def underTestdata(dir: String): Boolean = {
    val d = new java.io.File(dir).getCanonicalPath
    val root = new java.io.File(TestdataRoot).getCanonicalPath
    d == root || d.startsWith(root + java.io.File.separator)
  }

  /** Generation chain recorded in a corpus dir's marker: Nil = driver
    * testdata (no marker). */
  private[graft] def readChain(dir: String): Seq[Int] = {
    val f = new java.io.File(dir, MarkerName)
    if (!f.isFile) Nil
    else {
      // an unreadable marker is a half-written or hand-mangled corpus —
      // refuse loudly rather than silently treating it as pristine base data
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val fs = node.get("factors")
      require(fs != null && fs.isArray, s"unparseable ScaleGen marker at $f")
      (0 until fs.size).map(fs.get(_).asInt)
    }
  }

  private def rot(s: String, k: Int): String = {
    val r = k % s.length
    s.substring(r) + s.substring(0, r)
  }

  /** Per-copy text bijection: identity for copy 0. */
  private def copyText(text: Column, k: Int): Column =
    if (k == 0) text
    else translate(translate(text, Alpha1, rot(Alpha1, k % 10)), Alpha2, rot(Alpha2, (k / 10) % 10))

  /** Per-copy embedding ISOMETRY (the vector twin of the text bijection):
    * rotate the 64 dimensions by (k/2) mod 64 and negate every coordinate
    * for odd k — both preserve dot products and norms WITHIN a copy, so
    * each copy mirrors the original's cosine/near-dup structure exactly,
    * while cross-copy pairs decorrelate (different sign-LSH buckets).
    * Verbatim copies would give every vector N−1 exact clones and make any
    * capless embedding-dedup bench quadratic BY CONSTRUCTION of the data —
    * the same pathology the text bijection exists to avoid. (parity,
    * rotation) pairs are distinct for k < 128 > MaxFactor. */
  private def copyVec(v: Column, k: Int): Column = {
    if (k == 0) v
    else {
      val r = (k / 2) % 64
      val rotated =
        if (r == 0) v else concat(slice(v, r + 1, 64 - r), slice(v, 1, r))
      if (k % 2 == 1) transform(rotated, x => -x) else rotated
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .appName("graft-scalegen")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // --stress: explicit opt-in to chain from a non-canonical base — the
    // 10/100-way-clone stress regimes
    generate(spark, args(0), args(1), args(2).toInt, stress = args.contains("--stress"))
    spark.stop()
  }

  /** The generation itself, against a caller-owned session. `stress = true`
    * permits chaining from a base the provenance guard would refuse. */
  def generate(spark: SparkSession, srcDir: String, outDir: String, factor: Int,
      stress: Boolean = false): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor must be in [1, $MaxFactor] (only $MaxFactor distinct text bijections exist); got $factor")
    // Provenance guard: chaining is legitimate ONLY from a direct
    // ×MaxFactor base (the canonical sf100 recipe — all 100 bijection
    // classes engaged, so the chain adds 10-way clones ON TOP of full
    // bijection diversity). Any other chain folds the rotation composition
    // into fewer classes (×10×10 → 10) and silently multiplies clone
    // mass — the r15 accident. The stress flag keeps the clone regimes
    // reachable, deliberately.
    val srcChain = readChain(srcDir)
    // A marker-less base is trustworthy ONLY under the driver testdata
    // root: anywhere else, "no marker" means either a corpus generated
    // before markers existed (provenance unknown — the exact stale-restore
    // hole) or a crashed generation's half-corpus (the marker is deleted
    // first, written last — see below). Both must refuse without --stress.
    require(srcChain.nonEmpty || underTestdata(srcDir) || stress,
      s"refusing to generate from marker-less base $srcDir: it is not under " +
        s"the driver testdata root ($TestdataRoot) and carries no " +
        s"$MarkerName, so its provenance (and bijection-class count) is " +
        "unknown — a pre-marker chained corpus or a crashed generation. " +
        "Pass --stress to use it anyway.")
    require(srcChain.isEmpty || srcChain == Seq(MaxFactor) || stress,
      s"refusing to chain ScaleGen from $srcDir: its marker records factors " +
        s"${srcChain.mkString("[", "x", "]")} (not a direct x$MaxFactor base) — " +
        s"the composed corpus would fold to ${classSet(srcChain :+ factor).size} " +
        s"bijection classes for ${(srcChain :+ factor).product} copies. " +
        "Pass --stress to build a clone-" +
        "regime corpus on purpose.")
    // Delete any pre-existing marker BEFORE touching tables (round-16
    // advice): a crashed RE-generation must not leave the OLD marker
    // beside partially-overwritten tables — the guard and clone_probe.sh
    // would then trust a stale chain. With the delete here and the write
    // last, a crash at any point leaves a marker-less dir, which the
    // guard above refuses as a base. The delete itself must be LOUD
    // (round-17 advice): a discarded File.delete() false (permissions,
    // marker-is-a-directory) would let generation proceed with the old
    // marker still in place — deleteIfExists throws on failure, and the
    // require pins the postcondition the whole delete-first design needs.
    val oldMarker = new java.io.File(outDir, MarkerName)
    java.nio.file.Files.deleteIfExists(oldMarker.toPath): Unit
    require(!oldMarker.exists,
      s"stale ScaleGen marker at $oldMarker survived deletion — refusing to " +
        "generate beside it (a crash would leave the OLD chain trusted)")
    def tbl(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def out(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scalegen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // fixed dims: verbatim copy
    Seq("region", "nation").foreach(t => out(tbl(t), t))

    // key offsets = max+1, shared across tables (cast + null-guard: an
    // int32-typed or empty key column must not NPE/ClassCast mid-generation)
    def off(df: DataFrame, key: String): Long = {
      val row = df.agg(max(col(key).cast("long"))).head()
      (if (row.isNullAt(0)) -1L else row.getLong(0)) + 1L
    }

    val customer = tbl("customer"); val supplier = tbl("supplier")
    val part = tbl("part"); val orders = tbl("orders"); val lineitem = tbl("lineitem")
    val events = tbl("events"); val documents = tbl("documents"); val embeddings = tbl("embeddings")
    val cOff = off(customer, "c_custkey"); val sOff = off(supplier, "s_suppkey")
    val pOff = off(part, "p_partkey"); val oOff = off(orders, "o_orderkey")
    val eOff = off(events, "event_id"); val uOff = off(events, "user_id")
    val dOff = off(documents, "doc_id"); val vOff = off(embeddings, "vec_id")

    /** N disjoint transformed copies, unioned. */
    def scaled(df: DataFrame)(tx: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => tx(df, k)).reduce(_ unionAll _)

    def shift(c: String, o: Long, k: Int): Column = (col(c) + lit(o * k)).as(c)

    out(scaled(customer)((d, k) => d.withColumn("c_custkey", shift("c_custkey", cOff, k))), "customer")
    out(scaled(supplier)((d, k) => d.withColumn("s_suppkey", shift("s_suppkey", sOff, k))), "supplier")
    out(scaled(part)((d, k) => d.withColumn("p_partkey", shift("p_partkey", pOff, k))), "part")
    out(scaled(orders)((d, k) => d
      .withColumn("o_orderkey", shift("o_orderkey", oOff, k))
      .withColumn("o_custkey", shift("o_custkey", cOff, k))), "orders")
    out(scaled(lineitem)((d, k) => d
      .withColumn("l_orderkey", shift("l_orderkey", oOff, k))
      .withColumn("l_partkey", shift("l_partkey", pOff, k))
      .withColumn("l_suppkey", shift("l_suppkey", sOff, k))), "lineitem")
    out(scaled(events)((d, k) => d
      .withColumn("event_id", shift("event_id", eOff, k))
      .withColumn("user_id", shift("user_id", uOff, k))), "events")
    out(scaled(documents)((d, k) => d
      .withColumn("doc_id", shift("doc_id", dOff, k))
      .withColumn("text", copyText(col("text"), k))), "documents")
    out(scaled(embeddings)((d, k) => d
      .withColumn("vec_id", shift("vec_id", vOff, k))
      .withColumn("embedding", copyVec(col("embedding"), k))), "embeddings")

    // provenance marker, written LAST (paired with the delete-first above:
    // a crash at ANY point leaves a marker-less dir, and a marker-less
    // non-testdata dir is refused as a base by the guard — half-corpora
    // can neither masquerade as pristine data nor carry a stale chain)
    val chain = srcChain :+ factor
    val classes = classSet(chain).size
    val marker =
      s"""{"factors":${chain.mkString("[", ",", "]")},"src":"${new java.io.File(srcDir).getAbsolutePath}",""" +
      s""""total_factor":${chain.product},"bijection_classes":$classes,""" +
      s""""clone_multiplicity":${math.max(1, chain.product / math.max(1, classes))},"stress":$stress}"""
    java.nio.file.Files.write(new java.io.File(outDir, MarkerName).toPath,
      (marker + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"[scalegen] marker: $marker")
  }
}
