package graft

import org.apache.spark.sql.functions._

/** Pins [[graft.functions.PqNearest]] — the codegen'd PQ assignment that
  * round 19 swapped in for the broadcast-expansion + min(struct(dist2, cid))
  * form in `pqAssign` (embed_pq / ann_pq_rerank) — to the declarative
  * formulation it replaced, including the tie and short-codebook edges. */
class PqNearestSpec extends SparkSpec {
  import graft.functions.PqNearest

  private val dims = 4

  /** Declarative reference: explode candidates, interpreted distance,
    * lexicographic struct-min — exactly the pre-r19 pqAssign. */
  private def referenceAssign(
      rows: Seq[(Long, Int, Seq[Double])],
      codebook: Seq[(Int, Long, Seq[Double])]): Map[(Long, Int), (Long, Double)] = {
    import spark.implicits._
    val sv = rows.toDF("id", "m", "sv")
    val cb = codebook.toDF("m", "cid", "cv").select(col("cid"), col("m"), col("cv"))
    val d2 = aggregate(zip_with(col("sv"), col("cv"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    sv.join(broadcast(cb), Seq("m"))
      .withColumn("dist2", d2)
      .groupBy(col("id"), col("m"))
      .agg(min(struct(col("dist2"), col("cid"))).as("best"))
      .select(col("id"), col("m"), col("best.cid"), col("best.dist2"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  private def exprAssign(
      rows: Seq[(Long, Int, Seq[Double])],
      codebook: Seq[(Int, Long, Seq[Double])]): Map[(Long, Int), (Long, Double)] = {
    import spark.implicits._
    rows.toDF("id", "m", "sv")
      .select(col("id"), col("m"),
        PqNearest.cid(col("m"), col("sv"), codebook).as("cid"),
        PqNearest.d2(col("m"), col("sv"), codebook).as("dist2"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
  }

  test("PqNearest: cid and dist2 bit-match the struct-min reference, incl. ties") {
    // two subspaces, 3 centroids each; centroid 5 and 7 of m=1 are EQUAL so
    // vectors nearest them tie on dist2 and must resolve to the lower cid
    val codebook = Seq(
      (0, 1L, Seq(0.0, 0.0, 0.0, 0.0)),
      (0, 2L, Seq(1.0, 1.0, 1.0, 1.0)),
      (0, 9L, Seq(-1.0, 2.0, 0.5, 0.25)),
      (1, 5L, Seq(0.5, 0.5, 0.5, 0.5)),
      (1, 7L, Seq(0.5, 0.5, 0.5, 0.5)),
      (1, 8L, Seq(3.0, 3.0, 3.0, 3.0)))
    val rows = (0L until 40L).flatMap { i =>
      val v = Seq.tabulate(dims)(j => math.sin(i * 13.0 + j) * 1.7)
      Seq((i, 0, v), (i, 1, v))
    } :+ ((99L, 1, Seq(0.5, 0.5, 0.5, 0.5)))  // exact tie with cids 5 and 7
    val ref = referenceAssign(rows, codebook)
    val got = exprAssign(rows, codebook)
    assert(got.size == ref.size)
    ref.foreach { case (k, (cid, d2)) =>
      val (gcid, gd2) = got(k)
      assert(gcid == cid, s"cid mismatch at $k")
      // bit-equal doubles: same left-to-right accumulation order
      assert(java.lang.Double.doubleToRawLongBits(gd2) ==
        java.lang.Double.doubleToRawLongBits(d2), s"dist2 mismatch at $k")
    }
    assert(got((99L, 1))._1 == 5L, "tie must resolve to the lowest cid")
  }

  test("PqNearest: codebook order is irrelevant (apply sorts cid-ascending)") {
    val cb = Seq((0, 7L, Seq(1.0, 0.0, 0.0, 0.0)), (0, 3L, Seq(1.0, 0.0, 0.0, 0.0)))
    val rows = Seq((1L, 0, Seq(1.0, 0.0, 0.0, 0.0)))
    assert(exprAssign(rows, cb)((1L, 0))._1 == 3L)
    assert(exprAssign(rows, cb.reverse)((1L, 0))._1 == 3L)
  }

  /** The messages along the failure chain of `PqNearest.cid` over one row,
    * under generated code (fallback off) and under interpreted evaluation.
    * The inputs derive from `id`, so nothing is folded at planning time. */
  private def failures(m: Int, sv: Seq[Double],
      codebook: Seq[(Int, Long, Seq[Double])]): Seq[String] = {
    val id = col("id")
    def query() = spark.range(1).select(PqNearest.cid(id.cast("int") + m,
      array(sv.map(x => id.cast("double") + x): _*), codebook)).collect()
    Seq(Seq("spark.sql.codegen.fallback" -> "false"),
        Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
      .map { conf =>
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val e = try intercept[Exception](query()) finally conf.foreach { case (k, _) => spark.conf.unset(k) }
        Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .map(t => String.valueOf(t.getMessage)).mkString(" / ")
      }
  }

  private val book = Seq((0, 1L, Seq(0.0, 0.0)), (2, 2L, Seq(1.0, 1.0)))

  test("PqNearest: an m outside the codebook fails by name, generated and interpreted") {
    failures(3, Seq(0.0, 0.0), book).foreach(msg =>
      assert(msg.contains("PqNearest: subspace m=3 is outside the codebook (0 to 2)"), msg))
  }

  test("PqNearest: an m with no codebook entries fails by name, generated and interpreted") {
    failures(1, Seq(0.0, 0.0), book).foreach(msg =>
      assert(msg.contains("PqNearest: subspace m=1 has no codebook entries"), msg))
  }

  test("PqNearest: a subvector of the wrong length fails by name, generated and interpreted") {
    failures(0, Seq(0.0, 0.0, 0.0), book).foreach(msg =>
      assert(msg.contains("PqNearest: a subvector of 3 values against a centroid of 2 in subspace m=0"), msg))
  }
}
