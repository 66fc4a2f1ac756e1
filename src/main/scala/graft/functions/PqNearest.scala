package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Nearest-codebook-entry lookup for product quantization, as one codegen'd
  * expression over a CONSTANT per-subspace codebook: for subspace `m` and an
  * `array<double>` subvector, return either the nearest centroid's cid
  * (`emitD2 = false`, LongType) or its squared L2 distance (`emitD2 = true`,
  * DoubleType). Ties go to the lowest cid; `cids(m)`/`cents(m)` must be
  * cid-ascending (enforced in apply). An `m` outside the codebook or with
  * no entries, or a subvector whose length differs from its centroids,
  * fails the query with a named error ([[centroids]]).
  *
  * This is the PQ assignment inner loop of `embed_pq` / `ann_pq_rerank`.
  * The declarative form it replaces — explode ×16 codebook candidates via a
  * broadcast join, interpreted `aggregate(zip_with(...))` distance per
  * candidate, then `min(struct(dist2, cid))` — pays three scale costs the
  * expression does not: a ×K row expansion per subvector, per-element lambda
  * interpretation (HOFs never codegen), and a SORT-based aggregate (struct
  * min has no hash-aggregate buffer) over the expanded rows. Here each row
  * does K·dims double ops inside whole-stage codegen — no expansion, no
  * shuffle, no sort.
  *
  * Distance accumulation is left-to-right over ascending dims — the exact
  * IEEE sequence of `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0d, +)`
  * and of the DuckDB oracle's `list_sum(list_transform(list_zip(...)))`, so
  * doubles stay bit-comparable. The strict `<` keeps the first (lowest-cid)
  * minimum, identical to the lexicographic struct-min tie-break.
  */
case class PqNearest(left: Expression, right: Expression,
    cids: Array[Array[Long]], cents: Array[Array[Array[Double]]], emitD2: Boolean)
    extends BinaryExpression {
  require(cids.length == cents.length && cids.nonEmpty, "empty codebook")
  override def dataType: DataType = if (emitD2) DoubleType else LongType
  override def nullIntolerant: Boolean = true

  /** The centroids of subspace `m`, checked against a subvector of `dims`
    * values: fails with a named error when `m` is outside the codebook, has
    * no entries, or holds a centroid of another length. Both evaluation
    * paths call it, so they fail alike. */
  def centroids(m: Int, dims: Int): Array[Array[Double]] = {
    require(m >= 0 && m < cents.length,
      s"PqNearest: subspace m=$m is outside the codebook (0 to ${cents.length - 1})")
    val cs = cents(m)
    require(cs.nonEmpty, s"PqNearest: subspace m=$m has no codebook entries")
    cs.foreach(c => require(c.length == dims,
      s"PqNearest: a subvector of $dims values against a centroid of ${c.length} in subspace m=$m"))
    cs
  }

  override protected def nullSafeEval(mAny: Any, svAny: Any): Any = {
    val m = mAny.asInstanceOf[Int]
    val sv = svAny.asInstanceOf[ArrayData]
    val n = sv.numElements()
    val cs = centroids(m, n)
    val ids = cids(m)
    var best = Double.MaxValue
    var bcid = -1L
    var k = 0
    while (k < cs.length) {
      val c = cs(k)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = sv.getDouble(i) - c(i)
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; bcid = ids(k) }
      k += 1
    }
    if (emitD2) best else bcid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqNearest", this)
    val cidsRef = ctx.addReferenceObj("pqCids", cids, "long[][]")
    val Seq(cs, ids, best, bcid, k, c, n, acc, i, d) =
      Seq("cs", "ids", "best", "bcid", "k", "c", "n", "acc", "i", "d").map(ctx.freshName)
    nullSafeCodeGen(ctx, ev, (m, sv) =>
      code"""
        int $n = $sv.numElements();
        double[][] $cs = $self.centroids($m, $n);
        long[] $ids = $cidsRef[$m];
        double $best = Double.MAX_VALUE;
        long $bcid = -1L;
        for (int $k = 0; $k < $cs.length; $k++) {
          double[] $c = $cs[$k];
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            double $d = $sv.getDouble($i) - $c[$i];
            $acc += $d * $d;
          }
          if ($acc < $best) { $best = $acc; $bcid = $ids[$k]; }
        }
        ${ev.value} = ${if (emitD2) best else bcid};
      """.toString)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqNearest =
    copy(left = l, right = r)
}

object PqNearest {
  /** `codebook`: (m, cid, centroid subvector) rows, any order. */
  private def tables(codebook: Seq[(Int, Long, Seq[Double])])
      : (Array[Array[Long]], Array[Array[Array[Double]]]) = {
    val byM = codebook.groupBy(_._1)
    val maxM = byM.keys.max
    val cids = Array.tabulate(maxM + 1)(m =>
      byM.getOrElse(m, Nil).map(_._2).sorted.toArray)
    val cents = Array.tabulate(maxM + 1) { m =>
      byM.getOrElse(m, Nil).sortBy(_._2).map(_._3.toArray).toArray
    }
    (cids, cents)
  }

  def cid(m: Column, sv: Column, codebook: Seq[(Int, Long, Seq[Double])]): Column = {
    val (ids, cs) = tables(codebook)
    GraftBridge.column(PqNearest(GraftBridge.expression(m),
      GraftBridge.expression(sv), ids, cs, emitD2 = false))
  }

  def d2(m: Column, sv: Column, codebook: Seq[(Int, Long, Seq[Double])]): Column = {
    val (ids, cs) = tables(codebook)
    GraftBridge.column(PqNearest(GraftBridge.expression(m),
      GraftBridge.expression(sv), ids, cs, emitD2 = true))
  }
}
