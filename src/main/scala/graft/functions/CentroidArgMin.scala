package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Nearest-centroid assignment over a CONSTANT centroid table, as one
  * codegen'd expression: for an `array<long>` quantized vector, return the
  * `cid` of the centroid with minimal squared L2 distance (ties → the
  * lowest cid; `cids`/`cents` must be cid-ascending, enforced in apply).
  *
  * This is the k-means assignment inner loop of `dedup_semantic` /
  * `kmeans_quantized`-family queries. The declarative alternatives both
  * lose at scale, measured at the 100× ScaleGen point:
  * - broadcast-join + `min(struct(d2, cid))` group-by expands n rows to
  *   n·K and shuffles them back (1.3 B intermediate rows at 100×);
  * - `aggregate()` over an array-of-structs literal avoids the expansion
  *   but higher-order functions evaluate interpreted, per element, per
  *   row (measured 1.5× SLOWER than the join at sf0.1).
  * A native expression does K·dims long ops per row inside whole-stage
  * codegen: no expansion, no shuffle, no lambda interpretation.
  *
  * All-integer arithmetic (quantized coordinates ≤ 2·10⁷, so d² over 64
  * dims stays < 2⁶⁰): bit-identical to the DuckDB oracle's list_sum form.
  */
case class CentroidArgMin(child: Expression, cids: Array[Long], cents: Array[Array[Long]])
    extends UnaryExpression {
  require(cids.length == cents.length && cids.nonEmpty, "empty centroid table")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val q = input.asInstanceOf[ArrayData]
    var best = Long.MaxValue
    var bcid = -1L
    var k = 0
    while (k < cents.length) {
      val c = cents(k)
      val n = math.min(q.numElements(), c.length)
      var acc = 0L
      var i = 0
      while (i < n) {
        val d = q.getLong(i) - c(i)
        acc += d * d
        i += 1
      }
      if (acc < best) { best = acc; bcid = cids(k) }
      k += 1
    }
    bcid
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("centroids", cents, "long[][]")
    val cidsRef = ctx.addReferenceObj("centroidIds", cids, "long[]")
    val Seq(best, bcid, k, c, n, acc, i, d) =
      Seq("best", "bcid", "k", "c", "n", "acc", "i", "d").map(ctx.freshName)
    nullSafeCodeGen(ctx, ev, q =>
      code"""
        long $best = Long.MAX_VALUE;
        long $bcid = -1L;
        for (int $k = 0; $k < $centsRef.length; $k++) {
          long[] $c = $centsRef[$k];
          int $n = java.lang.Math.min($q.numElements(), $c.length);
          long $acc = 0L;
          for (int $i = 0; $i < $n; $i++) {
            long $d = $q.getLong($i) - $c[$i];
            $acc += $d * $d;
          }
          if ($acc < $best) { $best = $acc; $bcid = $cidsRef[$k]; }
        }
        ${ev.value} = $bcid;
      """.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidArgMin =
    copy(child = newChild)
}

object CentroidArgMin {
  /** `centRows`: (cid, quantized centroid) pairs, any order. */
  def apply(q: Column, centRows: Seq[(Long, Seq[Long])]): Column = {
    val sorted = centRows.sortBy(_._1)
    GraftBridge.column(CentroidArgMin(GraftBridge.expression(q),
      sorted.map(_._1).toArray, sorted.map(_._2.toArray).toArray))
  }
}
