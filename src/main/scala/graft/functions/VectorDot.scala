package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native dot product over two `array<double>` columns — the hot inner loop
  * of cosine similarity / ANN at 100 TB. Left-to-right summation, exactly
  * like the portable `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, +)` form
  * and the DuckDB `list_sum(list_transform(list_zip(...)))` oracle, so
  * results stay bit-comparable. Codegen'd; ~an order of magnitude less
  * allocation than the zip_with form (no intermediate array).
  *
  * Lengths must match; extra elements on the longer side are ignored
  * (zip semantics). Null elements contribute 0.
  */
case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) acc += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(n, acc, i) = Seq("n", "acc", "i").map(ctx.freshName)
    nullSafeCodeGen(ctx, ev, (a, b) =>
      code"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
            $acc += $a.getDouble($i) * $b.getDouble($i);
          }
        }
        ${ev.value} = $acc;
      """.toString)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

object VectorDot {
  def apply(a: Column, b: Column): Column =
    GraftBridge.column(VectorDot(GraftBridge.expression(a), GraftBridge.expression(b)))
}
