package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the engine-portable polynomial rolling hash:
  *
  *   acc = 7; for each CODEPOINT c: acc = (acc * 31 + c) mod 1e9+7
  *
  * Semantically identical to
  * `aggregate(split(s,""), 7L, (acc,c) -> (acc*31 + ascii(c)) % 1000000007)`
  * (and to the DuckDB `list_reduce` oracle form) for ALL text — the fold
  * iterates Unicode code points, matching `split("")` (which never splits a
  * surrogate pair) + `ascii()` (which returns the first code point). A
  * UTF-16 charAt loop would diverge on non-BMP text (emoji — routine in LLM
  * corpora). Runs in whole-stage codegen over the chars directly — no
  * per-character string array, ~20× less allocation. This is the hot inner
  * hash of minhash / simhash / fingerprint at 100 TB, hence the native
  * implementation (SURVEY.md §7.3: custom Expression only where bench
  * demands).
  */
case class CharFoldHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    CharFoldHash.hash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val Seq(s, acc, i, cp) = Seq("s", "acc", "i", "cp").map(ctx.freshName)
    nullSafeCodeGen(ctx, ev, c =>
      code"""
        java.lang.String $s = $c.toString();
        long $acc = 7L;
        int $i = 0;
        while ($i < $s.length()) {
          int $cp = $s.codePointAt($i);
          $acc = ($acc * 31L + $cp) % 1000000007L;
          $i += java.lang.Character.charCount($cp);
        }
        ${ev.value} = $acc;
      """.toString)
  }

  override protected def withNewChildInternal(newChild: Expression): CharFoldHash =
    copy(child = newChild)
}

object CharFoldHash {
  import org.apache.spark.sql.GraftBridge

  def hash(s: String): Long = {
    var acc = 7L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      acc = (acc * 31 + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }
  def apply(c: Column): Column =
    GraftBridge.column(CharFoldHash(GraftBridge.expression(c)))
}
