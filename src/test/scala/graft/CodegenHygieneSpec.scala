package graft

import graft.functions.{CentroidArgMin, CharFoldHash, PqNearest, VectorDot}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

/** The hand-written codegen'd expressions must declare their Java locals
  * under fresh names. With non-nullable children there is no null-check
  * block around the generated code, so two instances in one projection
  * share a method scope; fixed local names would then not compile, and
  * with fallback off that fails the query instead of silently running it
  * interpreted. */
class CodegenHygieneSpec extends SparkSpec {

  test("two instances of each codegen'd expression compile in one projection") {
    val base = spark.range(3).select(col("id"), col("id").cast("double").as("x"))
    val (v1, v2) = (array(col("x"), lit(1.0)), array(lit(2.0), col("x")))
    val (q1, q2) = (array(col("id"), lit(1L)), array(lit(3L), col("id")))
    val m = (col("id") * 0).cast("int")
    val cents = Seq((0L, Seq(0L, 0L)), (1L, Seq(2L, 2L)))
    val book = Seq((0, 0L, Seq(0.0, 0.0)), (0, 1L, Seq(2.0, 2.0)))
    // a def: each read plans afresh under the session conf of the moment
    def projected = base.select(
      CharFoldHash(col("id").cast("string")), CharFoldHash(concat(lit("x"), col("id").cast("string"))),
      VectorDot(v1, v2), VectorDot(v2, v2),
      CentroidArgMin(q1, cents), CentroidArgMin(q2, cents),
      PqNearest.cid(m, v1, book), PqNearest.d2(m, v2, book))
    // non-null children: the generated code is not wrapped in a null check
    assert(projected.schema.forall(!_.nullable), projected.schema.treeString)

    def rows(conf: (String, String)*): Seq[String] = {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      try projected.collect().map(_.toString).toSeq
      finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    }
    spark.conf.set("spark.sql.codegen.fallback", "false")
    val generated = try {
      assert(projected.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      rows()
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    val interpreted = rows(
      "spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    assert(generated == interpreted)
    assert(generated.length == 3)
  }
}
