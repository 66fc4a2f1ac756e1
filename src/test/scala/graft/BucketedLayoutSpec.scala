package graft

import org.apache.spark.sql.DataFrame

/** `join_bucketed` and `join_asof_bucketed` write their bucketed layout in
  * every call. With `graft.assertPlans` on, their zero-exchange `require`s
  * run next to the losslessness `require`s on each call. */
class BucketedLayoutSpec extends SparkSpec {
  private val Sf = s"${ScaleGen.TestdataRoot}/sf0.001"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** The catalog tables and the warehouse directories named `prefix*`. */
  private def tables(prefix: String): (Seq[String], Seq[String]) = (
    spark.catalog.listTables().collect().map(_.name).filter(_.startsWith(prefix)).toSeq,
    Option(new java.io.File(graft.core.EphemeralWarehouse.dir).list()).toSeq.flatten
      .filter(_.startsWith(prefix)))

  test("two calls of each bucketed entry in one session: rows each time, plans asserted") {
    val prev = sys.props.put("graft.assertPlans", "true")
    try {
      val asof = rows(SparkEntry.queries("join_asof")(spark, Sf))
      assert(asof.nonEmpty, "fixture must produce rows")
      for (call <- 1 to 2) {
        assert(rows(SparkEntry.queries("join_bucketed")(spark, Sf)).nonEmpty,
          s"join_bucketed returned no rows on call $call")
        assert(tables("graft_b_") == (Nil, Nil), s"join_bucketed left its tables on call $call")
        assert(rows(SparkEntry.queries("join_asof_bucketed")(spark, Sf)) == asof,
          s"join_asof_bucketed diverged from join_asof on call $call")
        assert(tables("graft_asof_") == (Seq("graft_asof_layout"), Seq("graft_asof_layout")),
          s"not exactly one as-of layout after call $call")
      }
    } finally prev match {
      case Some(v) => sys.props.update("graft.assertPlans", v)
      case None => sys.props.remove("graft.assertPlans")
    }
  }

  test("as-of checksum: a same-count multiset swap changes it, a reorder does not") {
    import spark.implicits._
    val (a, b, c) = ((1L, 10L, 100L, 7L, 1.5), (2L, 20L, 200L, 8L, 2.5), (3L, 30L, 300L, 9L, 3.5))
    def checksum(rs: Seq[(Long, Long, Long, Long, Double)], parts: Int): Seq[Long] =
      graft.queries.Analytics.asofChecksum(
        rs.toDF("event_id", "user_id", "ts_us", "asof_o_orderkey", "asof_o_price").repartition(parts))
    val base = checksum(Seq(a, a, b), 1)
    assert(checksum(Seq(b, a, a), 3) == base, "row order must not move the checksum")
    // two copies of a replaced by two copies of c: same count, same bit_xor
    val swapped = checksum(Seq(c, c, b), 1)
    assert(swapped.take(2) == base.take(2), "the swap is invisible to count and bit_xor")
    assert(swapped != base, "the half sums must catch a same-count multiset swap")
  }
}
