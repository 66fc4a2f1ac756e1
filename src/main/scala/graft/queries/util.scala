package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the verification/bench query surface.
  *
  * Every query here reads the driver's parquet tables and has (where SQL can
  * express it) a DuckDB oracle in [[graft.SparkEntry.oracleSql]]. Hash-based
  * operators use [[Util.charFoldHash]], a polynomial rolling hash chosen
  * because it computes bit-identically in Spark (`aggregate` over `split`)
  * and DuckDB (`list_reduce`) — so even MinHash/SimHash signatures are
  * oracle-checkable, not just rows-only.
  */
object Util {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The events table's `ts` is TIMESTAMP(NANOS) parquet, which Spark only
    * reads as a nanosecond long (`spark.sql.legacy.parquet.nanosAsLong`,
    * set by Verify/Bench/tests). Expose both an exact µs long (for gap
    * arithmetic — integer, engine-portable) and a µs timestamp (for
    * date_trunc). */
  def eventsWithTs(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // integer division: ns longs exceed double's 53-bit mantissa, so
        // floor(ts / 1000) would be off by up to 1 µs
        df.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("ts", timestamp_micros(col("ts_us")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // some SF dirs carry µs-precision NTZ timestamps; the session tz is
        // pinned UTC, so the NTZ→TZ cast is the identity DuckDB's naive
        // epoch_us applies
        df.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_us", unix_micros(col("ts")))
      case _ =>
        df.withColumn("ts_us", unix_micros(col("ts")))
    }
  }

  /** Make `name` safe for `saveAsTable`: drop any catalog entry AND remove
    * an orphaned warehouse location — the in-memory catalog forgets tables
    * across JVMs while the warehouse directory persists, so a bare
    * overwrite refuses the name with LOCATION_ALREADY_EXISTS.
    *
    * The name is lowercased first (saveAsTable lowercases identifiers, so
    * the on-disk location is always lowercase) and must be a plain
    * identifier — this method recursively deletes a directory, so a
    * path-like name must never reach it. */
  def freshManagedTable(s: SparkSession, name: String): Unit = {
    val id = name.toLowerCase(java.util.Locale.ROOT)
    require(id.matches("[a-z0-9_]+"), s"unsafe managed-table name: $name")
    s.sql(s"DROP TABLE IF EXISTS $id")
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    graft.core.LocalFiles.deleteTree(java.nio.file.Paths.get(wh, id))
  }

  /** Under `-Dgraft.assertPlans=true` (set by Verify), `require` that `df`'s
    * executed plan has at most `max` shuffle exchanges, in the session's own
    * configuration: a config or AQE drift that brings an exchange back fails
    * the query loudly. Does nothing otherwise. */
  def requireShuffles(df: DataFrame, max: Int, what: String): Unit =
    if (sys.props.get("graft.assertPlans").contains("true")) {
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val exec = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
      require(shuffles.size <= max, s"$what (${shuffles.size} exchanges):\n$exec")
    }

  /** Polynomial rolling hash over the characters of a string column:
    * fold(acc = 7; acc = (acc * 31 + code(char)) mod 1e9+7).
    * Implemented as a native codegen'd Catalyst expression
    * ([[graft.functions.CharFoldHash]]); bit-identical to the DuckDB
    * `list_reduce` form in [[charFoldHashSql]] for BMP text.
    */
  def charFoldHash(c: Column): Column = graft.functions.CharFoldHash(c)

  /** The same hash in DuckDB SQL, verbatim-inlinable. */
  def charFoldHashSql(expr: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(string_split($expr, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"

  // NOTE: the Spark-side shingling lives in TextOps.spanHashRows /
  // graft.functions.SpanHashes (one fused compiled pass). An array-lambda
  // formulation with element_at(tokens, i) re-evaluates the split per
  // element, and the old posexplode+lead window paid a full-corpus
  // shuffle+sort — neither must come back.

  /** DuckDB twin of [[graft.functions.SpanHashes]]: per-token char-fold
    * hashes of `text`. Callers bind it as `th` in a subquery and apply
    * [[spansOfThSql]]. */
  def tokenHashesSql: String =
    s"list_transform(string_split(text, ' '), tok -> ${charFoldHashSql("tok")})"

  /** All `width`-token window folds over a bound `th` token-hash list —
    * `SpanHashes(text, width)` in DuckDB. Empty when len(th) < width. */
  def spansOfThSql(width: Int): String =
    s"list_transform(range(1, len(th) - ${width - 2}), " +
      s"i -> list_reduce(list_slice(th, i, i + ${width - 1}), " +
      "(a, b) -> (a * 31 + b) % 1000000007))"

  /** MinHash permutation parameters — single source of truth lives in
    * [[graft.functions.MinHashSig]] (the fused signature expression);
    * these delegates feed the DuckDB oracle SQL. */
  val MinhashK = 8
  val MinhashP: Long = graft.functions.MinHashSig.P
  def minhashA(j: Int): Long = graft.functions.MinHashSig.a(j)
  def minhashB(j: Int): Long = graft.functions.MinHashSig.b(j)
}
