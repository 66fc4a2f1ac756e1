package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration
    // only — the driver always runs the full surface with 2 args)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Plan invariants (e.g. the bucketed join's zero-input-shuffle shape)
    // are asserted inside the query paths under THIS session's config — a
    // config/AQE drift that re-introduces an exchange fails the row loudly
    // instead of silently regressing.
    System.setProperty("graft.assertPlans", "true")
    // The SHARED engine config ([[graft.core.GraftSession]]) — identical to
    // Bench's: the correctness gate runs the same planner thresholds the
    // bench and the SCALING.md claims run (round-11 RocksDB principle,
    // round-13 applied to the calibrated broadcast bounds too).
    val spark = graft.core.GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Each query's prior dump is removed BEFORE the attempt, so a failed
    // write can never leave a stale (plausible-looking, wrong-hash) result
    // from an earlier attempt or round for the driver's comparator to
    // silently pick up. A failure instead yields a loud missing-result
    // (NO_SPARK_RESULT) plus an `<name>_ERROR` marker file.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    selected.foreach { case (name, fn) =>
      graft.core.LocalFiles.deleteTree(Paths.get(s"$outDir/$name"))
      Files.deleteIfExists(Paths.get(s"$outDir/${name}_ERROR"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        graft.core.LocalFiles.deleteTree(Paths.get(s"$outDir/$name"))
        Files.writeString(Paths.get(s"$outDir/${name}_ERROR"),
          s"${e.getClass.getName}: ${e.getMessage}\n")
        failed += name
      }
      // free per-query persisted intermediates (see Bench.scala)
      spark.catalog.clearCache()
    }
    // One loud, tail-surviving summary: a partial dump must never read as
    // a complete one in the driver's captured log window.
    println(s"[verify] ${selected.size - failed.size}/${selected.size} queries dumped" +
      (if (failed.isEmpty) "" else s"; FAILED: ${failed.mkString(",")}"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
