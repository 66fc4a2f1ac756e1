package graft

/** Plan auditor: prints the formatted physical plan of selected queries so
  * scan pruning (ReadSchema/PushedFilters), broadcast joins, and
  * whole-stage-codegen spans can be reviewed. The session is Bench's and
  * Verify's ([[graft.core.GraftSession.builder]], `SPARK_GRAFT_CPUS` cores,
  * 4 by default), so the audited plans are the plans they run. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.builder(cpus, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
