package perfbench

import java.io.{BufferedReader, InputStreamReader}
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

import graft.AudioToDataset
import org.apache.spark.sql.SparkSession

/** Long-lived pipeline process driven over stdin by `perfbench/run.py`.
  *
  * Arguments are the CLI's own flags (`--input`, `--metadata-file`,
  * `--format`, `--files-per-db`, `--max-depth-size`, `--check-mime-type`,
  * `--num-threads`) plus `--local-dir DIR` (Spark scratch) and `--trace`.
  * The session is built the way `AudioToDataset.main` builds it for
  * `--num-threads N`; every run calls `AudioToDataset.run` unchanged.
  *
  * Protocol: tab-separated commands on stdin, one JSON object per stdout line.
  *   start → `{"event":"ready",...}`
  *   `run <traced 0|1> <outdir>` → `{"event":"done","wall_s":...}`
  *   `spans <file>` → writes the recorded spans, `{"event":"spans"}`
  *   stdin `quit` (or EOF) → stops the session and exits.
  */
object Harness {
  private val out = new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true)

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  private def json(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      val s = v match {
        case null => "null"
        case x: String => "\"" + x.flatMap {
            case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
          } + "\""
        case m: Map[_, _] => "{" + m.map { case (a, b) => json(a.toString -> b).drop(1).dropRight(1) }.mkString(",") + "}"
        case x => x.toString
      }
      "\"" + k + "\":" + s
    }.mkString("{", ",", "}")

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def main(args: Array[String]): Unit = {
    val threads = arg(args, "num-threads").get.toInt
    val tracing = arg(args, "trace").contains("1")
    val cfg = AudioToDataset.Config(
      input = arg(args, "input").get,
      output = "",
      metadataFile = arg(args, "metadata-file"),
      format = arg(args, "format").getOrElse("parquet"),
      filesPerShard = arg(args, "files-per-db").map(_.toInt).getOrElse(500),
      maxDepth = arg(args, "max-depth-size").map(_.toInt).getOrElse(50),
      checkMimeType = args.contains("--check-mime-type"))
    val localDir = arg(args, "local-dir").get

    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .appName("audios-to-dataset-spark")
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", localDir + "/warehouse")
    if (tracing) Trace.configure(builder, cfg)
    val spark = builder.getOrCreate()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = if (tracing) Some(new Trace(spark)) else None
    out.println(json("event" -> "ready", "session_s" -> sessionS))

    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line != "quit") {
      line.split("\t") match {
        case Array("run", traced, outDir) =>
          val on = traced == "1" && trace.isDefined
          if (on) trace.get.begin()
          val (jit0, gc0, cpu0) = (jitMs, gcMs, osBean.getProcessCpuTime)
          val s0 = System.nanoTime()
          val error = try { AudioToDataset.run(spark, cfg.copy(output = outDir)); null }
            catch { case e: Throwable => e.toString }
          val wall = (System.nanoTime() - s0) / 1e9
          val cpu = (osBean.getProcessCpuTime - cpu0) / 1e9
          val layers = if (on) trace.get.end() else Map.empty[String, Any]
          out.println(json("event" -> "done", "wall_s" -> wall,
            "cpu_s" -> cpu, "jit_s" -> (jitMs - jit0) / 1e3, "gc_s" -> (gcMs - gc0) / 1e3,
            "classes" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
            "error" -> error, "trace" -> layers))
        case Array("spans", file) =>
          Spans.writeTo(file)
          out.println(json("event" -> "spans"))
        case _ =>
          out.println(json("event" -> "error", "error" -> s"unknown command: $line"))
      }
      line = in.readLine()
    }
    spark.stop()
  }
}
