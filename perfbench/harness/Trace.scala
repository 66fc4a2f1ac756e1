package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

import graft.AudioToDataset
import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** `file:` FileSystem that counts listings, opens and bytes read, split into
  * the sidecar and the audio content below the input root. Installed with
  * `spark.hadoop.fs.file.impl`; counting is on only during a traced run. */
class CountingFs extends LocalFileSystem {
  import CountingFs._

  override def listStatus(p: Path): Array[FileStatus] = {
    val t = System.nanoTime()
    val r = super.listStatus(p)
    if (on) {
      c("audioscan.listings").increment()
      c("audioscan.files_listed").add(r.count(_.isFile))
      c("audioscan.list_ns").add(System.nanoTime() - t)
    }
    r
  }

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(p, bufferSize)
    if (!on) in
    else {
      val path = p.toUri.getPath
      val kind = if (sidecar.contains(path)) "metadata.sidecar" else if (path.startsWith(root)) "audioscan.content" else "other"
      c(s"$kind.opens").increment()
      new FSDataInputStream(new CountingIn(in, c(s"$kind.bytes"), c(s"$kind.read_ns")))
    }
  }
}

object CountingFs {
  @volatile var on = false
  @volatile var root = "/"
  @volatile var sidecar: Option[String] = None
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  def c(name: String): LongAdder = counters.computeIfAbsent(name, _ => new LongAdder)
  def snapshot: Map[String, Long] = counters.asScala.map { case (k, v) => k -> v.sum }.toMap
}

class CountingIn(in: FSDataInputStream, bytes: LongAdder, ns: LongAdder) extends FSInputStream {
  private def timed(n: => Int): Int = {
    val t = System.nanoTime()
    val r = n
    ns.add(System.nanoTime() - t)
    r
  }
  override def read(): Int = { val r = timed(in.read()); if (r >= 0) bytes.increment(); r }
  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val n = timed(in.read(b, off, len)); if (n > 0) bytes.add(n); n
  }
  override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int = {
    val n = timed(in.read(pos, b, off, len)); if (n > 0) bytes.add(n); n
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}

/** Aggregates one run's jobs, stages and task metrics. A job is
  * attributed to the module of the first `graft.` frame of its long call
  * site; a job without one (AQE and broadcast jobs are submitted from
  * Spark's own threads) goes to the innermost span that was open when it
  * was submitted, and counts as `other` only when none was. */
class RunListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Seq[Int])]()
  private val stageTask = new ConcurrentHashMap[Int, Array[Double]]() // (task s, max task s)
  val totals = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = synchronized { totals(k) += v }

  private def layerOf(details: String): String =
    Option(details).getOrElse("").linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) if f.startsWith("graft.sources.Metadata") => "metadata"
      case Some(f) if f.startsWith("graft.sources.AudioScan") => "audioscan"
      case Some(f) if f.startsWith("graft.operators.Sharding") => "sharding"
      case Some(f) if f.startsWith("graft.sinks.") => "sinks"
      case Some(_) => "run"
      case None => "other"
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("run.jobs", 1)
    val own = e.stageInfos.sortBy(_.stageId).lastOption.map(s => layerOf(s.details)).getOrElse("other")
    jobs.add((e.time, own, e.stageInfos.map(_.stageId)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("run.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    val taskS = m.executorRunTime / 1e3
    stageTask.compute(e.stageId, (_, a) => {
      val t = Option(a).getOrElse(Array(0.0, 0.0))
      Array(t(0) + taskS, math.max(t(1), taskS))
    })
    add("run.tasks", 1)
    add("run.task_s", taskS)
    add("run.executor_cpu_s", m.executorCpuTime / 1e9)
    add("run.input_bytes", m.inputMetrics.bytesRead.toDouble)
    add("run.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
    add("run.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
    add("run.spill_bytes", (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
  }

  /** `<layer>.jobs`, `<layer>.task_s` and `<layer>.max_task_s`. */
  def byLayer(spans: Seq[Spans.Span]): Map[String, Double] = {
    val out = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val calls = spans.filter(_.name != "wav.parse")
    jobs.asScala.foreach { case (time, own, stages) =>
      val layer = if (own != "other") own else calls
        .filter(s => s.startMs <= time && time <= s.endMs).sortBy(s => s.endNs - s.startNs)
        .headOption.map(_.name.takeWhile(_ != '.')).getOrElse("other")
      out(s"$layer.jobs") += 1
      stages.flatMap(id => Option(stageTask.remove(id))).foreach { t =>
        out(s"$layer.task_s") += t(0)
        out(s"$layer.max_task_s") = math.max(out(s"$layer.max_task_s"), t(1))
      }
    }
    out.toMap
  }
}

/** Outside-in tracing of one pipeline process: a listener on the session,
  * the counting FileSystem, Spark's codegen metrics, JMX readers and the
  * spans the agent records around the layers' public calls. Every source is
  * read as a delta over one run. */
class Trace(spark: SparkSession) {
  private var listener: RunListener = _
  private var before: Map[String, Double] = Map.empty

  private def fsWritten: Double = FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file").map(_.getBytesWritten.toDouble).sum

  private def counters: Map[String, Double] = {
    val (compiles, compileMs, sourceBytes) = PerfbenchBridge.codegen
    CountingFs.snapshot.map { case (k, v) => k -> v.toDouble } ++
      Spans.snapshot.flatMap { case (k, (ns, n)) => Seq(s"$k.ns" -> ns.toDouble, s"$k.calls" -> n.toDouble) } ++
      Map("codegen.compiles" -> compiles.toDouble, "codegen.compile_ms" -> compileMs.toDouble,
        "codegen.source_bytes" -> sourceBytes.toDouble, "sinks.fs_bytes_written" -> fsWritten)
  }

  def begin(): Unit = {
    listener = new RunListener
    spark.sparkContext.addSparkListener(listener)
    before = counters
    Spans.run += 1
    Spans.on = true
    CountingFs.on = true
  }

  /** Per-layer raw figures of the run that just ended. */
  def end(): Map[String, Any] = {
    Spans.on = false
    CountingFs.on = false
    PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val after = counters
    val deltas = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
    (deltas ++ listener.totals ++ listener.byLayer(Spans.of(Spans.run))).toMap
  }
}

object Trace {
  def configure(builder: SparkSession.Builder, cfg: AudioToDataset.Config): Unit = {
    CountingFs.root = new java.io.File(cfg.input).getAbsolutePath + "/"
    CountingFs.sidecar = cfg.metadataFile.map(new java.io.File(_).getAbsolutePath)
    builder.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
  }
}
