package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def tmpDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    d
  }

  def writeFile(dir: java.io.File, name: String, bytes: Array[Byte]): java.io.File = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
    f
  }

  def writeText(dir: java.io.File, name: String, text: String): java.io.File =
    writeFile(dir, name, text.getBytes("UTF-8"))

  /** A 2.2 GB file, more than one binary value holds, that takes no disk space. */
  def sparseFile(dir: java.io.File, name: String): java.io.File = {
    val f = new java.io.File(dir, name)
    f.getParentFile.mkdirs()
    val raf = new java.io.RandomAccessFile(f, "rw")
    try raf.setLength(2200L * 1000 * 1000) finally raf.close()
    f
  }

  /** `body`'s result and what it launched, as seen by a listener. */
  def launched[A](body: => A): (A, SparkSpec.Launched) = {
    val group = "spark-spec-jobs"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val sql = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.stageInfos.length -> e.properties.getProperty("spark.job.description"))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) => sql.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, SparkSpec.LaunchedDescription)
    val result = try body finally {
      spark.sparkContext.clearJobGroup()
      GraftBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    val started = jobs.asScala.toSeq
    (result, SparkSpec.Launched(started.map(_._1), sql.get(), started.map(_._2)))
  }

  /** `body`'s result and the number of Spark jobs it launches. */
  def jobsOf[A](body: => A): (A, Int) = {
    val (result, l) = launched(body)
    (result, l.stagesPerJob.length)
  }
}

object SparkSpec {
  /** What `body` launched: the stage count of each Spark job, the number
    * of SQL executions it started, and each job's description. */
  final case class Launched(stagesPerJob: Seq[Int], sqlExecutions: Int, descriptions: Seq[String])

  /** The job description `launched` runs its body under. */
  val LaunchedDescription = "job-count pin"

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // process-private managed tables (see graft.core.EphemeralWarehouse)
    .config("spark.sql.warehouse.dir", graft.core.EphemeralWarehouse.dir)
    .getOrCreate()
}
