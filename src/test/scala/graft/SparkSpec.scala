package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

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
}

object SparkSpec {
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
