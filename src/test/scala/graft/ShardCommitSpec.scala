package graft

import graft.functions.Wav
import org.apache.hadoop.fs.Path
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** `cfs:` FileSystem that records each rename as (source, target) names. */
class RenameLogFs extends OtherSchemeFs {
  override def rename(src: Path, dst: Path): Boolean = {
    RenameLogFs.renames.add(src.getName -> dst.getName)
    super.rename(src, dst)
  }
}

object RenameLogFs {
  val renames = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}

/** `cfs:` FileSystem whose rename always fails, as Hadoop's does over an
  * existing file. */
class NoRenameFs extends OtherSchemeFs {
  override def rename(src: Path, dst: Path): Boolean = false
}

/** The sinks' one shard-commit loop: a shard appears under `{i}.{ext}` only
  * whole, a failed shard leaves no file, a failed rerun keeps the old shard.
  * On the local disk a shard is written and renamed through the JDK, and a
  * run calls no Hadoop FileSystem; on other schemes every write goes
  * through the session's Hadoop conf. */
class ShardCommitSpec extends SparkSpec {

  import ShardCommitSpec.{formats, writable}
  private val wav = Wav.synthPcmWav(16000, 160)

  private def listing(dir: java.io.File): Seq[String] =
    Option(dir.list()).fold(Seq.empty[String])(_.toSeq.sorted)

  private def localDbs(): Set[String] =
    listing(new java.io.File(System.getProperty("java.io.tmpdir"))).filter(_.startsWith("graft-shard-")).toSet

  /** `body` must fail with `text` in a message of its cause chain. */
  private def failsWith(text: String)(body: => Unit): Unit = {
    val e = intercept[Exception](body)
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(messages.exists(m => m != null && m.contains(text)), e.toString)
  }

  private def run(in: java.io.File, out: java.io.File, format: String, filesPerShard: Int = 500): Unit =
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
      format = format, filesPerShard = filesPerShard))

  for ((format, ext) <- formats)
    test(s"$format: a failed shard leaves no file, and a failed rerun keeps the old shard") {
      assume(writable.contains(format -> ext), "duckdb_jdbc not on test classpath")
      // one shard whose third file is more than one binary value holds
      val in = tmpDir("graft-crash-in")
      Seq("a.wav", "b.wav", "d.wav").foreach(writeFile(in, _, wav))
      val big = sparseFile(in, "c.wav")
      def failingRun(out: java.io.File): Unit = failsWith(big.getAbsolutePath)(run(in, out, format))

      val dbsBefore = localDbs()
      val fresh = tmpDir("graft-crash-out")
      failingRun(fresh)
      assert(listing(fresh).isEmpty)
      assert(localDbs() -- dbsBefore == Set.empty)

      val good = tmpDir("graft-crash-good")
      writeFile(good, "a.wav", wav)
      val old = tmpDir("graft-crash-old")
      run(good, old, format)
      val shard = new java.io.File(old, s"0.$ext")
      val bytes = java.nio.file.Files.readAllBytes(shard.toPath)
      failingRun(old)
      assert(listing(old) == Seq(s"0.$ext"))
      assert(java.nio.file.Files.readAllBytes(shard.toPath).sameElements(bytes))
    }

  test("a run deletes the stale hidden temporaries of its format and nothing else") {
    val in = tmpDir("graft-stale-in")
    Seq("a.wav", "b.wav", "c.wav").foreach(writeFile(in, _, wav))
    for ((format, ext) <- writable) {
      val clean = tmpDir("graft-stale-clean")
      run(in, clean, format, filesPerShard = 2)
      val out = tmpDir("graft-stale-out")
      // what a JVM killed mid-write leaves, beside names the loop never makes
      val kept = Seq(".keep", ".0.other.7", s".0.$ext.7.x", s"0.$ext.7")
      (s".0.$ext.7" +: s".12.$ext.0" +: kept).foreach(writeFile(out, _, Array[Byte](1)))
      run(in, out, format, filesPerShard = 2)
      assert(listing(out) == (listing(clean) ++ kept).sorted, format)
      if (format != "duckdb") // a DuckDB file is not byte-reproducible
        for (shard <- listing(clean))
          assert(java.nio.file.Files.readAllBytes(new java.io.File(out, shard).toPath)
            .sameElements(java.nio.file.Files.readAllBytes(new java.io.File(clean, shard).toPath)), shard)
    }
  }

  // an output on the `cfs:` stand-in scheme goes through Hadoop, whose
  // FileSystem only the session's conf names
  test("every format writes through the session's Hadoop conf; a refused rename fails the run") {
    val in = tmpDir("graft-conf-in")
    Seq("a.wav", "b.wav", "c.wav", "d.wav").foreach(writeFile(in, _, wav))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.cfs.impl.disable.cache", "true")
    try {
      hc.set("fs.cfs.impl", classOf[RenameLogFs].getName)
      for ((format, ext) <- writable) {
        val out = tmpDir("graft-conf-out")
        RenameLogFs.renames.clear()
        AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, "cfs:" + out.getAbsolutePath,
          format = format, filesPerShard = 2))
        assert(listing(out) == Seq(s"0.$ext", s"1.$ext"), format)
        val renamed = RenameLogFs.renames.asScala.toSeq.sortBy(_._2)
        assert(renamed.map(_._2) == listing(out), renamed)
        assert(renamed.forall { case (tmp, shard) => tmp.matches(raw"\.\Q$shard\E\.\d+") }, renamed)
      }

      hc.set("fs.cfs.impl", classOf[NoRenameFs].getName)
      val out = tmpDir("graft-norename-out")
      failsWith("could not rename")(AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath,
        "cfs:" + out.getAbsolutePath, format = "webdataset")))
      assert(listing(out).isEmpty)
    } finally {
      hc.unset("fs.cfs.impl")
      hc.unset("fs.cfs.impl.disable.cache")
    }
  }

  test("file: a rerun replaces an old shard in place and leaves no hidden temporary") {
    val in = tmpDir("graft-rerun-in")
    Seq("a.wav", "b.wav", "c.wav").foreach(writeFile(in, _, wav))
    for ((format, ext) <- writable) {
      val clean = tmpDir("graft-rerun-clean")
      run(in, clean, format, filesPerShard = 2)
      val out = tmpDir("graft-rerun-out")
      listing(clean).foreach(writeFile(out, _, "an old shard".getBytes("UTF-8")))
      run(in, out, format, filesPerShard = 2)
      assert(listing(out) == listing(clean), format)
      if (format != "duckdb") // a DuckDB file is not byte-reproducible
        for (shard <- listing(clean))
          assert(java.nio.file.Files.readAllBytes(new java.io.File(out, shard).toPath)
            .sameElements(java.nio.file.Files.readAllBytes(new java.io.File(clean, shard).toPath)), shard)
    }
  }

  test("file: a failed rename fails the run, deletes the temporary and keeps what is at the shard's name") {
    val in = tmpDir("graft-move-in")
    writeFile(in, "a.wav", wav)
    for ((format, ext) <- writable) {
      val out = tmpDir("graft-move-out")
      // rename(2) cannot put a file over a non-empty directory
      val blocker = writeText(new java.io.File(out, s"0.$ext"), "keep", "kept").getParentFile
      failsWith(blocker.getAbsolutePath)(run(in, out, format))
      assert(listing(out) == Seq(s"0.$ext"), format)
      assert(listing(blocker) == Seq("keep"), format)
    }
  }

  test("a run on the local disk calls no Hadoop FileSystem and, without a sidecar, broadcasts nothing") {
    val in = tmpDir("graft-local-in")
    Seq("a.wav", "b.wav", "c.wav").foreach(writeFile(in, _, wav))
    val meta = writeText(in, "meta.jsonl", """{"file_name":"b.wav","transcription":"bee"}""" + "\n")
    // Spark broadcasts each stage's task binary: any other broadcast is the run's own
    def nextBroadcastId(): Long = { val b = spark.sparkContext.broadcast(0); try b.id finally b.destroy() }
    def broadcastsOf(cfg: AudioToDataset.Config): Long = {
      val before = nextBroadcastId()
      val (_, l) = launched(AudioToDataset.run(spark, cfg))
      nextBroadcastId() - before - 1 - l.stagesPerJob.sum
    }
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CountingFs].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      for ((format, ext) <- writable; sidecar <- Seq(None, Some(meta))) {
        val out = tmpDir("graft-local-out")
        Seq(s"0.$ext", s".0.$ext.7").foreach(writeFile(out, _, Array[Byte](1))) // an old shard, a stale temporary
        CountingFs.calls.clear()
        // F5 reads the local heads on the driver, through java.nio
        val broadcasts = broadcastsOf(AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
          sidecar.map(_.getAbsolutePath), format, filesPerShard = 2, checkMimeType = true))
        assert(listing(out) == Seq(s"0.$ext", s"1.$ext"), format)
        assert(CountingFs.calls.isEmpty, s"$format, sidecar $sidecar: ${CountingFs.calls}")
        assert(broadcasts == sidecar.size, s"$format, sidecar $sidecar: $broadcasts broadcasts")
      }
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  test("the session's parquet.* settings reach the Parquet writer") {
    val in = tmpDir("graft-pq-in")
    Seq("a.wav", "b.wav", "c.wav").foreach(writeFile(in, _, wav))
    val meta = writeText(in, "meta.jsonl",
      Seq("a", "b", "c").map(n => s"""{"file_name":"$n.wav","transcription":"same","score":1.5}""")
        .mkString("", "\n", "\n"))
    /** Whether any column chunk of each metadata column uses a dictionary. */
    def dictionaries(): Map[String, Boolean] = {
      val out = tmpDir("graft-pq-out")
      AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
        Some(meta.getAbsolutePath)))
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        new LocalInputFile(new java.io.File(out, "0.parquet").toPath))
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(c => Set("transcription", "score")(c.getPath.toDotString))
        .groupMapReduce(_.getPath.toDotString)(_.getEncodings.asScala.exists(_.usesDictionary))(_ || _)
      finally reader.close()
    }
    assert(dictionaries() == Map("transcription" -> true, "score" -> true))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("parquet.enable.dictionary", "false")
    try assert(dictionaries() == Map("transcription" -> false, "score" -> false))
    finally hc.unset("parquet.enable.dictionary")
  }

  test("an unknown format or compression fails before any work") {
    val missing = new java.io.File(tmpDir("graft-opts"), "no-such-input").getAbsolutePath
    def failure(cfg: AudioToDataset.Config): String =
      intercept[IllegalArgumentException](AudioToDataset.run(spark, cfg)).getMessage
    assert(failure(AudioToDataset.Config(missing, missing, format = "csv")) == "unknown format: csv")
    assert(failure(AudioToDataset.Config(missing, missing, parquetCompression = "bogus")) ==
      "unknown compression: bogus")
    // a codec parquet-java knows but this classpath cannot write
    assert(failure(AudioToDataset.Config(missing, missing, parquetCompression = "brotli"))
      .startsWith("unsupported compression: brotli"))
  }

  /** A tree of three WAVs, with a JSONL and a CSV sidecar beside them. */
  private def sidecarTree(): (java.io.File, Seq[java.io.File]) = {
    val in = tmpDir("graft-state-in")
    Seq("a.wav", "b.wav", "c.wav").foreach(writeFile(in, _, wav))
    (in, Seq(writeText(in, "meta.jsonl", """{"file_name":"b.wav","transcription":"bee","tags":["x",1]}""" + "\n"),
      writeText(in, "meta.csv", "file_name,transcription,note\nb.wav,bee,\"x, 1\"\n")))
  }

  test("a file: run with any sidecar or none builds no SessionState") {
    val (in, sidecars) = sidecarTree()
    val sessionState = spark.getClass.getDeclaredField("sessionState") // a lazy val's field: null until built
    sessionState.setAccessible(true)
    val active = SparkSession.getActiveSession
    for ((format, ext) <- writable; sidecar <- None +: sidecars.map(Some(_))) {
      val fresh = spark.newSession()
      SparkSession.setActiveSession(fresh)
      try {
        val out = tmpDir("graft-state-out")
        AudioToDataset.run(fresh, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
          sidecar.map(_.getAbsolutePath), format, filesPerShard = 2, checkMimeType = true))
        assert(listing(out) == Seq(s"0.$ext", s"1.$ext"), format)
        assert(sessionState.get(fresh) == null, s"$format, sidecar $sidecar built the session's state")
      } finally active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  test("a run through the context alone creates no SparkSession") {
    val (in, sidecars) = sidecarTree()
    val sc = spark.sparkContext
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      for ((format, ext) <- writable; sidecar <- None +: sidecars.map(Some(_))) {
        val out = tmpDir("graft-nosession-out")
        AudioToDataset.run(sc, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
          sidecar.map(_.getAbsolutePath), format, filesPerShard = 2, checkMimeType = true))
        assert(listing(out) == Seq(s"0.$ext", s"1.$ext"), format)
      }
      assert(SparkSession.getActiveSession.isEmpty && SparkSession.getDefaultSession.isEmpty)
    } finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }
}

object ShardCommitSpec {
  /** Each `--format` with its shard extension. */
  val formats = Seq("parquet" -> "parquet", "duckdb" -> "duckdb", "webdataset" -> "tar")

  /** The formats this classpath can write: DuckDB needs its JDBC driver. */
  lazy val writable = formats.filter { case (format, _) =>
    format != "duckdb" || scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess
  }
}
