package graft

import graft.functions.Wav
import org.apache.hadoop.fs.{LocalFileSystem, Path}

/** `file:` FileSystem whose rename always fails, as Hadoop's does over an
  * existing file. */
class NoRenameFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean = false
}

/** The sinks' one shard-commit loop: a shard appears under `{i}.{ext}` only
  * whole, a failed shard leaves no file, a failed rerun keeps the old shard,
  * and every write goes through the session's Hadoop conf. */
class ShardCommitSpec extends SparkSpec {

  private val formats = Seq("parquet" -> "parquet", "duckdb" -> "duckdb", "webdataset" -> "tar")
  private val wav = Wav.synthPcmWav(16000, 160)

  /** The formats this classpath can write: DuckDB needs its JDBC driver. */
  private lazy val writable = formats.filter { case (format, _) =>
    format != "duckdb" || scala.util.Try(Class.forName("org.duckdb.DuckDBDriver")).isSuccess
  }

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

  test("every format writes through the session's Hadoop conf; a refused rename fails the run") {
    val in = tmpDir("graft-conf-in")
    Seq("a.wav", "b.wav", "c.wav", "d.wav").foreach(writeFile(in, _, wav))
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl.disable.cache", "true")
    try {
      hc.set("fs.file.impl", classOf[CountingFs].getName)
      for ((format, ext) <- writable) {
        val out = tmpDir("graft-conf-out")
        CountingFs.creates.clear()
        run(in, out, format, filesPerShard = 2)
        assert(listing(out) == Seq(s"0.$ext", s"1.$ext"), format)
        val created = CountingFs.creates.keySet().toArray.toSeq.map(p => new java.io.File(p.toString))
          .filter(_.getParent == out.getAbsolutePath).map(_.getName).sorted
        assert(created.map(_.replaceAll("""^\.(\d+\.\w+)\.\d+$""", "$1")) == listing(out), created)
        assert(created.forall(_.startsWith(".")), created)
      }

      hc.set("fs.file.impl", classOf[NoRenameFs].getName)
      val out = tmpDir("graft-norename-out")
      failsWith("could not rename")(run(in, out, "webdataset"))
      assert(listing(out).isEmpty)
    } finally {
      hc.unset("fs.file.impl")
      hc.unset("fs.file.impl.disable.cache")
    }
  }

  test("an unknown format or compression fails before any work") {
    val missing = new java.io.File(tmpDir("graft-opts"), "no-such-input").getAbsolutePath
    def failure(cfg: AudioToDataset.Config): String =
      intercept[IllegalArgumentException](AudioToDataset.run(spark, cfg)).getMessage
    assert(failure(AudioToDataset.Config(missing, missing, format = "csv")) == "unknown format: csv")
    assert(failure(AudioToDataset.Config(missing, missing, parquetCompression = "bogus")) ==
      "unknown compression: bogus")
  }
}
