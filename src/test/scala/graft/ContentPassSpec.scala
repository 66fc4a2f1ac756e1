package graft

import graft.functions.Wav
import graft.core.LocalFiles
import graft.sources.AudioScan
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, LocatedFileStatus,
  Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.{Dependency, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** `file:` FileSystem that counts the Hadoop calls of a run: opens per
  * path, and every open, create, rename, delete and listing by kind. */
class CountingFs extends LocalFileSystem {
  import CountingFs.{call, count, opens}
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    count(opens, p.toUri.getPath)
    call("open")
    super.open(p, bufferSize)
  }
  override def create(p: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    call("create")
    super.create(p, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { call("rename"); super.rename(src, dst) }
  override def delete(p: Path, recursive: Boolean): Boolean = { call("delete"); super.delete(p, recursive) }
  override def listStatus(p: Path): Array[FileStatus] = { call("list"); super.listStatus(p) }
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    call("list")
    super.listLocatedStatus(p)
  }
}

object CountingFs {
  type Counts = java.util.concurrent.ConcurrentHashMap[String, Integer]
  val opens, calls = new Counts()
  def count(counts: Counts, key: String): Unit = counts.merge(key, 1, (a: Integer, b: Integer) => a + b)
  def call(kind: String): Unit = count(calls, kind)
}

/** The pipeline's two passes: a planning pass over names that reads at most
  * a file's head, and a content pass that reads each kept file once, in the
  * task that writes its shard. */
class ContentPassSpec extends SparkSpec {

  private val wav = Wav.synthPcmWav(16000, 160)

  /** Four kept clips, a sidecar, a non-audio decoy, a too-deep clip and a
    * symlinked directory. */
  private def tree(): (java.io.File, java.io.File) = {
    val in = tmpDir("graft-cp")
    Seq("a.wav", "b/c.wav", "b/d.wav", "e.wav").foreach(writeFile(in, _, wav))
    writeText(in, "b/decoy.wav", "not audio")
    writeFile(in, "x/y/z/deep.wav", wav)
    java.nio.file.Files.createSymbolicLink(
      new java.io.File(in, "alias").toPath, new java.io.File(in, "b").toPath)
    val meta = writeText(in, "meta.jsonl", """{"file_name":"c.wav","transcription":"cee"}""" + "\n")
    (in, meta)
  }

  private def cfg(in: java.io.File, out: String, meta: Option[java.io.File] = None) =
    AudioToDataset.Config(in.getAbsolutePath, out, meta.map(_.getAbsolutePath),
      filesPerShard = 2, maxDepth = 2, checkMimeType = true)

  /** Every dependency in `rdd`'s lineage. */
  private def lineage(rdd: RDD[_]): Seq[Dependency[_]] =
    rdd.dependencies.flatMap(d => d +: lineage(d.rdd))

  test("sink input: one partition per shard in path order, no shuffle and no sort") {
    val (in, meta) = tree()
    val plan = AudioToDataset.plan(spark.sparkContext, cfg(in, "/unused", Some(meta)))
    assert(!lineage(plan.rows).exists(_.isInstanceOf[ShuffleDependency[_, _, _]]), plan.rows.toDebugString)
    val (shard, transcription) = (plan.schema.fieldIndex("shard_id"), plan.schema.fieldIndex("transcription"))
    val parts = plan.rows.mapPartitionsWithIndex((i, rows) => Iterator(i -> rows.map(r =>
        (r.getInt(shard), r.getStruct(0, 3).getUTF8String(2).toString, r.getUTF8String(transcription).toString)).toList))
      .collect().toSeq
    assert(parts == Seq(
      0 -> List((0, "a.wav", "-"), (0, "b/c.wav", "cee")),
      1 -> List((1, "b/d.wav", "-"), (1, "e.wav", "-"))))
  }

  /** Runs `body` counting every file a run opens ([[LocalFiles.open]]),
    * whatever the scheme, and every `file:` open through Hadoop in
    * [[CountingFs]]. */
  private def counting(body: => Unit): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.file.impl", classOf[CountingFs].getName)
    hc.set("fs.file.impl.disable.cache", "true")
    hc.set("fs.cfs.impl", classOf[OtherSchemeFs].getName)
    LocalFiles.opens = new CountingFs.Counts()
    try {
      CountingFs.opens.clear()
      body
    } finally {
      LocalFiles.opens = null
      Seq("fs.file.impl", "fs.file.impl.disable.cache", "fs.cfs.impl").foreach(hc.unset)
    }
  }

  private def opens(f: java.io.File): Int = Option(LocalFiles.opens.get(f.getAbsolutePath)).fold(0)(_.intValue)

  // with F5, it opens one head per F2–F4 survivor: on the driver through
  // java.nio for a local tree, in the sniff job on another scheme
  test("without F5, the planning pass opens no file") {
    val (in, meta) = tree()
    def scan(scheme: String, mime: Boolean) = AudioScan.scan(spark.sparkContext, scheme + in.getAbsolutePath,
      maxDepth = 2, metadataFile = Some(scheme + meta.getAbsolutePath), checkMimeType = mime).map(_.relativePath).sorted
    val survivors = Seq("a.wav", "b/c.wav", "b/d.wav", "b/decoy.wav", "e.wav")
    def oncePerSurvivor(survivors: Seq[String]) =
      survivors.map(p => new java.io.File(in, p).getAbsolutePath -> Integer.valueOf(1)).toMap
    counting {
      assert(scan("", mime = false) == survivors)
      assert(LocalFiles.opens.isEmpty, LocalFiles.opens)
      assert(scan("", mime = true) == survivors.filterNot(_ == "b/decoy.wav"))
      assert(LocalFiles.opens.asScala.toMap == oncePerSurvivor(survivors))
      assert(CountingFs.opens.isEmpty, CountingFs.opens) // local heads are read through java.nio

      // `cfs:` lists through Hadoop, which has no F2: the link's files survive too
      LocalFiles.opens.clear()
      val remote = scan("cfs:", mime = false)
      assert(remote == (survivors ++ survivors.filter(_.startsWith("b/")).map("alias" + _.drop(1))).sorted)
      assert(LocalFiles.opens.isEmpty, LocalFiles.opens)
      assert(scan("cfs:", mime = true) == remote.filterNot(_.endsWith("decoy.wav")))
      assert(LocalFiles.opens.asScala.toMap == oncePerSurvivor(remote))
    }
  }

  test("F2/F3/F4 drops are never opened; F5 reads a head, the content pass each kept file once") {
    val (in, meta) = tree()
    counting {
      for (mime <- Seq(true, false)) {
        LocalFiles.opens.clear()
        CountingFs.opens.clear()
        AudioToDataset.run(spark, cfg(in, tmpDir("graft-cp-out").getAbsolutePath, Some(meta))
          .copy(checkMimeType = mime))
        val kept = Seq("a.wav", "b/c.wav", "b/d.wav", "e.wav").map(new java.io.File(in, _))
        assert(kept.map(opens) == kept.map(_ => if (mime) 2 else 1), s"mime=$mime")
        assert(opens(new java.io.File(in, "b/decoy.wav")) == 1) // sniffed or read
        assert(opens(new java.io.File(in, "x/y/z/deep.wav")) == 0)             // F3
        assert(opens(new java.io.File(in, "alias/c.wav")) == 0)                // F2
        assert(opens(meta) == 1, s"mime=$mime") // loaded once, never sniffed or read (F4)
        // the sidecar and the audio are read through java.nio, not Hadoop
        assert(CountingFs.opens.isEmpty, CountingFs.opens)
      }
    }
  }

  test("odd names: a space, %, # or : in a name is sniffed and read at the path the walk listed") {
    val in = tmpDir("graft-odd")
    // "a%20b.wav" next to "a b.wav": a path decoded once too often reads the other file
    val names = Seq("a b.wav", "a%20b.wav", "100%.wav", "c#d.wav", "e:f.wav", "g h/%2F#:.wav")
    val clips = names.zipWithIndex.map { case (n, i) => n -> Wav.synthPcmWav(16000, 160 * (i + 1)) }.toMap
    clips.foreach { case (n, bytes) => writeFile(in, n, bytes) }
    writeText(in, "odd #%: decoy.wav", "not audio")
    val out = tmpDir("graft-odd-out")
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath, checkMimeType = true))
    val rows = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath).collect()
      .map(_.getAs[Row]("audio")).map(a => a.getAs[String]("path") -> a.getAs[Array[Byte]]("bytes").toSeq).toMap
    assert(rows == clips.map { case (n, b) => n -> b.toSeq })
  }

  /** Whether `e` or one of its causes names the file `f`. */
  private def names(e: Throwable, f: java.io.File): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      .exists(m => m != null && m.contains(f.getAbsolutePath))

  // one shard, so no other task is still writing when the job fails; its
  // temporary is open, with two rows in it, when the read fails
  test("a kept file deleted after planning fails the run, named, and leaves no file for its shard") {
    for ((format, ext) <- ShardCommitSpec.writable) {
      val in = tmpDir("graft-gone")
      Seq("a.wav", "b.wav", "c.wav", "d.wav").foreach(writeFile(in, _, wav))
      val out = tmpDir("graft-gone-out")
      val plan = AudioToDataset.plan(spark.sparkContext,
        AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath))
      val gone = new java.io.File(in, "c.wav")
      assert(gone.delete())
      val dir = out.getAbsolutePath
      val e = intercept[Exception](ext match {
        case "parquet" => graft.sinks.ParquetShardSink.writeShards(plan.rows, plan.schema, dir, plan.conf)
        case "duckdb" => graft.sinks.DuckDbShardSink.writeShards(plan.rows, dir, plan.conf, plan.meta.types.toSeq)
        case "tar" => graft.sinks.TarShardSink.writeShards(plan.rows, dir, plan.conf, plan.meta.types.toSeq)
      })
      assert(names(e, gone), s"$format: $e")
      assert(out.list().isEmpty, s"$format: ${out.list().toSeq}")
    }
  }

  private def keptPaths(out: java.io.File): Seq[String] =
    spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
      .collect().map(_.getAs[Row]("audio").getAs[String]("path")).toSeq.sorted

  test("files over 2 GB: a non-audio decoy or a too-deep file is dropped; a kept one fails, named") {
    val in = tmpDir("graft-big")
    writeFile(in, "ok.wav", wav)
    sparseFile(in, "decoy.bin")
    sparseFile(in, "x/y/z/deep.wav")
    val out = tmpDir("graft-big-out")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, maxDepth = 2, checkMimeType = true))
    assert(keptPaths(out) == Seq("ok.wav"))

    // the length is checked at planning, before any job and before the
    // output's stale temporaries are swept
    val kept = sparseFile(tmpDir("graft-big-kept"), "huge.wav")
    writeFile(kept.getParentFile, "ok.wav", wav)
    val out2 = tmpDir("graft-big-out2")
    val stale = writeText(out2, ".0.parquet.7", "left by a killed run")
    val (e, jobs) = jobsOf(intercept[Exception](AudioToDataset.run(spark, AudioToDataset.Config(
      kept.getParent, out2.getAbsolutePath, filesPerShard = 1))))
    assert(names(e, kept), e.toString)
    assert(jobs == 0, s"$jobs jobs")
    assert(out2.list().toSeq == Seq(stale.getName))
  }
}
