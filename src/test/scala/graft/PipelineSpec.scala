package graft

import graft.functions.Wav
import graft.sinks.DuckDbShardSink
import graft.core.{MBool, MFloat64, MList, MString}
import org.apache.spark.sql.Row
import scala.jdk.CollectionConverters._

/** The local disk under the scheme `cfs:`, a stand-in for a remote store:
  * its statuses carry no local permissions, which only `file:` can load. */
class OtherSchemeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FileStatus, Path}
  override def getUri: java.net.URI = java.net.URI.create("cfs:///")
  override def getScheme: String = "cfs"
  private def status(p: Path, f: java.io.File) =
    new FileStatus(f.length, f.isDirectory, 1, 4096, f.lastModified, makeQualified(p))
  override def getFileStatus(p: Path): FileStatus = {
    val f = pathToFile(p)
    if (!f.exists) throw new java.io.FileNotFoundException(p.toString)
    status(p, f)
  }
  override def listStatus(p: Path): Array[FileStatus] = {
    val f = pathToFile(p)
    if (f.isFile) Array(status(p, f)) else f.listFiles().map(c => status(new Path(p, c.getName), c))
  }
}

/** End-to-end pipeline tests, mirroring the reference's CLI tests
  * (reference: tests/end_to_end.rs). Each test synthesizes WAV fixtures plus
  * a sidecar, runs the full pipeline to Parquet shards, and reads the output
  * back with an independent `spark.read.parquet`.
  */
class PipelineSpec extends SparkSpec {

  private def outputFiles(out: java.io.File): Seq[String] =
    Option(out.list()).map(_.toSeq.filterNot(_.startsWith(".")).sorted).getOrElse(Nil)

  // reference: tests/end_to_end.rs:11-86
  test("e2e: CSV metadata joined by relative_path; duration and bytes exact") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    val wav = Wav.synthWav(16000, 16000)
    writeFile(in, "sample.wav", wav)
    val meta = writeText(in, "metadata.csv",
      "file_name,transcription,relative_path\nsample.wav,test transcription,sample.wav\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      input = in.getAbsolutePath, output = out.getAbsolutePath,
      metadataFile = Some(meta.getAbsolutePath)))
    assert(outputFiles(out) == Seq("0.parquet"))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.columns.toSeq == Seq("audio", "duration", "transcription"))
    val row = df.head()
    assert(row.getAs[Double]("duration") == 1.0)
    assert(row.getAs[String]("transcription") == "test transcription")
    val audio = row.getAs[Row]("audio")
    assert(audio.getAs[String]("path") == "sample.wav")
    assert(audio.getAs[Int]("sampling_rate") == 16000)
    assert(audio.getAs[Array[Byte]]("bytes").sameElements(wav))
  }

  test("e2e: --check-mime-type drops an unexpanded zip, keeps plain.wav") {
    // the reference reads no archive: a zip is sniffed as a zip, not as audio
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    for ((name, bytes) <- Seq("a.wav" -> Wav.synthPcmWav(16000, 1600), "inner/b.wav" -> Wav.synthPcmWav(8000, 800))) {
      z.putNextEntry(new java.util.zip.ZipEntry(name)); z.write(bytes); z.closeEntry()
    }
    z.close()
    writeFile(in, "sub/bundle.zip", bos.toByteArray)
    writeFile(in, "plain.wav", Wav.synthPcmWav(22050, 441))
    writeFile(in, "broken.zip", bos.toByteArray.take(40))
    AudioToDataset.run(spark, AudioToDataset.Config(
      input = in.getAbsolutePath, output = out.getAbsolutePath, checkMimeType = true))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.collect().map(_.getAs[Row]("audio").getAs[String]("path")).toSeq == Seq("plain.wav"))
  }

  test("main rejects a flag the reference does not take, before any Spark work") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "a.wav", Wav.synthWav(16000, 8000))
    val e = intercept[IllegalArgumentException](AudioToDataset.main(Array(
      "--input", in.getAbsolutePath, "--output", out.getAbsolutePath, "--expand-archives")))
    assert(e.getMessage.contains("--expand-archives"), e.getMessage)
    assert(outputFiles(out).isEmpty)
    // the active context is still the spec's: main neither built nor stopped one
    assert((org.apache.spark.SparkContext.getOrCreate() eq spark.sparkContext) && !spark.sparkContext.isStopped)
  }

  test("e2e: --format webdataset writes tar shards training loaders can read") {
    import graft.functions.Tar
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    val wavs = (0 until 3).map(i => s"f$i.wav" -> Wav.synthPcmWav(8000 + 4000 * i, 400 + 100 * i))
    wavs.foreach { case (n, b) => writeFile(in, n, b) }
    val meta = writeText(in, "metadata.jsonl",
      wavs.map { case (n, _) => s"""{"file_name":"$n","transcription":"t $n"}""" }.mkString("\n"))
    val cfg = AudioToDataset.Config(
      input = in.getAbsolutePath, output = out.getAbsolutePath,
      metadataFile = Some(meta.getAbsolutePath), format = "webdataset")
    AudioToDataset.run(spark, cfg) // one 3-record shard, replaced by the rerun (X4)
    AudioToDataset.run(spark, cfg.copy(filesPerShard = 2))
    assert(Option(out.list()).toSeq.flatten.sorted == Seq("0.tar", "1.tar"))
    val es0 = Tar.entries(java.nio.file.Files.readAllBytes(
      new java.io.File(out, "0.tar").toPath)).get
    assert(es0.map(_.name) == Seq("000000.wav", "000000.json", "000001.wav", "000001.json"))
    // wav bytes round-trip; the json carries path/sr/duration/metadata
    assert(es0(0).bytes.sameElements(wavs(0)._2))
    val j = new String(es0(1).bytes, "UTF-8")
    assert(j.contains(""""path":"f0.wav"""") && j.contains(""""sampling_rate":8000"""))
    assert(j.contains(""""transcription":"t f0.wav""""))
    // stock tar agrees on the member list (conformance beyond our parser)
    import scala.sys.process._
    val listed = Seq("tar", "-tf", new java.io.File(out, "1.tar").getAbsolutePath).!!
    assert(listed.trim.split("\n").toSeq == Seq("000000.wav", "000000.json"))
  }

  test("e2e: webdataset records carry sidecar lists as JSON, null elements included") {
    import graft.functions.Tar
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    Seq("a.wav", "b.wav").foreach(writeFile(in, _, Wav.synthPcmWav(8000, 400)))
    val meta = writeText(in, "metadata.jsonl",
      """{"file_name":"a.wav","tags":["x",null],"nested":[["p"],null,[null]],"ok":true,"snr":1.5}""" + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
      metadataFile = Some(meta.getAbsolutePath), format = "webdataset"))
    val records = Tar.entries(java.nio.file.Files.readAllBytes(new java.io.File(out, "0.tar").toPath)).get
      .filter(_.name.endsWith(".json")).map(e => new String(e.bytes, "UTF-8"))
    assert(records == Seq(
      """{"path":"a.wav","duration":0.05,"sampling_rate":8000,"nested":[["p"],null,[null]],""" +
        """"ok":true,"snr":1.5,"tags":["x",null],"transcription":"-"}""",
      """{"path":"b.wav","duration":0.05,"sampling_rate":8000,"nested":null,""" +
        """"ok":null,"snr":null,"tags":null,"transcription":"-"}"""))
  }

  // reference: tests/end_to_end.rs:88-131
  test("e2e: CSV metadata falls back to file_name when no relative_path") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "fallback.wav", Wav.synthWav(22050, 22050))
    val meta = writeText(in, "metadata.csv",
      "file_name,transcription\nfallback.wav,using filename\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.head().getAs[String]("transcription") == "using filename")
  }

  // reference: tests/end_to_end.rs:133-189
  test("e2e: JSONL typed metadata — string, bool, float") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "jsonl.wav", Wav.synthWav(44100, 44100))
    val meta = writeText(in, "metadata.jsonl",
      """{"relative_path":"jsonl.wav","transcription":"jsonl text","speaker":"alice","verified":true,"snr":12.5}""" + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    // metadata columns in sorted order after audio, duration
    assert(df.columns.toSeq == Seq("audio", "duration", "snr", "speaker", "transcription", "verified"))
    val row = df.head()
    assert(row.getAs[String]("speaker") == "alice")
    assert(row.getAs[Boolean]("verified"))
    assert(row.getAs[Double]("snr") == 12.5)
    assert(row.getAs[String]("transcription") == "jsonl text")
  }

  // reference: tests/end_to_end.rs:191-269
  test("e2e: JSONL array metadata → typed list columns") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "arrays.wav", Wav.synthWav(8000, 8000))
    val meta = writeText(in, "metadata.jsonl",
      """{"relative_path":"arrays.wav","transcription":"array text","tags":["music","test"],"scores":[0.1,0.2],"flags":[true,false]}""" + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    val row = df.head()
    assert(row.getAs[scala.collection.Seq[String]]("tags").toSeq == Seq("music", "test"))
    assert(row.getAs[scala.collection.Seq[Double]]("scores").toSeq == Seq(0.1, 0.2))
    assert(row.getAs[scala.collection.Seq[Boolean]]("flags").toSeq == Seq(true, false))
  }

  // reference: tests/end_to_end.rs:271-330 — pins the J1 third lookup level
  test("e2e: file_name containing a path matches against the relative path") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "nested/with_path.wav", Wav.synthWav(16000, 16000))
    val meta = writeText(in, "metadata.jsonl",
      """{"file_name":"nested/with_path.wav","transcription":"path lookup","speaker":"bob","verified":true,"snr":5.5}""" + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    val row = df.head()
    assert(row.getAs[String]("transcription") == "path lookup")
    assert(row.getAs[String]("speaker") == "bob")
    assert(row.getAs[Row]("audio").getAs[String]("path") == "nested/with_path.wav")
  }

  test("e2e: no metadata file → transcription defaults to '-'; sharding splits files") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    for (i <- 0 until 5) writeFile(in, f"clip_$i%02d.wav", Wav.synthWav(8000, 800 * (i + 1)))
    val cfg = AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath)
    AudioToDataset.run(spark, cfg) // one 5-row shard, replaced by the rerun (X4)
    AudioToDataset.run(spark, cfg.copy(filesPerShard = 2))
    assert(Option(out.list()).toSeq.flatten.sorted == Seq("0.parquet", "1.parquet", "2.parquet"))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.count() == 2) // shards of filesPerShard in path order
    val all = spark.read.parquet(outputFiles(out).map(f => new java.io.File(out, f).getAbsolutePath): _*)
    assert(all.count() == 5)
    import org.apache.spark.sql.functions.col
    assert(all.filter(col("transcription") === "-").count() == 5)
    // durations follow path order within the first shard
    val d0 = df.orderBy(col("audio.path")).collect().map(_.getAs[Double]("duration")).toSeq
    assert(d0 == Seq(0.1, 0.2))
  }

  test("--files-per-db below 1 is rejected by name before any Spark job") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "a.wav", Wav.synthWav(8000, 800))
    val group = "pipeline-spec-files-per-db"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) jobs.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "no job before the flag check")
    val e = try intercept[IllegalArgumentException] {
      // with the MIME filter on, planning would launch the F5 sniff job
      AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
        filesPerShard = 0, checkMimeType = true))
    } finally {
      spark.sparkContext.clearJobGroup()
      org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(e.getMessage.contains("--files-per-db must be at least 1, got 0"), e.getMessage)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs ran before the check")
    assert(outputFiles(out).isEmpty)
  }

  test("e2e: non-WAV bytes kept with duration 0.0, sampling_rate 0; mime filter drops them") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "good.wav", Wav.synthWav(16000, 16000))
    writeFile(in, "bad.txt", "just text".getBytes)
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath))
    val all = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(all.count() == 2)
    import org.apache.spark.sql.functions.col
    val bad = all.filter(col("audio.path") === "bad.txt").head()
    assert(bad.getAs[Double]("duration") == 0.0)
    assert(bad.getAs[Row]("audio").getAs[Int]("sampling_rate") == 0)
    // now with the MIME filter on (F5)
    val out2 = tmpDir("graft-out2")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out2.getAbsolutePath, checkMimeType = true))
    val filtered = spark.read.parquet(new java.io.File(out2, "0.parquet").getAbsolutePath)
    assert(filtered.count() == 1)
    assert(filtered.head().getAs[Row]("audio").getAs[String]("path") == "good.wav")
  }

  test("hf footer: huggingface key-value present with features for every column") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "a.wav", Wav.synthWav(8000, 8000))
    val meta = writeText(in, "metadata.jsonl",
      """{"relative_path":"a.wav","snr":1.5,"tags":["x"]}""" + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val file = new java.io.File(out, "0.parquet")
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf))
    val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData
    reader.close()
    assert(kv.containsKey("huggingface"))
    val hf = kv.get("huggingface")
    assert(hf.contains(""""audio":{"_type":"Audio"}"""))
    assert(hf.contains(""""duration":{"dtype":"float64","_type":"Value"}"""))
    assert(hf.contains(""""snr":{"dtype":"float64","_type":"Value"}"""))
    assert(hf.contains(""""tags":{"_type":"Sequence","feature":{"dtype":"string","_type":"Value"}}"""))
    assert(hf.contains(""""transcription":{"dtype":"string","_type":"Value"}"""))
  }

  test("first-wins dedup: duplicate metadata keys keep the first file-order row") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "dup.wav", Wav.synthWav(8000, 8000))
    val meta = writeText(in, "metadata.csv",
      "relative_path,transcription\ndup.wav,first\ndup.wav,second\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.head().getAs[String]("transcription") == "first")
  }

  test("parquet compression options: mapping incl. lzo/lz4 fallbacks; files readable") {
    import graft.sinks.ParquetShardSink.codec
    import org.apache.parquet.hadoop.metadata.CompressionCodecName._
    assert(codec("snappy") == SNAPPY && codec("uncompressed") == UNCOMPRESSED)
    assert(codec("lzo") == SNAPPY)   // reference fallback src/main.rs:575
    assert(codec("lz4") == LZ4_RAW)  // reference fallback src/main.rs:577
    assert(codec("gzip") == GZIP && codec("zstd") == ZSTD && codec("lz4raw") == LZ4_RAW)
    intercept[IllegalArgumentException](codec("bogus"))
    for (c <- Seq("gzip", "zstd", "uncompressed", "lz4", "snappy", "lzo")) {
      val in = tmpDir("graft-in"); val out = tmpDir(s"graft-out-$c")
      writeFile(in, "a.wav", Wav.synthWav(8000, 8000))
      AudioToDataset.run(spark, AudioToDataset.Config(
        in.getAbsolutePath, out.getAbsolutePath, parquetCompression = c))
      val shard = new java.io.File(out, "0.parquet")
      val df = spark.read.parquet(shard.getAbsolutePath)
      assert(df.head().getAs[Double]("duration") == 1.0, s"compression $c")
      // the requested codec (post-fallback) must actually reach the file
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(shard.getAbsolutePath),
          new org.apache.hadoop.conf.Configuration()))
      try {
        val codecs = reader.getFooter.getBlocks.get(0).getColumns
          .asScala.map(_.getCodec).toSet
        assert(codecs == Set(codec(c)), s"compression $c wrote $codecs")
      } finally reader.close()
    }
  }

  test("max depth filter drops deeply nested files end-to-end") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "top.wav", Wav.synthWav(8000, 8000))
    writeFile(in, "a/b/c/deep.wav", Wav.synthWav(8000, 8000))
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, maxDepth = 2))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.count() == 1)
    assert(df.head().getAs[Row]("audio").getAs[String]("path") == "top.wav")
  }

  test("audio exploder: dataset → files round trip preserves bytes and tree") {
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out"); val back = tmpDir("graft-back")
    val wavA = Wav.synthWav(16000, 8000)
    val wavB = Wav.synthWav(8000, 4000)
    writeFile(in, "a.wav", wavA)
    writeFile(in, "sub/b.wav", wavB)
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath))
    val ds = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    graft.sinks.AudioExploder.explode(ds, back.getAbsolutePath)
    val aBytes = java.nio.file.Files.readAllBytes(new java.io.File(back, "a.wav").toPath)
    val bBytes = java.nio.file.Files.readAllBytes(new java.io.File(back, "sub/b.wav").toPath)
    assert(aBytes.sameElements(wavA) && bBytes.sameElements(wavB))
  }

  test("CI smoke twin: shard → exploded WAV tree → re-packed into BOTH sinks") {
    // The reference CI's end-to-end shape (.github/workflows/
    // test-linux-x86_64-unknown-linux-gnu.yml:33-57): take a parquet shard,
    // extract-audio it back to a WAV tree, then run the pipeline into
    // parquet AND duckdb. Twin: the shard is generated locally (no
    // network), everything downstream is the same three steps.
    val src = tmpDir("graft-ci-src"); val shardDir = tmpDir("graft-ci-shard")
    val wavTree = tmpDir("graft-ci-wavs")
    val dsParquet = tmpDir("graft-ci-dsp"); val dsDuck = tmpDir("graft-ci-dsd")
    val rates = Seq(8000, 16000, 22050, 44100)
    val originals = rates.zipWithIndex.map { case (r, i) =>
      val bytes = Wav.synthWav(r, r / 2) // 0.5 s at every rate
      writeFile(src, s"d$i/c$i.wav", bytes)
      s"d$i/c$i.wav" -> bytes
    }.toMap
    val meta = writeText(src, "metadata.jsonl",
      rates.indices.map(i => s"""{"file_name":"c$i.wav","transcription":"clip $i"}""")
        .mkString("\n"))
    AudioToDataset.run(spark, AudioToDataset.Config(
      src.getAbsolutePath, shardDir.getAbsolutePath, Some(meta.getAbsolutePath)))
    // step 1 (extract-audio twin): shard → WAV tree
    val shard = spark.read.parquet(new java.io.File(shardDir, "0.parquet").getAbsolutePath)
    graft.sinks.AudioExploder.explode(shard, wavTree.getAbsolutePath)
    originals.foreach { case (rel, bytes) =>
      val f = new java.io.File(wavTree, rel)
      assert(f.exists, s"exploded tree missing $rel")
      assert(java.nio.file.Files.readAllBytes(f.toPath).sameElements(bytes))
    }
    // step 2 (CI test case 1): WAV tree → parquet dataset
    AudioToDataset.run(spark, AudioToDataset.Config(
      wavTree.getAbsolutePath, dsParquet.getAbsolutePath))
    val repacked = spark.read.parquet(new java.io.File(dsParquet, "0.parquet").getAbsolutePath)
    val rows = repacked.select("audio.path", "audio.bytes", "duration").collect()
    assert(rows.length == rates.length)
    rows.foreach { r =>
      assert(r.getAs[Array[Byte]](1).sameElements(originals(r.getString(0))))
      assert(math.abs(r.getDouble(2) - 0.5) < 1e-9)
    }
    // step 3 (CI test case 2): WAV tree → duckdb dataset
    val duckdbOnClasspath =
      try { Class.forName("org.duckdb.DuckDBDriver"); true }
      catch { case _: ClassNotFoundException => false }
    if (duckdbOnClasspath) {
      AudioToDataset.run(spark, AudioToDataset.Config(
        wavTree.getAbsolutePath, dsDuck.getAbsolutePath, format = "duckdb"))
      val shardFile = new java.io.File(dsDuck, "0.duckdb")
      assert(shardFile.exists, "duckdb sink produced no shard")
      val conn = java.sql.DriverManager.getConnection(
        s"jdbc:duckdb:${shardFile.getAbsolutePath}")
      try {
        val rs = conn.createStatement().executeQuery("SELECT count(*) FROM files")
        rs.next()
        assert(rs.getLong(1) == rates.length.toLong)
      } finally conn.close()
    }
  }

  test("e2e: EMPTY jsonl sidecar → transcription-only schema, default '-'") {
    // reference treats an empty metadata file as an empty store; an
    // RDD.reduce here used to throw 'empty collection'
    val in = tmpDir("graft-in"); val out = tmpDir("graft-out")
    writeFile(in, "e.wav", Wav.synthWav(16000, 8000))
    val meta = writeText(in, "metadata.jsonl", "")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    assert(df.columns.toSeq == Seq("audio", "duration", "transcription"))
    assert(df.head().getAs[String]("transcription") == "-")
  }

  test("e2e: paths with SPACES scan, join metadata, and exclude correctly") {
    // a file's Hadoop path is UNencoded — every path comparison must use
    // the Hadoop Path form, not File.toURI (percent-encoded)
    val in = tmpDir("graft-sp in"); val out = tmpDir("graft-sp-out")
    writeFile(in, "sub dir/my file.wav", Wav.synthWav(16000, 8000))
    val meta = writeText(in, "metadata.csv",
      "file_name,transcription,relative_path\nmy file.wav,spaced ok,sub dir/my file.wav\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, Some(meta.getAbsolutePath)))
    val df = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
    val rows = df.collect()
    assert(rows.length == 1) // sidecar excluded despite the spaced root
    assert(rows.head.getAs[Row]("audio").getAs[String]("path") == "sub dir/my file.wav")
    assert(rows.head.getAs[String]("transcription") == "spaced ok")
    // symlink under a spaced root is still excluded
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(in.getAbsolutePath, "link dir"),
      java.nio.file.Paths.get(in.getAbsolutePath, "sub dir"))
    val rel = graft.sources.AudioScan.scan(spark.sparkContext, in.getAbsolutePath,
        metadataFile = Some(meta.getAbsolutePath)).map(_.relativePath)
    assert(rel == Seq("sub dir/my file.wav"))
  }

  test("symlink filter: files reached through symlinked dirs/files are dropped (F2)") {
    // reference walks with NoSymlink (src/main.rs:664): a symlinked directory
    // must not double-ingest its targets, a symlinked file must not ingest
    import java.nio.file.{Files, Paths}
    val in = tmpDir("graft-ln-in")
    val wav = Wav.synthWav(16000, 8000)
    writeFile(in, "real/a.wav", wav)
    writeFile(in, "real/b.wav", wav)
    Files.createSymbolicLink(
      Paths.get(in.getAbsolutePath, "alias"), Paths.get(in.getAbsolutePath, "real"))
    Files.createSymbolicLink(
      Paths.get(in.getAbsolutePath, "c.wav"), Paths.get(in.getAbsolutePath, "real/a.wav"))
    val withFilter = graft.sources.AudioScan.scan(spark.sparkContext, in.getAbsolutePath).map(_.relativePath).sorted
    assert(withFilter.toSeq == Seq("real/a.wav", "real/b.wav"))
    // a link above the tree is fine: the input root itself may be one
    assert(graft.sources.AudioScan.scan(spark.sparkContext, new java.io.File(in, "alias").getAbsolutePath)
      .map(_.relativePath).sorted == Seq("a.wav", "b.wav"))
  }

  test("every name gets its reference row: _x, .x, x._COPYING_ and a 0-byte file") {
    // the reference walks every entry (SURVEY.md §7.4); Spark's own file
    // listing drops these names and empty files
    val in = tmpDir("graft-names"); val out = tmpDir("graft-names-out")
    val wav = Wav.synthWav(16000, 8000)
    val named = Seq("plain/a.wav", "plain/_b.wav", "plain/.c.wav", "_under/x.wav", ".hid/y.wav",
      "plain/f.wav._COPYING_")
    named.foreach(writeFile(in, _, wav))
    writeFile(in, "plain/zero.wav", Array.emptyByteArray)
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath))
    val rows = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath).collect().map { r =>
      val a = r.getAs[Row]("audio")
      a.getAs[String]("path") ->
        (r.getAs[Double]("duration"), a.getAs[Int]("sampling_rate"), a.getAs[Array[Byte]]("bytes").length)
    }.toMap
    assert(rows == named.map(_ -> (0.5, 16000, wav.length)).toMap + ("plain/zero.wav" -> (0.0, 0, 0)))
  }

  test("symlink loop: the walk never enters a link to an ancestor") {
    import java.nio.file.{Files, Paths}
    val in = tmpDir("graft-loop"); val out = tmpDir("graft-loop-out")
    writeFile(in, "a/x.wav", Wav.synthWav(16000, 8000))
    Files.createSymbolicLink(Paths.get(in.getAbsolutePath, "a/up"), Paths.get(in.getAbsolutePath))
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath))
    val paths = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath)
      .collect().map(_.getAs[Row]("audio").getAs[String]("path")).toSeq
    assert(paths == Seq("a/x.wav"))
  }

  test("a tree on another scheme is listed through its Hadoop FileSystem") {
    // `cfs:` is the local disk under another scheme name: no walk, Hadoop's
    // listFiles; depth and sidecar exclusion still hold
    val in = tmpDir("graft-scheme")
    val wav = Wav.synthWav(16000, 8000)
    Seq("a.wav", "d/b.wav", "d/e/deep.wav", "d/notes.txt").foreach(writeFile(in, _, wav))
    val meta = writeText(in, "meta.csv", "relative_path,transcription\nd/b.wav,bee\n")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.cfs.impl", classOf[OtherSchemeFs].getName)
    val out = tmpDir("graft-scheme-out")
    try {
      AudioToDataset.run(spark, AudioToDataset.Config("cfs:" + in.getAbsolutePath, out.getAbsolutePath,
        Some("cfs:" + meta.getAbsolutePath), maxDepth = 2))
      val rows = spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath).collect()
        .map(r => r.getAs[Row]("audio").getAs[String]("path") -> r.getAs[String]("transcription")).toMap
      assert(rows == Map("a.wav" -> "-", "d/b.wav" -> "bee", "d/notes.txt" -> "-"))
    } finally hc.unset("fs.cfs.impl")
  }

  test("duckdb sink SQL generation matches the reference DDL/INSERT shape") {
    val types = Seq(
      "snr" -> MFloat64, "tags" -> MList(MString),
      "transcription" -> MString, "verified" -> MBool)
    assert(DuckDbShardSink.createTableSql(types) ==
      """CREATE TABLE files (id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq'), """ +
      """duration DOUBLE, audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB), """ +
      """"snr" DOUBLE, "tags" VARCHAR, "transcription" VARCHAR, "verified" BOOLEAN)""")
    assert(DuckDbShardSink.insertSql(types) ==
      """INSERT INTO files (id, duration, audio, "snr", "tags", "transcription", "verified") """ +
      """VALUES (?, ?, row(?, ?, ?), ?, ?, ?, ?)""")
  }

  test("metadata type quirks: keyless rows still vote types; reserved keys dropped") {
    val in = tmpDir("graft-in")
    val meta = writeText(in, "m.jsonl",
      """{"x": 1.5, "duration": 9.9, "id": 3}""" + "\n" +          // keyless: votes only
      """{"relative_path":"a.wav","x": 2.5}""" + "\n")
    val sidecar = graft.sources.Metadata.load(spark.sparkContext, meta.getAbsolutePath)
    val schema = sidecar.schema
    assert(schema.types.get("x").contains(MFloat64)) // voted from the keyless row too
    assert(!schema.types.contains("duration") && !schema.types.contains("id"))
    assert(schema.types.get("transcription").contains(MString))
    assert(sidecar.rows.size == 1) // the keyless row voted but is not joinable
  }
}
