package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{MBool, MFloat64, MList, MString, MetadataType}
import graft.functions.Wav
import graft.operators.Sharding
import graft.sources.Metadata
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** The sidecar join (J1/J2) and the shard ranking (X1) through the real
  * pipeline entry points, plus a pin on how many Spark jobs one pipeline run
  * launches. */
class SidecarShardSpec extends SparkSpec {

  /** One sidecar line: relative_path, file_name, transcription, score. `None`
    * is an absent key in JSONL and an empty field in CSV; `Some(null)` is a
    * JSON null. */
  private type Line = (Option[String], Option[String], Option[String], Option[String])

  private val lines: Seq[Line] = Seq(
    (Some("a/one.wav"), None, Some("rel-one"), Some("1.5")),
    (None, Some("one.wav"), Some("name-one"), Some("2.5")),           // loses to level 1
    (Some(null), Some("two.wav"), Some("name-two"), Some("3.0")),     // level 2, null relpath
    (None, Some("c/three.wav"), Some("relname-three"), Some(null)),   // level 3, JSON null
    (Some("./d/four.wav"), None, Some("dot-four"), None),             // ./-prefixed
    (Some("f/six.wav"), None, Some("six-first"), Some("6")),
    (Some("f/six.wav"), Some("eight.wav"), Some("six-second"), Some("8")), // loses rel, wins name
    (None, Some("seven.wav"), Some("seven-first"), None),
    (None, Some("seven.wav"), Some("seven-second"), None),            // duplicate name
    (None, None, Some("keyless"), Some("\"wide\"")),                  // votes only
    (None, Some("nine.wav"), Some("nine-level2"), None),
    (None, Some("i/nine.wav"), Some("nine-level3"), None),            // level 2 wins over 3
    (Some("j/ten.wav"), None, Some(null), Some("10")))                // null transcription

  /** path → (transcription, score) each file must resolve to. */
  private val expected: Map[String, (String, String)] = Map(
    "a/one.wav" -> ("rel-one", "1.5"),
    "b/two.wav" -> ("name-two", "3.0"),
    "c/three.wav" -> ("relname-three", null),
    "d/four.wav" -> ("dot-four", null),
    "e/five.wav" -> ("-", null),
    "f/six.wav" -> ("six-first", "6"),
    "g/seven.wav" -> ("seven-first", null),
    "h/eight.wav" -> ("six-second", "8"),
    "i/nine.wav" -> ("nine-level2", null),
    "j/ten.wav" -> ("-", "10"))

  private def jsonl: String = lines.map { case (rel, name, t, score) =>
    def str(v: String) = if (v == null) "null" else "\"" + v + "\""
    (rel.map(v => s""""relative_path":${str(v)}""") ++ name.map(v => s""""file_name":${str(v)}""") ++
      t.map(v => s""""transcription":${str(v)}""") ++ score.map(v => s""""score":${Option(v).getOrElse("null")}"""))
      .mkString("{", ",", "}")
  }.mkString("", "\n", "\n")

  private def csv: String = "relative_path,file_name,transcription,score\n" + lines.map {
    case (rel, name, t, score) =>
      Seq(rel, name, t, score).map(_.flatMap(Option(_)).fold("")(_.stripPrefix("\"").stripSuffix("\"")))
        .mkString(",")
  }.mkString("", "\n", "\n")

  private def tree(sidecarName: String, sidecar: String): (java.io.File, java.io.File) = {
    val in = tmpDir("graft-j1")
    expected.keys.foreach(p => writeFile(in, p, Wav.synthPcmWav(16000, 160)))
    (in, writeText(in, sidecarName, sidecar))
  }

  private def run(in: java.io.File, sidecar: java.io.File): java.io.File = {
    val out = tmpDir("graft-j1-out")
    AudioToDataset.run(spark, AudioToDataset.Config(
      in.getAbsolutePath, out.getAbsolutePath, metadataFile = Some(sidecar.getAbsolutePath)))
    out
  }

  private def resolved(out: java.io.File): Map[String, (String, String)] =
    spark.read.parquet(new java.io.File(out, "0.parquet").getAbsolutePath).collect().map { r =>
      r.getAs[Row]("audio").getAs[String]("path") ->
        (r.getAs[String]("transcription"), r.getAs[String]("score"))
    }.toMap

  test("J1/J2 parity through the pipeline: JSONL sidecar") {
    val (in, sidecar) = tree("meta.jsonl", jsonl)
    assert(resolved(run(in, sidecar)) == expected)
  }

  // Hadoop's checksummed `file:` FileSystem cannot open it: its `.crc`
  // sibling's name parses as a URI scheme
  test("a JSONL sidecar named m:eta.jsonl inside the tree is loaded, joined and left out (F4)") {
    val (in, sidecar) = tree("m:eta.jsonl", jsonl)
    assert(resolved(run(in, sidecar)) == expected)
  }

  test("J1/J2 parity through the pipeline: CSV sidecar") {
    val (in, sidecar) = tree("meta.csv", csv)
    assert(resolved(run(in, sidecar)) == expected)
  }

  test("a sidecar named meta.parquet is read as CSV, as every name but .jsonl/.json is (S4)") {
    val (in, sidecar) = tree("meta.parquet", csv)
    assert(resolved(run(in, sidecar)) == expected)
  }

  test("joinFiles resolves each relative path as the pipeline does; a null path gets the default") {
    val s = spark
    import s.implicits._
    val (_, sidecar) = tree("meta.jsonl", jsonl)
    val files = (expected.keys.toSeq :+ null).map(p => (p, 7)).toDF("relative_path", "n").repartition(3)
    val joined = Metadata.joinFiles(files, Metadata.load(spark.sparkContext, sidecar.getAbsolutePath))
    assert(joined.columns.toSeq == Seq("relative_path", "n", "score", "transcription"))
    val got = joined.filter($"n" === 7).collect().map(r => r.getString(0) -> (r.getString(3), r.getString(2))).toMap
    assert(got == expected + ((null: String) -> ("-", null)))
  }

  test("a JSONL sidecar's Catalyst values are what CatalystTypeConverters makes of its Scala values") {
    val hostile = Seq(
      """{"file_name":"a.wav","mixed":true,"list":["x",1.5],"grid":[[1,2],null,[null,3]],"obj":{"k":[1,{"z":null}]},"flag":true,"num":7,"transcription":3.5}""",
      """{"relative_path":"./b/b.wav","mixed":2,"list":[null,"y",false],"grid":[[4.5]],"obj":"plain","flag":null,"num":-0.5,"transcription":null}""",
      """{"mixed":"three","list":[true],"deep":[["s"],[1]],"flag":false,"transcription":"keyless"}""",
      """{"file_name":"c.wav","relative_path":"c/c.wav","deep":[[2.5,null],null],"obj":[1,"two"],"transcription":["t"]}""",
      """{"file_name":"a.wav","mixed":"loses","transcription":"second a"}""",
      """{}""",
      """{"file_name":null,"relative_path":null,"num":1}""").mkString("", "\n", "\n")
    val path = writeText(tmpDir("graft-values"), "meta.jsonl", hostile).getAbsolutePath
    val sidecar = Metadata.load(spark.sparkContext, path)
    assert(sidecar.schema.types.toSeq == Seq("deep" -> MList(MList(MString)), "flag" -> MBool,
      "grid" -> MList(MList(MFloat64)), "list" -> MList(MString), "mixed" -> MString, "num" -> MFloat64,
      "obj" -> MString, "transcription" -> MString))

    // the oracle: each keyed, first-wins line's values as Scala values, as
    // the reference coerces them (P7), through Spark's own converter
    def text(v: JsonNode): String = if (v == null || v.isNull) null else if (v.isTextual) v.asText() else v.toString
    def scalaValue(v: JsonNode, t: MetadataType): Any = t match {
      case _ if v == null || v.isNull => null
      case MString => text(v)
      case MBool => if (v.isBoolean) v.asBoolean() else null
      case MFloat64 => if (v.isNumber) v.asDouble() else null
      case MList(inner) => if (!v.isArray) null else v.elements().asScala.map(scalaValue(_, inner)).toSeq
    }
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(StructType(sidecar.schema.sparkFields))
    val mapper = new ObjectMapper()
    val keyed = hostile.linesIterator.map(mapper.readTree).filter(n => text(n.get("file_name")) != null ||
      text(n.get("relative_path")) != null).toSeq.take(3) // the fourth repeats a.wav
    val expected = keyed.map { n =>
      toCatalyst(Row.fromSeq(sidecar.schema.types.toSeq.map { case (k, t) =>
        if (k == "transcription") Option(text(n.get(k))).getOrElse("-") else scalaValue(n.get(k), t)
      })).asInstanceOf[InternalRow]
    }
    assert(sidecar.rows.length == expected.length)
    sidecar.rows.zip(expected).foreach { case (got, want) => assert(got == want) }
    assert(sidecar.rows.map(_.getUTF8String(7).toString) == Seq("3.5", "-", "[\"t\"]"))
  }

  test("shard i holds the i-th key in Spark's ORDER BY order (UTF-8, not UTF-16)") {
    val s = spark
    import s.implicits._
    val paths = Seq("～.wav", "😀.wav", "b.wav", "a.wav", "z.wav")
    val sparkOrder = paths.toDF("p").orderBy("p").collect().map(_.getString(0)).toSeq
    // the two non-ASCII names order differently as UTF-16 and as UTF-8 bytes
    assert(paths.sorted != sparkOrder)
    assert(Sharding.consecutiveShards(paths.toIndexedSeq, filesPerShard = 1)(identity) ==
      sparkOrder.map(Seq(_)))
    assert(Sharding.consecutiveShards((paths :+ "a.wav").toIndexedSeq, filesPerShard = 2)(identity) ==
      sparkOrder.grouped(2).toSeq.updated(0, Seq("a.wav", "a.wav", sparkOrder(1))))
    // a null key sorts first, as ORDER BY puts it, and is one key
    val withNull = (paths :+ null :+ null).toIndexedSeq
    assert((null +: sparkOrder) == (withNull.toDF("p").orderBy("p").collect().map(_.getString(0)).toSeq.distinct))
    assert(Sharding.consecutiveShards(withNull, filesPerShard = 2)(identity) ==
      Seq(Seq(null, null, sparkOrder(0))) ++ sparkOrder.tail.grouped(2).toSeq)
  }

  // planning (sidecar, walk, J1 table) runs on the driver: the write is the one job
  test("a warm JSONL→Parquet pipeline run launches 1 Spark job") {
    val (in, sidecar) = tree("meta.jsonl", jsonl)
    run(in, sidecar) // warm: the first run also pays one-off planning work
    val (out, jobs) = jobsOf(run(in, sidecar))
    assert(jobs == 1, s"$jobs jobs")
    assert(resolved(out) == expected)
  }

  /** A warm `--check-mime-type` run over the tree at `input`, its sidecar
    * at `sidecar`: its job count, with the rows checked. */
  private def mimeCheckedJobs(input: String, sidecar: String): Int = {
    val cfg = AudioToDataset.Config(input, tmpDir("graft-j1-out").getAbsolutePath,
      metadataFile = Some(sidecar), checkMimeType = true)
    AudioToDataset.run(spark, cfg)
    val (_, jobs) = jobsOf(AudioToDataset.run(spark, cfg))
    assert(resolved(new java.io.File(cfg.output)) == expected)
    jobs
  }

  test("with --check-mime-type a warm run on a file: tree launches 1 Spark job") { // heads sniffed on the driver
    val (in, sidecar) = tree("meta.jsonl", jsonl)
    val jobs = mimeCheckedJobs(in.getAbsolutePath, sidecar.getAbsolutePath)
    assert(jobs == 1, s"$jobs jobs")
  }

  test("with --check-mime-type a warm run on another scheme launches 2 Spark jobs") { // the head sniff and the write
    val (in, sidecar) = tree("meta.jsonl", jsonl)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.cfs.impl", classOf[OtherSchemeFs].getName)
    try {
      val jobs = mimeCheckedJobs("cfs:" + in.getAbsolutePath, "cfs:" + sidecar.getAbsolutePath)
      assert(jobs == 2, s"$jobs jobs")
    } finally hc.unset("fs.cfs.impl")
  }

  test("the sniff and write jobs are labelled, and the caller's job description is restored") {
    val (in, sidecar) = tree("meta.jsonl", jsonl)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.cfs.impl", classOf[OtherSchemeFs].getName)
    try {
      val (after, l) = launched {
        AudioToDataset.run(spark, AudioToDataset.Config("cfs:" + in.getAbsolutePath,
          tmpDir("graft-j1-out").getAbsolutePath, Some("cfs:" + sidecar.getAbsolutePath), format = "webdataset",
          filesPerShard = 4, checkMimeType = true))
        spark.sparkContext.getLocalProperty("spark.job.description")
      }
      assert(l.descriptions == Seq(s"graft: sniff ${expected.size} files", "graft: write 3 tar shards"))
      assert(after == SparkSpec.LaunchedDescription)
    } finally hc.unset("fs.cfs.impl")
  }

  // the content pass is a plain RDD job: no SQL execution is started, and
  // no job has a second stage, which a shuffle dependency would add
  private def noSqlNoShuffle(cfg: AudioToDataset.Config): Unit = {
    AudioToDataset.run(spark, cfg) // warm
    val (_, l) = launched(AudioToDataset.run(spark, cfg))
    assert(l.sqlExecutions == 0, s"${cfg.format}: ${l.sqlExecutions} SQL executions")
    assert(l.stagesPerJob.nonEmpty && l.stagesPerJob.forall(_ == 1), s"${cfg.format}: stages per job ${l.stagesPerJob}")
  }

  private def sidecarRun(format: String): AudioToDataset.Config = {
    val (in, sidecar) = tree("meta.jsonl", jsonl)
    AudioToDataset.Config(in.getAbsolutePath, tmpDir("graft-j1-out").getAbsolutePath,
      metadataFile = Some(sidecar.getAbsolutePath), format = format)
  }

  test("no SQL execution and no shuffle on the run path: JSONL→Parquet") {
    noSqlNoShuffle(sidecarRun("parquet"))
  }

  test("no SQL execution and no shuffle on the run path: JSONL→DuckDB") {
    try Class.forName("org.duckdb.DuckDBDriver")
    catch { case _: ClassNotFoundException => cancel("duckdb_jdbc not on test classpath") }
    noSqlNoShuffle(sidecarRun("duckdb"))
  }

  test("no SQL execution and no shuffle on the run path: no sidecar, --check-mime-type → tar") {
    val (in, _) = tree("meta.jsonl", jsonl)
    noSqlNoShuffle(AudioToDataset.Config(in.getAbsolutePath, tmpDir("graft-j1-out").getAbsolutePath,
      format = "webdataset", checkMimeType = true))
  }
}
