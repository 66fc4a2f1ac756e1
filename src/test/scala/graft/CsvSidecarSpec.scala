package graft

import graft.core.{MString, MetadataType, PathNorm}
import graft.sources.Metadata
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.TreeMap
import scala.collection.mutable

/** A CSV sidecar loads on the driver as `spark.read.option("header", true).csv`
  * reads it: the oracle here reads each file with that Spark read and builds
  * the first-wins [[Metadata.Sidecar]] from its rows, and [[Metadata.load]]
  * must build the same table (schema, rows, `byRel`, `byName`). */
class CsvSidecarSpec extends SparkSpec {

  /** The sidecar table built from Spark's CSV read of `path`: its columns
    * selected and collected in file order, then the first-wins loop. */
  private def oracle(path: String): Metadata.Sidecar = {
    val raw: DataFrame = spark.read.option("header", true).csv(path)
    val schema = Metadata.MetaSchema(TreeMap.empty[String, MetadataType] ++
      (raw.columns.toSet -- MetadataType.reservedKeys -- Seq("file_name", "relative_path") + "transcription")
        .map(_ -> MString))
    def str(k: String) = if (raw.columns.contains(k)) col(k) else lit(null).cast(StringType)
    val values = schema.keys.map(k => if (k == "transcription") coalesce(str(k), lit("-")) else col(k))
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    val (byRel, byName) = (mutable.HashMap.empty[UTF8String, Int], mutable.HashMap.empty[UTF8String, Int])
    def claim(m: mutable.HashMap[UTF8String, Int], key: String): Boolean =
      key != null && m.getOrElseUpdate(UTF8String.fromString(key), rows.length) == rows.length
    raw.select(str("relative_path") +: str("file_name") +: values: _*).collect().foreach { r =>
      if (claim(byRel, Option(r.getString(0)).map(PathNorm.normalize).orNull) | claim(byName, r.getString(1)))
        rows += new GenericInternalRow(Array.tabulate[Any](values.length)(i =>
          UTF8String.fromString(r.getString(i + 2))))
    }
    Metadata.Sidecar(schema, rows.toIndexedSeq, byRel.toMap, byName.toMap)
  }

  private def sameAsSpark(name: String, text: String): Metadata.Sidecar = {
    val path = writeText(tmpDir("graft-csv"), name, text).getAbsolutePath
    val got = Metadata.load(spark.sparkContext, path)
    assert(got == oracle(path), s"$name:\n$text")
    got
  }

  private val header = "relative_path,file_name,transcription,score\n"

  test("quotes, escaped quotes and backslash escapes") {
    val t = sameAsSpark("q.csv", header +
      "a.wav,,\"one, two\",1\n" +
      "b.wav,,\"say \"\"hi\"\"\",2\n" +
      "c.wav,,\"back\\\"slash\",3\n" +
      "d.wav,,mid\"quote,4\n" +
      "e.wav,,\"open,5\n" +
      "f.wav,,\"ab\"c,6\n" +
      "g.wav,,tail\\,7\n")
    assert(t.rows.length == 7)
  }

  test("empty and quoted-empty cells are null; transcription defaults to -") {
    val t = sameAsSpark("e.csv", header + "a.wav,,,\n\"\",b.wav,\"\",\"\"\n c.wav , ,\" \",\n,,keyless,9\n")
    assert(t.byRel.keySet.map(_.toString) == Set("a.wav", " c.wav "))
  }

  test("rows shorter and longer than the header") {
    sameAsSpark("s.csv", header + "a.wav\nb.wav,\nc.wav,x.wav,t,1,extra,more\n,d.wav,t2\n")
  }

  test("CRLF and lone-CR line ends, a BOM, blank and whitespace-only lines") {
    sameAsSpark("crlf.csv", header.replace("\n", "\r\n") + "a.wav,,one,1\r\n\r\nb.wav,,two,2\r\n")
    sameAsSpark("cr.csv", header.replace("\n", "\r") + "a.wav,,one,1\rb.wav,,two,2\r")
    sameAsSpark("bom.csv", "\uFEFF" + header + "a.wav,,one,1\n")
    sameAsSpark("bom-blank.csv", "\uFEFF\n  \n" + header + "\t\n \na.wav,,one,1\n   \n,b.wav,two,\n")
    sameAsSpark("blank-first.csv", "\n\n" + header + "\n\na.wav,,one,1")
  }

  test("duplicate, empty and case-variant header names") {
    val variant = sameAsSpark("case.csv", "Relative_Path,file_name,Transcription,score\na.wav,b.wav,T,1\n")
    assert(variant.schema.keys == Seq("Relative_Path", "Transcription", "score", "transcription"))
    assert(variant.byRel.isEmpty && variant.rows.head.getUTF8String(3).toString == "-")
    val dup = sameAsSpark("dup.csv", "relative_path,file_name,score,Score,,note,note,\na.wav,,1,2,3,4,5,6\n")
    assert(dup.schema.keys == Seq("Score3", "_c4", "_c7", "note5", "note6", "score2", "transcription"))
    sameAsSpark("both.csv", "relative_path,RELATIVE_PATH,file_name\na.wav,b.wav,c.wav\n")
  }

  test("non-ASCII text") {
    sameAsSpark("u.csv", "relative_path,file_name,transcription,ノート\n" +
      "日本/語.wav,,こんにちは,é😀\n,ß.wav,\"naïve, „quoted“\", \n")
  }

  test("a header with no rows, and an empty file") {
    assert(sameAsSpark("h.csv", header).rows.isEmpty)
    assert(sameAsSpark("empty.csv", "").schema.keys == Seq("transcription"))
  }

  test("generated CSVs of quotes, escapes, separators and line ends") {
    val tokens = IndexedSeq("a", "b.wav", ",", ",", "\"", "\"", "\\", " ", "\t", "\n", "\r\n", "\r", "é", "",
      "x/y.wav", "./z.wav")
    val names = IndexedSeq("relative_path", "file_name", "transcription", "score", "Score", "", "note")
    for (seed <- 1 to 30) {
      val rnd = new scala.util.Random(seed)
      // a non-blank header line: a blank one would make the next line the header
      val head = Seq.fill(1 + rnd.nextInt(5))(names(rnd.nextInt(names.length))).mkString(",") match {
        case "" => "note"
        case h => h
      }
      val body = Seq.fill(rnd.nextInt(120))(tokens(rnd.nextInt(tokens.length))).mkString
      sameAsSpark(s"gen$seed.csv", head + "\n" + body)
    }
  }

  test("a sidecar on another scheme is read through its Hadoop FileSystem") {
    val f = writeText(tmpDir("graft-csv"), "meta.csv", header + "a.wav,,one,1\n,b.wav,two,2\n")
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.cfs.impl", classOf[OtherSchemeFs].getName)
    val path = "cfs:" + f.getAbsolutePath
    try assert(Metadata.load(spark.sparkContext, path) == oracle(path))
    finally hc.unset("fs.cfs.impl")
  }

  test("the parser settings are Spark's CSV reader's") {
    val sparks = new CSVOptions(Map("header" -> "true"), true, "UTC").asParserSettings
    assert(Metadata.csvSettings.toString == sparks.toString)
  }
}
