package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.univocity.parsers.csv.{CsvParser, CsvParserSettings, UnescapedQuoteHandling}
import graft.core._
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.immutable.{SortedMap, TreeMap}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Sidecar metadata subsystem (reference: src/main.rs:144-386).
  *
  * A metadata sidecar (CSV or JSONL) keys rows by `relative_path` and/or
  * `file_name`. The load fixes the output schema BEFORE the audio scan runs:
  *   - CSV: every non-reserved column is String (src/main.rs:309-314);
  *   - JSONL: per-value inference with the [[graft.core.MetadataType]] lattice
  *     merged across ALL rows — including rows later dropped for having no key
  *     (types-still-counted quirk, src/main.rs:321 / :376-380);
  *   - reserved keys `duration`/`audio`/`id` dropped (src/main.rs:245-247);
  *   - `transcription` always present, defaulting to "-" (src/main.rs:159-164);
  *   - duplicate keys: FIRST occurrence in file order wins (src/main.rs:178-193).
  *
  * Shape, as in the reference (src/main.rs:144-209): [[load]] reads the
  * sidecar's lines once into the driver through [[graft.core.LocalFiles]]
  * (`java.nio` on the local disk, the context's Hadoop FileSystem on
  * another scheme), whatever its format, and in that one pass votes the
  * types, coerces the values and builds the two first-wins maps: an
  * in-memory [[Sidecar]]. Its Catalyst values are built directly, from the
  * JSON or the CSV strings, so a load runs no Spark job and builds no SQL
  * `SessionState`. The pipeline's content pass calls [[Sidecar.resolve]] on
  * a broadcast of it for each file ([[AudioScan.read]]); [[joinFiles]]
  * makes the same call for each row of a frame of files, for the query
  * surface.
  *
  * Driver memory: the de-duplicated sidecar rows are held on the driver, and
  * the same rows are broadcast to every executor.
  */
object Metadata {

  sealed trait Format
  case object Csv extends Format
  case object Jsonl extends Format

  /** reference: metadata_format_from_path, src/main.rs:266-277 —
    * `.jsonl`/`.json` → JSONL, anything else (incl. no extension) → CSV. */
  def formatFromPath(path: String): Format = {
    val ext = path.split('.').lastOption.map(_.toLowerCase).getOrElse("")
    if (ext == "jsonl" || ext == "json") Jsonl else Csv
  }

  final case class MetaSchema(types: SortedMap[String, MetadataType]) {
    /** Sorted metadata keys; always includes transcription (src/main.rs:159-164). */
    def keys: Seq[String] = types.keys.toSeq
    def sparkFields: Seq[StructField] =
      types.map { case (k, t) => StructField(k, t.toSpark, nullable = true) }.toSeq
    /** [[sparkFields]] as [[Sidecar.resolve]] fills them: `transcription`
      * is never null (P8). */
    def resolvedFields: Seq[StructField] =
      sparkFields.map(f => if (f.name == "transcription") f.copy(nullable = false) else f)
  }

  private def withTranscription(m: Map[String, MetadataType]): MetaSchema = {
    val base = m -- MetadataType.reservedKeys -- Seq("file_name", "relative_path")
    MetaSchema(TreeMap.empty[String, MetadataType] ++ base + ("transcription" -> MString))
  }

  /** The first-wins table (J2, reference: insert_record, src/main.rs:178-193)
    * on the driver: one row per sidecar line that is the FIRST holder of its
    * `relative_path` or its `file_name`, its values in `schema.keys` order as
    * Catalyst values; `byRel` and `byName` map each key to the index of the
    * row that holds it. */
  final case class Sidecar(
      schema: MetaSchema,
      rows: IndexedSeq[InternalRow],
      byRel: Map[UTF8String, Int],
      byName: Map[UTF8String, Int]) {
    /** J1 (reference: metadata_for_file, src/main.rs:195-209): the row of
      * `byRel[rel]`, else `byName[file name of rel]`, else `byName[rel]`;
      * null if none. */
    def lookup(rel: UTF8String): InternalRow = {
      val i = byRel.getOrElse(rel, byName.getOrElse(rel.subStringIndex(Slash, -1), byName.getOrElse(rel, -1)))
      if (i < 0) null else rows(i)
    }

    /** P8 (src/main.rs:204-208): the metadata of a file no key matches —
      * every column null but `transcription`, which is "-". */
    val default: InternalRow =
      InternalRow.fromSeq(schema.keys.map(k => if (k == "transcription") UTF8String.fromString("-") else null))

    /** The metadata row of `rel`: its [[lookup]] match, else [[default]]. */
    def resolve(rel: UTF8String): InternalRow = {
      val row = lookup(rel)
      if (row == null) default else row
    }
  }

  private val Slash = UTF8String.fromString("/")

  /** No sidecar: only `transcription`, which every file defaults. */
  val NoSidecar: Sidecar = Sidecar(withTranscription(Map.empty), IndexedSeq.empty, Map.empty, Map.empty)

  /** One sidecar line: its normalized `relative_path`, its `file_name` and
    * its values in `MetaSchema.keys` order, as a Catalyst row. */
  private type Line = (String, String, InternalRow)

  /** Load the sidecar as its first-wins [[Sidecar]] table. Lines with
    * neither key are dropped (F6, src/main.rs:323-325 / :378-380) after
    * their types were voted. Either format is read on the driver, with the
    * context's Hadoop conf on a scheme other than `file:`.
    */
  def load(sc: SparkContext, path: String): Sidecar = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      LocalFiles.open(path, sc.hadoopConfiguration), java.nio.charset.StandardCharsets.UTF_8))
    // split at \n, \r and \r\n, as Hadoop's LineRecordReader splits Spark's text input
    val text = try in.lines().iterator().asScala.toVector finally in.close()
    val (schema, lines) = formatFromPath(path) match {
      case Jsonl => readJsonl(text)
      case Csv   => readCsv(text)
    }
    val rows = mutable.ArrayBuffer.empty[InternalRow]
    val (byRel, byName) = (mutable.HashMap.empty[UTF8String, Int], mutable.HashMap.empty[UTF8String, Int])
    // a key belongs to the first line that holds it; that line becomes the next row
    def claim(m: mutable.HashMap[UTF8String, Int], key: String): Boolean =
      key != null && m.getOrElseUpdate(UTF8String.fromString(key), rows.length) == rows.length
    lines.foreach { case (rel, name, row) =>
      if (claim(byRel, rel) | claim(byName, name)) rows += row // both claims, not short-circuited
    }
    Sidecar(schema, rows.toIndexedSeq, byRel.toMap, byName.toMap)
  }

  /** CSV: every column is String (src/main.rs:309-314), read as
    * `spark.read.option("header", true).csv` reads a file: a leading BOM is
    * dropped, then blank and whitespace-only lines; the first line left is
    * the header, its names made safe as Spark makes them ([[safeHeader]]);
    * each line is parsed on its own with Spark's univocity settings
    * ([[csvSettings]]). A short row is padded with null and a long one cut;
    * an empty or quoted-empty cell is null. */
  private def readCsv(text: Seq[String]): (MetaSchema, Seq[Line]) = {
    val parser = new CsvParser(csvSettings)
    def cells(line: String): Array[String] = Option(parser.parseLine(line)).getOrElse(Array.empty)
    val nonBlank = (text.take(1).map(_.stripPrefix("\uFEFF")) ++ text.drop(1)).filter(_.trim.nonEmpty)
    val header = nonBlank.headOption.fold(Array.empty[String])(h => safeHeader(cells(h)))
    val schema = withTranscription(header.map(_ -> (MString: MetadataType)).toMap)
    val at = header.zipWithIndex.toMap.withDefaultValue(-1)
    val columns = schema.keys.map(k => (at(k), k == "transcription")).toArray
    val lines = nonBlank.drop(1).map { line =>
      val c = cells(line)
      def cell(i: Int) = if (i < 0 || i >= c.length || c(i) == null || c(i).isEmpty) null else c(i)
      val values = columns.map[Any] { case (i, transcription) =>
        UTF8String.fromString(if (transcription && cell(i) == null) "-" else cell(i)) // src/main.rs:317-319
      }
      (Option(cell(at("relative_path"))).map(PathNorm.normalize).orNull, cell(at("file_name")),
        new GenericInternalRow(values): InternalRow)
    }
    (schema, lines)
  }

  /** The univocity settings Spark's CSV reader parses with when only
    * `header` is set (`CSVOptions.asParserSettings`): `,` `"` `\`, no
    * comments, no trimming, a bad quote ends its cell at the next
    * delimiter, and an empty cell reads as "". */
  private[graft] def csvSettings: CsvParserSettings = {
    val s = new CsvParserSettings() // `,` and `"` are its defaults
    s.getFormat.setQuoteEscape('\\')
    s.setCommentProcessingEnabled(false)
    s.setIgnoreLeadingWhitespaces(false)
    s.setIgnoreTrailingWhitespaces(false)
    s.setReadInputOnSeparateThread(false)
    s.setMaxColumns(20480)
    s.setNullValue("")
    s.setEmptyValue("")
    s.setMaxCharsPerColumn(-1)
    s.setUnescapedQuoteHandling(UnescapedQuoteHandling.STOP_AT_DELIMITER)
    s.setErrorContentLength(1000)
    s
  }

  /** Spark's header names (`CSVUtils.makeSafeHeader`, with
    * `spark.sql.caseSensitive` at its default, false): an empty name
    * becomes `_c{i}`, and a name another one repeats, case aside, gets its
    * index appended. */
  private def safeHeader(names: Array[String]): Array[String] = {
    val lower = names.filter(_ != null).map(_.toLowerCase)
    val repeated = lower.diff(lower.distinct).toSet
    names.zipWithIndex.map { case (n, i) =>
      if (n == null || n.isEmpty) s"_c$i" else if (repeated(n.toLowerCase)) s"$n$i" else n
    }
  }

  /** JSONL: each line is parsed once; blank and non-object lines are skipped
    * (src/main.rs:340-348). Every object line votes its types, keyless ones
    * included; the values are then coerced to the merged schema (P7), as
    * Catalyst values: `UTF8String`, boxed `Double` and `Boolean`,
    * `GenericArrayData` for a list, and null. */
  private def readJsonl(text: Seq[String]): (MetaSchema, Seq[Line]) = {
    val mapper = new ObjectMapper()
    val nodes = text.map(_.trim).filter(_.nonEmpty)
      .flatMap(t => scala.util.Try(mapper.readTree(t)).toOption.filter(n => n != null && n.isObject))
    val votes = nodes.foldLeft(Map.empty[String, MetadataType]) { (acc, node) =>
      node.properties().asScala.foldLeft(acc) { (a, e) =>
        MetadataType.inferJson(e.getValue)
          .fold(a)(t => a.updated(e.getKey, a.get(e.getKey).fold(t)(_.merge(t))))
      }
    }
    val schema = withTranscription(votes)
    val types = schema.types.toArray
    val lines = nodes.map { node =>
      val values = types.map { case (k, t) =>
        if (k == "transcription") UTF8String.fromString(Option(jsonText(node.get(k))).getOrElse("-")) // src/main.rs:372-374
        else convertJson(node.get(k), t)
      }
      (Option(jsonText(node.get("relative_path"))).map(PathNorm.normalize).orNull,
        jsonText(node.get("file_name")), new GenericInternalRow(values): InternalRow)
    }
    (schema, lines)
  }

  /** JSON value → the text the reference stores under a String column (P7):
    * strings render bare, everything else as its JSON serialization. */
  private def jsonText(v: JsonNode): String =
    if (v == null || v.isNull) null
    else if (v.isTextual) v.asText()
    else v.toString

  /** A JSON value coerced to `t`, as its Catalyst value; a value of
    * another kind is null. */
  private def convertJson(v: JsonNode, t: MetadataType): Any = t match {
    case _ if v == null || v.isNull => null
    case MString  => UTF8String.fromString(jsonText(v))
    case MBool    => if (v.isBoolean) java.lang.Boolean.valueOf(v.asBoolean()) else null
    case MFloat64 => if (v.isNumber) java.lang.Double.valueOf(v.asDouble()) else null
    case MList(inner) =>
      if (!v.isArray) null
      else new GenericArrayData(v.elements().asScala.map(e => convertJson(e, inner)).toArray)
  }

  /** J1 — the 3-level priority metadata join (reference: metadata_for_file,
    * src/main.rs:195-209): per audio file, metadata resolves by
    *   1. by_relative_path[relpath]
    *   2. by_name[file_name]
    *   3. by_name[relpath]
    * as a whole row (level 2 is consulted only when level 1 missed entirely),
    * then `transcription` defaults to "-" when no level matched (P8,
    * src/main.rs:204-208).
    *
    * Each row of `files` is extended with [[Sidecar.resolve]] of its
    * `relative_path` (its file name is the last component,
    * src/main.rs:771-780) in a broadcast of the [[Sidecar]], the call the
    * pipeline's content pass makes per file; a null path gets the no-match
    * row. No join, no shuffle and no generated code; creating the broadcast
    * runs no Spark job.
    */
  def joinFiles(files: DataFrame, sidecar: Sidecar): DataFrame = {
    val spark = files.sparkSession
    val table = spark.sparkContext.broadcast(sidecar)
    val rel = files.schema.fieldIndex("relative_path")
    val rows = files.queryExecution.toRdd.mapPartitions { it =>
      val t = table.value
      it.map { r =>
        val meta = if (r.isNullAt(rel)) t.default else t.resolve(r.getUTF8String(rel))
        // toRdd reuses its row object; the metadata row is shared and immutable
        new JoinedRow(r.copy(), meta): InternalRow
      }
    }
    GraftBridge.internalCreateDataFrame(spark, rows, StructType(files.schema.fields ++ sidecar.schema.resolvedFields))
  }
}
