package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.immutable.{SortedMap, TreeMap}
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
  * sidecar once — one Spark read collected to the driver — and in that one
  * pass votes the types, coerces the values and builds the two first-wins
  * maps. [[joinFiles]] resolves each file to its one winning row and attaches
  * it through a single broadcast join.
  *
  * Driver memory: the de-duplicated sidecar rows are held on the driver. That
  * is the same order of size as the broadcast of those rows that the join
  * ships to every executor, so a sidecar too large for the driver would be
  * too large to broadcast as well.
  */
object Metadata {

  sealed trait Format
  case object Csv extends Format
  case object Jsonl extends Format
  case object ParquetMeta extends Format

  /** reference: metadata_format_from_path, src/main.rs:266-277 —
    * `.jsonl`/`.json` → JSONL, anything else (incl. no extension) → CSV.
    * Engine extension: `.parquet` sidecars (large manifests) load natively. */
  def formatFromPath(path: String): Format = {
    val ext = path.split('.').lastOption.map(_.toLowerCase).getOrElse("")
    if (ext == "jsonl" || ext == "json") Jsonl
    else if (ext == "parquet") ParquetMeta
    else Csv
  }

  final case class MetaSchema(types: SortedMap[String, MetadataType]) {
    /** Sorted metadata keys; always includes transcription (src/main.rs:159-164). */
    def keys: Seq[String] = types.keys.toSeq
    def sparkFields: Seq[StructField] =
      types.map { case (k, t) => StructField(k, t.toSpark, nullable = true) }.toSeq
  }

  private def withTranscription(m: Map[String, MetadataType]): MetaSchema = {
    val base = m -- MetadataType.reservedKeys -- Seq("file_name", "relative_path")
    MetaSchema(TreeMap.empty[String, MetadataType] ++ base + ("transcription" -> MString))
  }

  /** One sidecar line: its normalized `relative_path`, its `file_name` and
    * its values in `MetaSchema.keys` order. */
  private type Line = (String, String, Seq[Any])

  /** Load the sidecar as its first-wins table (J2, reference: insert_record,
    * src/main.rs:178-193): one row per line that is the FIRST holder of its
    * `relative_path` or its `file_name`, with columns
    * `relative_path, file_name, _meta_line, <metadata keys...>`. A key the
    * line lost to an earlier one is null, so every non-null key is unique.
    * Lines with neither key are dropped (F6, src/main.rs:323-325 / :378-380)
    * after their types were voted.
    */
  def load(spark: SparkSession, path: String): (DataFrame, MetaSchema) = {
    val (schema, lines) = formatFromPath(path) match {
      case Jsonl       => readJsonl(spark, path)
      case Csv         => readFrame(spark.read.option("header", true).csv(path))
      case ParquetMeta => readFrame(spark.read.parquet(path))
    }
    val (seenRel, seenName) = (new java.util.HashSet[String], new java.util.HashSet[String])
    val rows = lines.iterator.zipWithIndex.flatMap { case ((rel, name, values), i) =>
      val r = if (rel != null && seenRel.add(rel)) rel else null
      val n = if (name != null && seenName.add(name)) name else null
      if (r == null && n == null) None else Some(Row.fromSeq(r +: n +: i.toLong +: values))
    }.toSeq
    val fields = Seq(StructField("relative_path", StringType), StructField("file_name", StringType),
      StructField("_meta_line", LongType)) ++ schema.sparkFields
    (spark.createDataFrame(rows.asJava, StructType(fields)), schema)
  }

  /** CSV (every column String, src/main.rs:309-314) and the Parquet engine
    * extension (numerics → Float64, booleans → Bool, arrays → List, anything
    * else → String): the schema comes from the frame's own, and its rows are
    * cast to it and collected in file order. */
  private def readFrame(raw: DataFrame): (MetaSchema, Seq[Line]) = {
    def toMeta(dt: DataType): MetadataType = dt match {
      case BooleanType          => MBool
      case _: NumericType       => MFloat64
      case ArrayType(inner, _)  => MList(toMeta(inner))
      case _                    => MString
    }
    val schema = withTranscription(raw.schema.map(f => f.name -> toMeta(f.dataType)).toMap)
    val have = raw.columns.toSet
    def str(k: String) = if (have(k)) col(k).cast(StringType) else lit(null).cast(StringType)
    val values = schema.keys.map { k =>
      if (k == "transcription") coalesce(str(k), lit("-")) // src/main.rs:317-319
      else col(k).cast(schema.types(k).toSpark)
    }
    val lines = raw.select(str("relative_path") +: str("file_name") +: values: _*).collect()
      .map(r => (Option(r.getString(0)).map(PathNorm.normalize).orNull, r.getString(1), r.toSeq.drop(2)))
    (schema, lines.toSeq)
  }

  /** JSONL: each line is parsed once; blank and non-object lines are skipped
    * (src/main.rs:340-348). Every object line votes its types, keyless ones
    * included; the values are then coerced to the merged schema (P7). */
  private def readJsonl(spark: SparkSession, path: String): (MetaSchema, Seq[Line]) = {
    val mapper = new ObjectMapper()
    val nodes = spark.read.textFile(path).collect().toSeq.map(_.trim).filter(_.nonEmpty)
      .flatMap(t => scala.util.Try(mapper.readTree(t)).toOption.filter(n => n != null && n.isObject))
    val votes = nodes.foldLeft(Map.empty[String, MetadataType]) { (acc, node) =>
      node.properties().asScala.foldLeft(acc) { (a, e) =>
        MetadataType.inferJson(e.getValue)
          .fold(a)(t => a.updated(e.getKey, a.get(e.getKey).fold(t)(_.merge(t))))
      }
    }
    val schema = withTranscription(votes)
    val lines = nodes.map { node =>
      val values = schema.types.toSeq.map { case (k, t) =>
        if (k == "transcription") Option(jsonText(node.get(k))).getOrElse("-") // src/main.rs:372-374
        else convertJson(node.get(k), t)
      }
      (Option(jsonText(node.get("relative_path"))).map(PathNorm.normalize).orNull,
        jsonText(node.get("file_name")), values)
    }
    (schema, lines)
  }

  /** JSON value → the text the reference stores under a String column (P7):
    * strings render bare, everything else as its JSON serialization. */
  private def jsonText(v: JsonNode): String =
    if (v == null || v.isNull) null
    else if (v.isTextual) v.asText()
    else v.toString

  private def convertJson(v: JsonNode, t: MetadataType): Any = t match {
    case _ if v == null || v.isNull => null
    case MString  => jsonText(v)
    case MBool    => if (v.isBoolean) v.asBoolean() else null
    case MFloat64 => if (v.isNumber) v.asDouble() else null
    case MList(inner) =>
      if (!v.isArray) null
      else v.elements().asScala.map(e => convertJson(e, inner)).toSeq
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
    * `meta` is the first-wins table [[load]] returns. Its two key columns
    * are the two maps; the driver builds them from the table, a projection
    * picks each file's winning `_meta_line`, and ONE broadcast left join on
    * that index attaches the row, so the corpus scan never shuffles.
    */
  def joinFiles(files: DataFrame, meta: DataFrame, schema: MetaSchema): DataFrame = {
    val keys = meta.select("relative_path", "file_name", "_meta_line").collect()
    def byKey(i: Int): Map[String, Long] =
      keys.filterNot(_.isNullAt(i)).map(r => r.getString(i) -> r.getLong(2)).toMap
    val (byRel, byName) = (byKey(0), byKey(1))
    val winner = udf { (rel: String, name: String) =>
      byRel.getOrElse(rel, byName.getOrElse(name, byName.getOrElse(rel, -1L)))
    }
    val side = meta.select(
      col("_meta_line").as("_meta_idx") +: schema.keys.map(k => col(k).as(s"_m_$k")): _*)
    val resolved = schema.keys.map { k =>
      val c = col(s"_m_$k")
      (if (k == "transcription") coalesce(c, lit("-")) else c).as(k)
    }
    files.withColumn("_meta_idx", winner(col("relative_path"), col("file_name")))
      .join(broadcast(side), Seq("_meta_idx"), "left")
      .select(files.columns.map(col).toSeq ++ resolved: _*)
  }
}
