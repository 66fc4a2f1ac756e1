package graft.queries

import graft.sources.Metadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Util._

/** Oracle-gated queries that drive the REAL metadata subsystem
  * (graft.sources.Metadata): sidecar files are generated deterministically
  * from the documents table, loaded through the actual CSV/JSONL code paths
  * (S2/S3/S4, F6 keyless-row quirk, J2 first-wins, J1 3-level join, P8
  * default), and the oracle reconstructs the expected join in pure SQL over
  * the same documents table.
  */
object MetadataOps {
  type Q = (SparkSession, String) => DataFrame

  private def sidecarDir(dir: String): java.io.File = {
    val f = new java.io.File(
      System.getProperty("java.io.tmpdir"),
      "graft-sidecars-" + dir.replaceAll("[^a-zA-Z0-9.]", "_"))
    f.mkdirs()
    f
  }

  /** Deterministic CSV sidecar derived from documents:
    *   - even doc_id rows keyed by relative_path `docs/doc{n}.wav`
    *   - doc_id % 3 == 0 rows keyed by file_name only (join level 2)
    *   - every doc_id % 10 == 0 row DUPLICATED with a different value
    *     (first-wins must keep the first)
    *   - one keyless row (dropped, but its `extra` column still exists)
    *   - `duration` column present → reserved, must be dropped
    */
  private def writeCsv(s: SparkSession, dir: String): String = {
    val f = new java.io.File(sidecarDir(dir), "meta.csv")
    if (!f.exists()) {
      val docs = table(s, dir, "documents").select("doc_id", "lang")
        .orderBy("doc_id").collect()
      val sb = new StringBuilder("file_name,relative_path,transcription,quality,duration\n")
      docs.foreach { r =>
        val id = r.getLong(0); val lang = r.getString(1)
        if (id % 2 == 0)
          sb.append(s"doc$id.wav,docs/doc$id.wav,text-rel-$id,q$lang,9.9\n")
        else if (id % 3 == 0)
          sb.append(s"doc$id.wav,,text-name-$id,,\n")
        if (id % 10 == 0)
          sb.append(s"doc$id.wav,docs/doc$id.wav,DUPLICATE-$id,qdup,\n")
      }
      sb.append(",,keyless-row,orphan-quality,\n")
      java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
    }
    f.getAbsolutePath
  }

  /** S2+S4+F6+J1+J2+P8 through the real loader and join. */
  val s2CsvMetadataJoin: Q = (s, dir) => {
    val path = writeCsv(s, dir)
    val sidecar = Metadata.load(s.sparkContext, path) // dispatch: .csv → CSV (S4)
    val files = table(s, dir, "documents")
      .select(col("doc_id"), concat(lit("docs/doc"), col("doc_id"), lit(".wav")).as("relative_path"))
    Metadata.joinFiles(files, sidecar)
      .select(col("doc_id"), col("transcription"), col("quality"))
  }
  val s2CsvMetadataJoinSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'text-rel-' || doc_id
      |       WHEN doc_id % 3 = 0 THEN 'text-name-' || doc_id
      |       ELSE '-' END AS transcription,
      |  CASE WHEN doc_id % 2 = 0 THEN 'q' || lang END AS quality
      |FROM documents""".stripMargin

  /** Deterministic JSONL sidecar: typed values (bool/double/list), a blank
    * line, a non-object line, a keyless row voting an extra column's type,
    * and a conflicting type vote that must widen to String. */
  private def writeJsonl(s: SparkSession, dir: String): String = {
    val f = new java.io.File(sidecarDir(dir), "meta.jsonl")
    if (!f.exists()) {
      val docs = table(s, dir, "documents").select("doc_id", "n_chars")
        .orderBy("doc_id").collect()
      val sb = new StringBuilder
      docs.foreach { r =>
        val id = r.getLong(0); val n = r.getLong(1)
        if (id % 2 == 0)
          sb.append(s"""{"relative_path":"docs/doc$id.wav","transcription":"t$id","verified":${id % 4 == 0},"score":${n}.5,"tags":["a$id","b"]}""" + "\n")
        if (id == 2) sb.append("\n") // blank line: skipped
        if (id == 4) sb.append("not json\n") // non-object line: skipped
      }
      // keyless row: dropped from the join side, but votes mixed → String
      sb.append("""{"score":"not-a-number","mixed":true}""" + "\n")
      java.nio.file.Files.write(f.toPath, sb.toString.getBytes("UTF-8"))
    }
    f.getAbsolutePath
  }

  /** S3: typed JSONL metadata through the lattice — `score` widens
    * Float64⊔String→String (so numbers render as JSON text, P7), `verified`
    * stays Bool, `tags` stays List(String). */
  val s3JsonlMetadataJoin: Q = (s, dir) => {
    val path = writeJsonl(s, dir)
    val sidecar = Metadata.load(s.sparkContext, path)
    val files = table(s, dir, "documents")
      .select(col("doc_id"), concat(lit("docs/doc"), col("doc_id"), lit(".wav")).as("relative_path"))
    Metadata.joinFiles(files, sidecar)
      .select(col("doc_id"), col("transcription"), col("verified"),
        col("score"), col("mixed"), to_json(col("tags")).as("tags_json"))
  }
  val s3JsonlMetadataJoinSql =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 't' || doc_id ELSE '-' END AS transcription,
      |  CASE WHEN doc_id % 2 = 0 THEN doc_id % 4 = 0 END AS verified,
      |  CASE WHEN doc_id % 2 = 0 THEN n_chars || '.5' END AS score,
      |  CAST(NULL AS BOOLEAN) AS mixed,
      |  CASE WHEN doc_id % 2 = 0 THEN '["a' || doc_id || '","b"]' END AS tags_json
      |FROM documents""".stripMargin

  def defs: Map[String, (Q, Option[String])] = Map(
    "s2_csv_metadata_join" -> (s2CsvMetadataJoin, Some(s2CsvMetadataJoinSql)),
    "s3_jsonl_metadata_join" -> (s3JsonlMetadataJoin, Some(s3JsonlMetadataJoinSql)),
  )
}
