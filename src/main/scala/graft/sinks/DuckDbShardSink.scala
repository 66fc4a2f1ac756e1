package graft.sinks

import graft.core.{MBool, MFloat64, MList, MString, MetadataType}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.SerializableConfiguration

/** K2 — DuckDB shard writer (reference: src/main.rs:388-436, 797-847).
  *
  * Mirrored semantics:
  *   - DDL: `CREATE SEQUENCE seq; CREATE TABLE files (id INTEGER PRIMARY KEY
  *     DEFAULT NEXTVAL('seq'), duration DOUBLE, audio STRUCT(path VARCHAR,
  *     sampling_rate INTEGER, bytes BLOB), "<key>" <type> ...)` — audio field
  *     order path-first, DIFFERENT from the Parquet sink (src/main.rs:395);
  *   - metadata types: Bool→BOOLEAN, Float64→DOUBLE, String→VARCHAR,
  *     List(_)→VARCHAR holding JSON text (src/main.rs:406, 835-837);
  *   - `id` bound explicitly to the 0-based in-shard row index (src/main.rs:807-809);
  *   - one prepared INSERT with `row(?,?,?)` for audio (src/main.rs:428), one
  *     transaction per shard (src/main.rs:803-843);
  *   - per-row insert errors silently ignored (src/main.rs:841).
  *
  * It writes the pipeline's rows as its content pass built them (an
  * `RDD[InternalRow]`, read by ordinal; no Row deserialization).
  *
  * The embedded single-writer model is a natural fit for one-file-per-task:
  * each executor task builds its shard in a local database, commits it, and
  * copies it into [[ShardCommit]]'s temporary file, which becomes
  * `{shard}.duckdb`; a failed shard's local database is closed uncommitted
  * and deleted. The JDBC driver (`org.duckdb.DuckDBDriver`) is loaded
  * reflectively so the library compiles and the SQL generation is testable
  * without DuckDB on the classpath; at runtime the caller ships duckdb_jdbc
  * alongside the app jar.
  */
object DuckDbShardSink {

  def duckType(t: MetadataType): String = t match {
    case MBool    => "BOOLEAN"
    case MFloat64 => "DOUBLE"
    case MString  => "VARCHAR"
    case MList(_) => "VARCHAR" // JSON text downgrade
  }

  /** reference: build_create_table_sql, src/main.rs:388-416. */
  def createTableSql(metaTypes: Seq[(String, MetadataType)]): String = {
    val metaCols = metaTypes.map { case (k, t) =>
      s""""${MetadataType.sanitizeColumnName(k)}" ${duckType(t)}"""
    }
    (Seq(
      "id INTEGER PRIMARY KEY DEFAULT NEXTVAL('seq')",
      "duration DOUBLE",
      "audio STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB)",
    ) ++ metaCols).mkString("CREATE TABLE files (", ", ", ")")
  }

  val createSequenceSql = "CREATE SEQUENCE seq"

  /** reference: build_insert_sql, src/main.rs:418-436. */
  def insertSql(metaTypes: Seq[(String, MetadataType)]): String = {
    val metaNames = metaTypes.map { case (k, _) => s""""${MetadataType.sanitizeColumnName(k)}"""" }
    val cols = (Seq("id", "duration", "audio") ++ metaNames).mkString(", ")
    val params = (Seq("?", "?", "row(?, ?, ?)") ++ metaTypes.map(_ => "?")).mkString(", ")
    s"INSERT INTO files ($cols) VALUES ($params)"
  }

  /** Write one `{shard_id}.duckdb` per shard. Each row is laid out as
    * `AudioScan.schema`: `audio struct<bytes,sampling_rate,path>, duration`,
    * one column per `metaTypes` entry, `shard_id`; fields are read by
    * ordinal. `rows` come already arranged: each shard whole in one
    * partition, its rows contiguous and in `id` order.
    */
  def writeShards(
      rows: RDD[InternalRow],
      outDir: String,
      conf: Option[Broadcast[SerializableConfiguration]],
      metaTypes: Seq[(String, MetadataType)]): Unit = {
    val ddl = Seq(createSequenceSql, createTableSql(metaTypes))
    val ins = insertSql(metaTypes)
    val metaKinds = metaTypes.map(_._2).toIndexedSeq
    rows.foreachPartition { part =>
      Class.forName("org.duckdb.DuckDBDriver")
      // Jackson for list→JSON text: full escaping (control chars included),
      // matching the reference's serde_json Value::to_string (src/main.rs:835-837)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      ShardCommit.commit(part, outDir, "duckdb", conf)(r => r.getInt(r.numFields - 1)) { out =>
        val local = java.io.File.createTempFile("graft-shard-", ".duckdb")
        local.delete()
        val conn = java.sql.DriverManager.getConnection(s"jdbc:duckdb:${local.getAbsolutePath}")
        conn.setAutoCommit(false) // one txn per shard
        val s = conn.createStatement()
        ddl.foreach(s.execute); s.close()
        val stmt = conn.prepareStatement(ins)
        new ShardCommit.Writer[InternalRow] {
          private var rowIdx = 0
          def write(row: InternalRow): Unit = {
            try {
              val audio = row.getStruct(0, 3)
              stmt.setInt(1, rowIdx) // in-shard 0-based index
              stmt.setDouble(2, row.getDouble(1))
              stmt.setString(3, audio.getUTF8String(2).toString)
              stmt.setInt(4, audio.getInt(1))
              stmt.setBytes(5, audio.getBinary(0))
              for ((t, i) <- metaKinds.zipWithIndex) {
                val (ord, pos) = (2 + i, 6 + i)
                if (row.isNullAt(ord)) stmt.setObject(pos, null)
                else t match {
                  case MBool    => stmt.setBoolean(pos, row.getBoolean(ord))
                  case MFloat64 => stmt.setDouble(pos, row.getDouble(ord))
                  case MString  => stmt.setString(pos, row.getUTF8String(ord).toString)
                  case MList(_) =>
                    stmt.setString(pos, mapper.writeValueAsString(MetadataType.toJson(row.getArray(ord), t)))
                }
              }
              stmt.executeUpdate()
            } catch { case _: java.sql.SQLException => /* src/main.rs:841 */ }
            rowIdx += 1
          }
          def close(): Unit = {
            stmt.close(); conn.commit(); conn.close()
            java.nio.file.Files.copy(local.toPath, out)
            local.delete()
          }
          override def abort(): Unit = try conn.close() finally local.delete()
        }
      }
    }
  }
}
