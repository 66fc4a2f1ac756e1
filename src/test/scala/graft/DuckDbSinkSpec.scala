package graft

import graft.functions.Wav
import org.scalatest.Assertions

/** K2 e2e: execute DuckDbShardSink.writeShards for REAL (JDBC on the test
  * classpath), read the `.duckdb` shards back over JDBC, and pin the
  * reference semantics (src/main.rs:797-847): `id` = 0-based in-shard index,
  * path-first audio struct order, List→JSON-text downgrade (fully escaped),
  * one file per shard, byte round-trip.
  *
  * Self-cancels when no duckdb_jdbc jar is on the classpath (prod ships the
  * driver alongside the app jar; the sink loads it reflectively).
  */
class DuckDbSinkSpec extends SparkSpec {

  private def requireDriver(): Unit =
    try Class.forName("org.duckdb.DuckDBDriver")
    catch { case _: ClassNotFoundException =>
      Assertions.cancel("duckdb_jdbc not on test classpath")
    }

  private def query[A](db: java.io.File, sql: String)(f: java.sql.ResultSet => A): A = {
    val conn = java.sql.DriverManager.getConnection(s"jdbc:duckdb:${db.getAbsolutePath}")
    try {
      val rs = conn.createStatement().executeQuery(sql)
      f(rs)
    } finally conn.close()
  }

  test("duckdb sink e2e: shards written, id = in-shard index, list → JSON text") {
    requireDriver()
    val in = tmpDir("graft-duck-in"); val out = tmpDir("graft-duck-out")
    val wavs = (0 until 5).map { i =>
      val w = Wav.synthWav(8000, 4000)
      writeFile(in, f"f$i%02d.wav", w)
      f"f$i%02d.wav" -> w
    }.toMap
    // JSONL sidecar with a list column containing control chars + quotes:
    // the JSON downgrade must stay VALID JSON (reference uses serde_json)
    // JSON-escaped fragment decoding to: a, NEWLINE, b, TAB, ", q, ", \
    val trickyJson = """a\nb\t\"q\"\\"""
    val meta = writeText(in, "metadata.jsonl",
      (0 until 5).map { i =>
        val item = if (i == 0) trickyJson else s"t$i"
        s"""{"file_name":"f0$i.wav","transcription":"tr$i","tags":["$item","x$i"]}"""
      }.mkString("\n") + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(
      input = in.getAbsolutePath, output = out.getAbsolutePath,
      metadataFile = Some(meta.getAbsolutePath),
      format = "duckdb", filesPerShard = 2))
    // 5 files / 2 per shard → shards 0,1,2
    val shardFiles = out.listFiles().filterNot(_.getName.startsWith(".")).sortBy(_.getName)
    assert(shardFiles.map(_.getName).toSeq == Seq("0.duckdb", "1.duckdb", "2.duckdb"))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    var seen = Vector.empty[(Int, Int, String)] // (shard, id, path)
    shardFiles.zipWithIndex.foreach { case (db, shard) =>
      // bytes as hex text: this JDBC driver's ResultSet has no getBytes
      query(db, "SELECT id, duration, audio.path, audio.sampling_rate, hex(audio.bytes), transcription, tags FROM files ORDER BY id") { rs =>
        while (rs.next()) {
          val id = rs.getInt(1)
          val path = rs.getString(3)
          assert(rs.getDouble(2) == 0.5)
          assert(rs.getInt(4) == 8000)
          assert(rs.getString(5) == wavs(path).map("%02X".format(_)).mkString,
            s"byte round-trip for $path")
          assert(rs.getString(6).startsWith("tr"))
          // tags column is VARCHAR holding VALID JSON (List→JSON downgrade)
          val node = mapper.readTree(rs.getString(7))
          assert(node.isArray && node.size() == 2)
          seen :+= ((shard, id, path))
        }
      }
      // audio struct is declared path-first in this sink (unlike Parquet)
      query(db, "SELECT typeof(audio) FROM files LIMIT 1") { rs =>
        rs.next()
        assert(rs.getString(1) == "STRUCT(path VARCHAR, sampling_rate INTEGER, bytes BLOB)")
      }
    }
    // id is the 0-based in-shard insert index, path order within shard,
    // consecutive chunks of 2 in global path order across shards
    assert(seen == Vector(
      (0, 0, "f00.wav"), (0, 1, "f01.wav"),
      (1, 0, "f02.wav"), (1, 1, "f03.wav"),
      (2, 0, "f04.wav")))
    // the tricky list value (control chars, quotes, backslash) round-trips
    // through the JSON downgrade exactly
    query(shardFiles.head, "SELECT tags FROM files WHERE id = 0") { rs =>
      rs.next()
      val arr = mapper.readTree(rs.getString(1))
      assert(arr.get(0).asText() == "a\nb\t\"q\"\\")
      assert(arr.get(1).asText() == "x0")
    }
  }

  test("duckdb sink e2e: nested lists and null list elements are JSON text") {
    requireDriver()
    val in = tmpDir("graft-duck-nest"); val out = tmpDir("graft-duck-nest-out")
    writeFile(in, "a.wav", Wav.synthWav(8000, 400))
    val meta = writeText(in, "metadata.jsonl",
      """{"file_name":"a.wav","tags":["x",null],"nested":[["p"],null,[null]]}""" + "\n")
    AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
      metadataFile = Some(meta.getAbsolutePath), format = "duckdb"))
    query(new java.io.File(out, "0.duckdb"), "SELECT tags, nested FROM files") { rs =>
      rs.next()
      assert((rs.getString(1), rs.getString(2)) == ("""["x",null]""", """[["p"],null,[null]]"""))
    }
  }

  test("duckdb sink e2e: output overwrite replaces existing shard files") {
    requireDriver()
    val in = tmpDir("graft-duck-in2"); val out = tmpDir("graft-duck-out2")
    writeFile(in, "only.wav", Wav.synthWav(16000, 8000))
    val cfg = AudioToDataset.Config(
      input = in.getAbsolutePath, output = out.getAbsolutePath, format = "duckdb")
    AudioToDataset.run(spark, cfg)
    AudioToDataset.run(spark, cfg) // rerun into the same out dir (X4)
    val files = out.listFiles().filterNot(_.getName.startsWith("."))
    assert(files.map(_.getName).toSeq == Seq("0.duckdb"))
    query(files.head, "SELECT count(*), min(id) FROM files") { rs =>
      rs.next(); assert(rs.getLong(1) == 1L && rs.getInt(2) == 0)
    }
  }
}
