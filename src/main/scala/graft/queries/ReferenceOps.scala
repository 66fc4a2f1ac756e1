package graft.queries

import graft.functions.{Magic, Wav}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** The reference's operator inventory (SURVEY.md §2) demonstrated over the
  * driver's testdata tables, each with a DuckDB oracle. The audio pipeline
  * itself is exercised end-to-end in PipelineSpec; these queries pin the same
  * operator SEMANTICS on oracle-checkable data.
  *
  * Query/oracle pairs live side by side so column aliases stay in sync.
  */
object ReferenceOps {

  type Q = (SparkSession, String) => DataFrame

  /** S1+P2: scan with projection + filter pushdown (column pruning reaches the
    * parquet reader; filter is pushed to the scan). */
  val s1ScanProject: Q = (s, dir) =>
    table(s, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
  val s1ScanProjectSql =
    "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem WHERE l_quantity > 45"

  /** P1: path normalization — backslash→slash, strip ALL leading ./
    * (reference: src/main.rs:112-122). Paths synthesized from documents. */
  val p1PathNormalize: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit(".\\"), col("source"), lit("\\sub\\"), col("doc_id"), lit(".wav")).as("raw_path"))
      .select(col("doc_id"), col("raw_path"),
        graft.core.PathNorm.normalizeCol(col("raw_path")).as("norm_path"))
  val p1PathNormalizeSql =
    """SELECT doc_id, raw_path, regexp_replace(regexp_replace(raw_path, '\\', '/', 'g'), '^(\./)+', '') AS norm_path
      |FROM (SELECT doc_id, '.\' || source || '\sub\' || doc_id || '.wav' AS raw_path FROM documents)""".stripMargin

  /** P3+F3: file-name extraction (basename) and the depth filter
    * (reference: src/main.rs:664-666, 771-780). */
  val f3DepthFilter: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("source"), lit("/d"), col("doc_id") % 7, lit("/d"), col("doc_id") % 3,
          lit("/f"), col("doc_id"), lit(".wav")).as("relpath"))
      .withColumn("depth", size(split(col("relpath"), "/")))
      .withColumn("file_name", element_at(split(col("relpath"), "/"), -1))
      .filter(col("depth") <= 4 && (col("doc_id") % 7) < 5)
  val f3DepthFilterSql =
    """SELECT doc_id, relpath, len(string_split(relpath, '/')) AS depth, (string_split(relpath, '/'))[-1] AS file_name
      |FROM (SELECT doc_id, source || '/d' || (doc_id % 7) || '/d' || (doc_id % 3) || '/f' || doc_id || '.wav' AS relpath FROM documents)
      |WHERE len(string_split(relpath, '/')) <= 4 AND (doc_id % 7) < 5""".stripMargin

  /** F4: metadata-file exclusion — drop an exact path from the scan set. */
  val f4Exclusion: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"), concat(col("source"), lit("/"), col("doc_id"), lit(".wav")).as("relpath"))
      .filter(col("relpath") =!= lit("src0/0.wav"))
  val f4ExclusionSql =
    """SELECT doc_id, source || '/' || doc_id || '.wav' AS relpath FROM documents
      |WHERE source || '/' || doc_id || '.wav' <> 'src0/0.wav'""".stripMargin

  /** F2: symlink exclusion (reference: src/main.rs:664 — WalkDir NoSymlink).
    * Stages a corpus under a fresh tmp root derived from `documents`
    * (doc_id < 32): for each doc a REAL file `real/f{id}.wav`, plus three
    * symlink routes that must all be dropped — a symlinked sibling file
    * (`link_f{id}.wav`), a second route through a symlinked DIRECTORY
    * (`linkdir/f{id}.wav`), and a link escaping the root (`ext.wav`). The
    * scan must keep exactly the real paths, which the oracle recomputes from
    * `documents`. Fixture staging is driver-side by construction (32 tiny
    * files per process). */
  val f2Symlink: Q = (s, dir) => {
    import java.nio.file.{Files, Paths}
    val ids = table(s, dir, "documents").filter(col("doc_id") < 32)
      .select(col("doc_id")).collect()
      .map(_.get(0).asInstanceOf[Number].longValue()).sorted
    val root = Files.createTempDirectory("graft-f2-")
    val real = Files.createDirectory(root.resolve("real"))
    val outside = Files.createTempDirectory("graft-f2-outside-")
    val extTarget = outside.resolve("x.wav")
    Files.write(extTarget, "RIFFoutside".getBytes)
    ids.foreach { id =>
      val f = real.resolve(s"f$id.wav")
      Files.write(f, s"RIFF$id".getBytes)
      if (id % 4 == 0)
        Files.createSymbolicLink(root.resolve(s"link_f$id.wav"), f)
    }
    Files.createSymbolicLink(root.resolve("linkdir"), real)
    Files.createSymbolicLink(root.resolve("ext.wav"), extTarget)
    import s.implicits._
    graft.sources.AudioScan.scan(s.sparkContext, root.toString)
      .map(_.relativePath).toDF("relative_path")
  }
  val f2SymlinkSql =
    "SELECT 'real/f' || doc_id || '.wav' AS relative_path FROM documents WHERE doc_id < 32"

  /** F5: MIME sniffing semantics over synthetic magic-byte payloads. Each doc
    * takes one of 6 deterministic headers; the sniffer must classify them and
    * keep only allow-listed audio (reference: src/main.rs:97-110, 695-707). */
  val f5MimeSniff: Q = (s, dir) => {
    val payload = when(col("doc_id") % 6 === 0, concat(lit("RIFF1234WAVE"), col("text")))
      .when(col("doc_id") % 6 === 1, concat(lit("fLaC"), col("text")))
      .when(col("doc_id") % 6 === 2, concat(lit("OggS"), col("text")))
      .when(col("doc_id") % 6 === 3, concat(lit("ID3x"), col("text")))
      .when(col("doc_id") % 6 === 4, concat(lit("FORM1234AIFF"), col("text")))
      .otherwise(col("text"))
    table(s, dir, "documents")
      .select(col("doc_id"), Magic.sniffCol(encode(payload, "UTF-8")).as("mime"))
      .groupBy(col("mime")).agg(count(lit(1)).as("n"), min(col("doc_id")).as("first_doc"))
  }
  val f5MimeSniffSql =
    """SELECT CASE
      |  WHEN doc_id % 6 = 0 THEN 'audio/wav'  WHEN doc_id % 6 = 1 THEN 'audio/flac'
      |  WHEN doc_id % 6 = 2 THEN 'audio/ogg'  WHEN doc_id % 6 = 3 THEN 'audio/mpeg'
      |  WHEN doc_id % 6 = 4 THEN 'audio/aiff' ELSE 'unknown' END AS mime,
      |  count(*) AS n, min(doc_id) AS first_doc
      |FROM documents GROUP BY 1""".stripMargin

  /** P5: WAV header parse round-trip — synthesize a WAV per row at a rate
    * chosen by doc_id, parse it back; duration must be exactly 1s and the
    * rate must round-trip (reference: src/main.rs:760-769). */
  val p5WavParse: Q = (s, dir) => {
    val sr = when(col("doc_id") % 4 === 0, 8000)
      .when(col("doc_id") % 4 === 1, 16000)
      .when(col("doc_id") % 4 === 2, 22050)
      .otherwise(44100)
    table(s, dir, "documents").filter(col("doc_id") < 64)
      .select(col("doc_id"), sr.as("sr_in"))
      .withColumn("wav", Wav.parseUdf(Wav.synthUdf(col("sr_in"), col("sr_in"))))
      .select(col("doc_id"), col("sr_in"), col("wav.duration").as("duration"),
        col("wav.sampling_rate").as("sampling_rate"))
  }
  val p5WavParseSql =
    """SELECT doc_id, sr_in, 1.0 AS duration, sr_in AS sampling_rate FROM (
      |  SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 8000 WHEN doc_id % 4 = 1 THEN 16000
      |    WHEN doc_id % 4 = 2 THEN 22050 ELSE 44100 END AS sr_in
      |  FROM documents WHERE doc_id < 64)""".stripMargin

  /** P7: value→string coercion — scalars and arrays under a String-typed
    * column render as JSON text (reference: src/main.rs:499-509, 542-563). */
  val p7StringCoercion: Q = (s, dir) =>
    table(s, dir, "events").filter(col("event_id") < 200)
      .select(col("event_id"),
        to_json(array(col("user_id"), col("event_id") % 5)).as("ids_json"),
        col("value").cast("string").as("value_str"))
  val p7StringCoercionSql =
    """SELECT event_id, to_json([user_id, event_id % 5])::VARCHAR AS ids_json,
      |  CAST(value AS VARCHAR) AS value_str
      |FROM events WHERE event_id < 200""".stripMargin

  /** P8: default transcription — COALESCE to '-' when the join missed
    * (reference: src/main.rs:204-208). */
  val p8DefaultValue: Q = (s, dir) =>
    table(s, dir, "documents")
      .select(col("doc_id"),
        coalesce(when(col("lang") === "en", col("source")), lit("-")).as("transcription"))
  val p8DefaultValueSql =
    "SELECT doc_id, COALESCE(CASE WHEN lang = 'en' THEN source END, '-') AS transcription FROM documents"

  /** J1: the 3-level priority left join — resolve each order against three
    * lookup tables with whole-row priority, then per-column coalesce
    * (reference: metadata_for_file, src/main.rs:195-209). Lookup 1 = customers
    * in AUTOMOBILE, 2 = customers in BUILDING, 3 = any customer; priority
    * must pick the highest level that matched. */
  val j1PriorityJoin: Q = (s, dir) => {
    val cust = table(s, dir, "customer")
    val l1 = cust.filter(col("c_mktsegment") === "AUTOMOBILE")
      .select(col("c_custkey").as("k1"), col("c_name").as("n1"))
    val l2 = cust.filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("k2"), col("c_name").as("n2"))
    val l3 = cust.select(col("c_custkey").as("k3"), col("c_acctbal").as("b3"))
    table(s, dir, "orders").filter(col("o_orderkey") < 3000)
      .join(broadcast(l1), col("o_custkey") === col("k1"), "left")
      .join(broadcast(l2), col("o_custkey") === col("k2"), "left")
      .join(broadcast(l3), col("o_custkey") === col("k3"), "left")
      .select(col("o_orderkey"),
        when(col("k1").isNotNull, col("n1"))
          .when(col("k2").isNotNull, col("n2"))
          .otherwise(col("b3").cast("string")).as("resolved"),
        when(col("k1").isNotNull, lit(1)).when(col("k2").isNotNull, lit(2))
          .otherwise(lit(3)).as("level"))
  }
  val j1PriorityJoinSql =
    """SELECT o_orderkey,
      |  CASE WHEN l1.c_custkey IS NOT NULL THEN l1.c_name
      |       WHEN l2.c_custkey IS NOT NULL THEN l2.c_name
      |       ELSE CAST(l3.c_acctbal AS VARCHAR) END AS resolved,
      |  CASE WHEN l1.c_custkey IS NOT NULL THEN 1
      |       WHEN l2.c_custkey IS NOT NULL THEN 2 ELSE 3 END AS level
      |FROM orders
      |LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'AUTOMOBILE') l1 ON o_custkey = l1.c_custkey
      |LEFT JOIN (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') l2 ON o_custkey = l2.c_custkey
      |LEFT JOIN customer l3 ON o_custkey = l3.c_custkey
      |WHERE o_orderkey < 3000""".stripMargin

  /** J2: first-wins dedup — first row per key in a defined order survives
    * (reference: insert_record, src/main.rs:178-193). */
  val j2FirstWins: Q = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey").as("first_order"), col("o_totalprice").as("first_price"))
  }
  val j2FirstWinsSql =
    """SELECT o_custkey, o_orderkey AS first_order, o_totalprice AS first_price FROM (
      |  SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn FROM orders)
      |WHERE rn = 1""".stripMargin

  /** X1: deterministic chunking — consecutive shards of 500 in key order;
    * per-shard row counts and key ranges (reference: src/main.rs:714-718).
    * Ranks come from the scale-safe distributed prefix sum
    * ([[graft.operators.Sharding.cumSum]]) — no single-partition window. */
  val x1ShardAssign: Q = (s, dir) => {
    val ranked = graft.operators.Sharding.cumSum(
      table(s, dir, "orders").select(col("o_orderkey")), "o_orderkey", lit(1L), "_rank")
    ranked
      .withColumn("shard_id", floor((col("_rank") - 1) / 500).cast("int"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
  }
  val x1ShardAssignSql =
    """SELECT shard_id, count(*) AS n, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key FROM (
      |  SELECT o_orderkey, CAST(floor((row_number() OVER (ORDER BY o_orderkey) - 1) / 500) AS INT) AS shard_id
      |  FROM orders)
      |GROUP BY shard_id""".stripMargin

  /** §1.3: the schema-inference lattice as a typed distributed Aggregator
    * over the events JSON props column — per-row type votes merged map-side
    * with MetadataType.merge (all JSON numbers → Float64). */
  val schemaInferJson: Q = (s, dir) => {
    import s.implicits._
    val votes: Seq[(String, String)] = table(s, dir, "events")
      .select(col("props")).as[String]
      .select(graft.functions.MetadataTypeAgg.toColumn)
      .head()
    votes.toDF("key", "type")
  }
  val schemaInferJsonSql = "SELECT 'k' AS key, 'Float64' AS type"

  /** §2.7 companion tool: csv_path_rewriter as a DataFrame transform —
    * basename extraction + relative path against the distributed
    * longest-common-directory-prefix. */
  val pathRewriter: Q = (s, dir) => {
    val in = table(s, dir, "documents")
      .select(col("doc_id"),
        concat(lit("/data/corpus/"), col("source"), lit("/f"), col("doc_id"), lit(".wav"))
          .as("file_name"),
        col("lang").as("transcription"))
    graft.operators.PathRewriter.rewrite(in, baseDir = None)
      .select(col("doc_id"), col("file_name"), col("relative_path"), col("transcription"))
  }
  val pathRewriterSql =
    """SELECT doc_id, 'f' || doc_id || '.wav' AS file_name,
      |  source || '/f' || doc_id || '.wav' AS relative_path,
      |  lang AS transcription
      |FROM documents""".stripMargin

  private val zipSynthUdf = udf((doc: Long) => {
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    val m = 2 + (doc % 3).toInt
    var k = 0
    while (k < m) {
      z.putNextEntry(new java.util.zip.ZipEntry(s"a$k.wav"))
      val sr = 8000 + 4000 * ((doc + k) % 3).toInt
      val len = 32 + ((doc * 7 + k * 13) % 64).toInt
      z.write(Wav.synthPcmWav(sr, len))
      z.closeEntry()
      k += 1
    }
    z.close()
    bos.toByteArray
  })
  private val zipEntriesUdf = udf((b: Array[Byte]) => {
    val zin = new java.util.zip.ZipInputStream(new java.io.ByteArrayInputStream(b))
    val out = Seq.newBuilder[(String, Int, Int, Int)]
    var e = zin.getNextEntry
    while (e != null) {
      val bytes = zin.readAllBytes()
      val info = Wav.parse(bytes)
      // n_samples integer (duration·sr, exact) — a raw duration double
      // lands on 4-decimal knife edges (e.g. 86/8000 = .01075) where
      // Spark's HALF_UP and DuckDB's binary-double round() disagree
      out += ((e.getName, bytes.length, info.sampling_rate,
        math.round(info.duration * info.sampling_rate).toInt))
      e = zin.getNextEntry
    }
    zin.close()
    out.result()
  })

  /** S-family extension: ARCHIVE ingestion — audio corpora routinely
    * arrive as zip/tar bundles, and extracting on the driver (or a
    * pre-pass) is the anti-pattern. Each archive is one row; entries
    * explode DISTRIBUTEDLY inside the executor (JDK zip — archives are
    * transport, not a codec to re-implement; the honest parse is the
    * per-entry WAV header read that follows). At scale the archive table
    * is a binaryFile scan and per-asset work is bounded by entry bytes. */
  val s5ZipScan: Q = (s, dir) => {
    table(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"))
      .withColumn("e", explode(zipEntriesUdf(zipSynthUdf(col("doc_id")))))
      .select(col("doc_id"), col("e._1").as("entry"), col("e._2").as("n_bytes"),
        col("e._3").as("sample_rate"), col("e._4").as("n_samples"))
  }
  val s5ZipScanSql =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS m
      |           FROM documents WHERE doc_id < 100)
      |SELECT doc_id, 'a' || k || '.wav' AS entry,
      |  CAST(44 + 2 * (32 + (doc_id*7 + k*13) % 64) AS INT) AS n_bytes,
      |  CAST(8000 + 4000 * ((doc_id + k) % 3) AS INT) AS sample_rate,
      |  CAST(32 + (doc_id*7 + k*13) % 64 AS INT) AS n_samples
      |FROM d, UNNEST(range(m)) AS t(k)""".stripMargin

  private val tarSynthUdf = udf((doc: Long) => {
    val nSamples = 2 + (doc % 2).toInt
    val entries = (0 until nSamples).flatMap { j =>
      val key = s"${doc}_$j"
      val sr = 8000 + 4000 * ((doc + j) % 2).toInt
      val len = 40 + ((doc * 3 + j * 11) % 50).toInt
      val label = ((doc + j) % 5).toInt
      Seq(
        graft.functions.Tar.Entry(s"$key.wav", Wav.synthPcmWav(sr, len)),
        graft.functions.Tar.Entry(s"$key.json",
          s"""{"label": $label}""".getBytes("UTF-8")))
    }
    graft.functions.Tar.archive(entries)
  })
  private val tarSamplesUdf = udf((b: Array[Byte]) => {
    graft.functions.Tar.entries(b).map { es =>
      es.groupBy(e => e.name.lastIndexOf('.') match {
          case -1 => e.name
          case i => e.name.substring(0, i)
        })
        .toSeq.map { case (key, comps) =>
          val sr = comps.find(_.name.endsWith(".wav"))
            .map(e => Wav.parse(e.bytes).sampling_rate).getOrElse(0)
          val label = comps.find(_.name.endsWith(".json"))
            .map(e => new String(e.bytes, "UTF-8"))
            .flatMap(s => "-?\\d+".r.findFirstIn(s)).map(_.toInt).getOrElse(-1)
          (key, comps.length, sr, label)
        }
    }.getOrElse(Seq.empty)
  })

  /** WebDataset-style ingestion (S-family extension): training corpora
    * ship as TAR SHARDS whose co-sampled files share a basename stem
    * (`00042.wav` + `00042.json` = one sample). Each shard is one row;
    * entries parse via the from-spec ustar reader
    * ([[graft.functions.Tar]]), regroup into samples IN THE EXECUTOR, and
    * each sample's components decode with their own codecs (WAV header,
    * JSON field). At scale the shard table is a binaryFile scan and
    * per-shard work is bounded by shard bytes — the WebDataset contract. */
  val s6TarWebdataset: Q = (s, dir) => {
    table(s, dir, "documents").filter(col("doc_id") < 100)
      .select(col("doc_id"))
      .withColumn("smp", explode(tarSamplesUdf(tarSynthUdf(col("doc_id")))))
      .select(col("doc_id"), col("smp._1").as("sample_key"),
        col("smp._2").as("n_components"), col("smp._3").as("sample_rate"),
        col("smp._4").as("label"))
  }
  val s6TarWebdatasetSql =
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 2 AS INT) AS ns
      |           FROM documents WHERE doc_id < 100)
      |SELECT doc_id, doc_id || '_' || j AS sample_key,
      |  CAST(2 AS INT) AS n_components,
      |  CAST(8000 + 4000 * ((doc_id + j) % 2) AS INT) AS sample_rate,
      |  CAST((doc_id + j) % 5 AS INT) AS label
      |FROM d, UNNEST(range(ns)) AS t(j)""".stripMargin

  def defs: Map[String, (Q, Option[String])] = Map(
    "s5_zip_scan" -> (s5ZipScan, Some(s5ZipScanSql)),
    "s6_tar_webdataset" -> (s6TarWebdataset, Some(s6TarWebdatasetSql)),
    "path_rewriter" -> (pathRewriter, Some(pathRewriterSql)),
    "s1_scan_project" -> (s1ScanProject, Some(s1ScanProjectSql)),
    "p1_path_normalize" -> (p1PathNormalize, Some(p1PathNormalizeSql)),
    "f3_depth_filter" -> (f3DepthFilter, Some(f3DepthFilterSql)),
    "f4_exclusion" -> (f4Exclusion, Some(f4ExclusionSql)),
    "f2_symlink" -> (f2Symlink, Some(f2SymlinkSql)),
    "f5_mime_sniff" -> (f5MimeSniff, Some(f5MimeSniffSql)),
    "p5_wav_parse" -> (p5WavParse, Some(p5WavParseSql)),
    "p7_string_coercion" -> (p7StringCoercion, Some(p7StringCoercionSql)),
    "p8_default_value" -> (p8DefaultValue, Some(p8DefaultValueSql)),
    "j1_priority_join" -> (j1PriorityJoin, Some(j1PriorityJoinSql)),
    "j2_first_wins" -> (j2FirstWins, Some(j2FirstWinsSql)),
    "x1_shard_assign" -> (x1ShardAssign, Some(x1ShardAssignSql)),
    "schema_infer_json" -> (schemaInferJson, Some(schemaInferJsonSql)),
  )
}
