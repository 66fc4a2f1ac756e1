package graft

import graft.core.GraftSession
import graft.operators.Sharding
import graft.sinks.{DuckDbShardSink, ParquetShardSink, ShardCommit, TarShardSink}
import graft.sources.{AudioScan, Metadata}
import org.apache.spark.{SparkConf, SparkContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** The end-to-end pipeline — the Spark re-expression of the reference CLI
  * (reference: main(), src/main.rs:615-860):
  *
  *   planning, on the driver as in the reference:
  *     sidecar read once: type vote, coercion, first-wins maps (S2/S3, J2, P7)
  *     → a walk of the tree, F1–F4 (S1), then F5 head sniffs in walk order
  *       (a remote tree's heads in one Spark job)
  *     → the kept files' lengths checked, and the files cut into shards (X1)
  *   content pass, a Spark job of its own: a plain RDD job with one task
  *   per shard, no shuffle and no sort, which builds each row where it is
  *   written, as the reference's per-shard closure does (src/main.rs:718-856):
  *     read each kept file once (P4)
  *     → WAV parse (P5)
  *     → each file's winning sidecar row, looked up in a broadcast (J1, P8)
  *     → audio struct assembly (P6)
  *     → exact-name Parquet (K1), DuckDB (K2) or tar shards
  *
  * The run needs only a `SparkContext`: no Catalyst plan is analyzed,
  * optimized or code-generated on the way, and no `SparkSession` is built.
  *
  * All defaults mirror the reference's clap args (src/main.rs:55-95).
  */
object AudioToDataset {

  final case class Config(
      input: String,
      output: String,
      metadataFile: Option[String] = None,
      format: String = "parquet",                   // parquet | duckdb | webdataset
      filesPerShard: Int = Sharding.DefaultFilesPerShard, // --files-per-db, 500
      maxDepth: Int = AudioScan.DefaultMaxDepth,    // --max-depth-size, 50
      checkMimeType: Boolean = false,               // --check-mime-type
      parquetCompression: String = "snappy")        // --parquet-compression

  /** The sink input: `rows`, one partition per shard with its rows in
    * `audio.path` order, laid out as `schema` ([[AudioScan.schema]]:
    * `audio, duration, <metadata keys sorted>, shard_id`); the resolved
    * metadata schema; the number of shards, for the write job's label
    * (`rows` has one partition even when a run has no shard, so it cannot
    * be read from there); and, when the input or the output is on another
    * scheme than `file:`, a broadcast of the context's Hadoop conf, which a
    * sniff job, the read and the write share. A `file:` run ships no conf:
    * its tasks read and write through [[graft.core.LocalFiles]]. */
  final case class Plan(
      rows: RDD[InternalRow],
      schema: StructType,
      meta: Metadata.MetaSchema,
      shards: Int,
      conf: Option[Broadcast[SerializableConfiguration]])

  def plan(sc: SparkContext, cfg: Config): Plan = {
    val sidecar = cfg.metadataFile.fold(Metadata.NoSidecar)(Metadata.load(sc, _))
    val conf = GraftSession.hadoopConf(sc, cfg.input, cfg.output)
    // X1: shard order is relative-path order (documented divergence from the
    // platform-dependent directory iterator, SURVEY.md §7.4); no audio byte
    // is read before the task that writes its shard
    val kept = AudioScan.scan(sc, cfg.input, cfg.maxDepth, cfg.metadataFile, cfg.checkMimeType, conf)
    kept.foreach(AudioScan.requireFits) // before any shard is written
    val shards = Sharding.consecutiveShards(kept, cfg.filesPerShard)(_.relativePath)
    Plan(AudioScan.read(sc, shards, sidecar, conf), AudioScan.schema(sidecar.schema), sidecar.schema,
      shards.length, conf)
  }

  /** [[run]] on the session's context, for callers that hold a session. */
  def run(spark: org.apache.spark.sql.SparkSession, cfg: Config): Unit = run(spark.sparkContext, cfg)

  def run(sc: SparkContext, cfg: Config): Unit = {
    // the sink is chosen, and its options checked, before the planning pass
    require(cfg.filesPerShard >= 1, s"--files-per-db must be at least 1, got ${cfg.filesPerShard}")
    val ext = ShardCommit.extension(cfg.format)
    val write: Plan => Unit = ext match {
      case "parquet" =>
        ParquetShardSink.codec(cfg.parquetCompression) // an unknown or unavailable codec fails here
        p => ParquetShardSink.writeShards(p.rows, p.schema, cfg.output, p.conf, cfg.parquetCompression,
          footerKv = Map("huggingface" -> ParquetShardSink.hfFeaturesJson(p.meta.types.toSeq)))
      case "duckdb" => p => DuckDbShardSink.writeShards(p.rows, cfg.output, p.conf, p.meta.types.toSeq)
      case "tar" => // engine extension: WebDataset tar shards for training loaders
        p => TarShardSink.writeShards(p.rows, cfg.output, p.conf, p.meta.types.toSeq)
    }
    val p = plan(sc, cfg)
    ShardCommit.sweep(cfg.output, cfg.format, sc.hadoopConfiguration) // a killed run's temporaries
    GraftSession.labelled(sc, s"graft: write ${p.shards} $ext shards")(write(p))
  }

  /** The CLI's flags: the reference's clap args (src/main.rs:55-95). */
  private val Flags = Set("input", "output", "metadata-file", "format", "files-per-db", "max-depth-size",
    "check-mime-type", "parquet-compression", "num-threads")

  /** CLI mirroring the reference's flags; any other `--flag` fails, as clap
    * fails, before a `SparkContext` is built. */
  def main(args: Array[String]): Unit = {
    val unknown = args.filter(a => a.startsWith("--") && !Flags(a.drop(2))).distinct
    if (unknown.nonEmpty) throw new IllegalArgumentException(s"unknown flags: ${unknown.mkString(", ")}")
    def arg(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }
    val cfg = Config(
      input = arg("input").getOrElse(sys.error("--input required")),
      output = arg("output").getOrElse(sys.error("--output required")),
      metadataFile = arg("metadata-file"),
      format = arg("format").getOrElse("parquet"),
      filesPerShard = arg("files-per-db").map(_.toInt).getOrElse(Sharding.DefaultFilesPerShard),
      maxDepth = arg("max-depth-size").map(_.toInt).getOrElse(AudioScan.DefaultMaxDepth),
      checkMimeType = args.contains("--check-mime-type"),
      parquetCompression = arg("parquet-compression").getOrElse("snappy"))
    // --num-threads mirrors the reference's rayon pool size (src/main.rs:79-81);
    // it sizes the `local[n]` master only (the run has no SQL shuffle).
    val numThreads = arg("num-threads").map(_.toInt)
    val conf = new SparkConf().setAppName("audios-to-dataset-spark")
    // Under spark-submit the master comes from the launcher; standalone runs
    // (sbt runMain, plain java -jar) default to all local cores.
    if (sys.props.get("spark.master").isEmpty && sys.env.get("MASTER").isEmpty)
      conf.setMaster(numThreads.fold("local[*]")(n => s"local[$n]"))
    val sc = new SparkContext(conf)
    try run(sc, cfg) finally sc.stop()
  }
}
