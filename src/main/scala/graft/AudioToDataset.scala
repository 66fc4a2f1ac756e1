package graft

import graft.functions.Wav
import graft.operators.Sharding
import graft.sinks.{DuckDbShardSink, ParquetShardSink, ShardCommit, TarShardSink}
import graft.sources.{AudioScan, Metadata}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end pipeline — the Spark re-expression of the reference CLI
  * (reference: main(), src/main.rs:615-860). Declarative plan:
  *
  *   planning, on the driver as in the reference:
  *     sidecar read once: type vote, coercion, first-wins maps (S2/S3, J2, P7)
  *     → a walk of the tree, F1–F4 (S1); F5 head sniffs in one Spark job
  *     → the kept files cut into shards (X1)
  *   content pass, the one other Spark job: one task per shard, no shuffle
  *   and no sort:
  *     read each kept file once (P4)
  *     → WAV parse (P5)
  *     → each file's winning sidecar row, looked up in a broadcast (J1, P8)
  *     → audio struct assembly (P6)
  *     → exact-name Parquet (K1), DuckDB (K2) or tar shards
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
      parquetCompression: String = "snappy",        // --parquet-compression
      // Engine extensions beyond the reference CLI:
      // F2 opt-out (--follow-symlinks) — the local walk follows links and
      // skips a directory link back to its own ancestor; object stores have
      // no links. --path-glob prunes by file name on ANY scheme, at listing
      // time (a Hadoop glob, as binaryFile's pathGlobFilter).
      excludeSymlinks: Boolean = true,              // --follow-symlinks clears
      pathGlobFilter: Option[String] = None,        // --path-glob
      // zip bundles explode into entries in-executor (bang-notation paths)
      expandArchives: Boolean = false)              // --expand-archives

  /** The sink input: columns `audio, duration, <metadata keys sorted>,
    * shard_id`, one partition per shard with its rows in `audio.path` order,
    * plus the resolved metadata schema. */
  def plan(spark: SparkSession, cfg: Config): (DataFrame, Metadata.MetaSchema) = {
    val sidecar = cfg.metadataFile.fold(Metadata.NoSidecar)(Metadata.load(spark, _))
    // X1: shard order is relative-path order (documented divergence from the
    // platform-dependent directory iterator, SURVEY.md §7.4); no audio byte
    // is read before the task that writes its shard
    val kept = AudioScan.scan(spark, cfg.input, cfg.maxDepth, cfg.metadataFile,
        cfg.checkMimeType, cfg.excludeSymlinks, cfg.pathGlobFilter, cfg.expandArchives)
    val shards = Sharding.consecutiveShards(kept, cfg.filesPerShard)(_.relativePath)
    val parsed = AudioScan.read(spark, shards).withColumn("wav", Wav.parseCol(col("content"))) // P5
    val sharded = Metadata.joinFiles(parsed, sidecar).select(
      Seq(
        struct( // P6 — Parquet field order bytes, sampling_rate, path (src/main.rs:465-470)
          col("content").as("bytes"),
          col("wav.sampling_rate").as("sampling_rate"),
          col("relative_path").as("path")).as("audio"),
        col("wav.duration").as("duration")) ++
        sidecar.schema.keys.map(col) :+ col("shard_id"): _*)
    (sharded, sidecar.schema)
  }

  def run(spark: SparkSession, cfg: Config): Unit = {
    // the sink is chosen, and its options checked, before the planning pass
    val write: (DataFrame, Metadata.MetaSchema) => Unit = ShardCommit.extension(cfg.format) match {
      case "parquet" =>
        ParquetShardSink.codec(cfg.parquetCompression)
        (df, meta) => ParquetShardSink.writeShards(df, cfg.output, cfg.parquetCompression,
          footerKv = Map("huggingface" -> ParquetShardSink.hfFeaturesJson(meta.types.toSeq)))
      case "duckdb" => (df, meta) => DuckDbShardSink.writeShards(df, cfg.output, meta.types.toSeq)
      case "tar" => // engine extension: WebDataset tar shards for training loaders
        (df, meta) => TarShardSink.writeShards(df, cfg.output, meta.keys)
    }
    val (sharded, metaSchema) = plan(spark, cfg)
    write(sharded, metaSchema)
  }

  /** CLI mirroring the reference's flags. */
  def main(args: Array[String]): Unit = {
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
      parquetCompression = arg("parquet-compression").getOrElse("snappy"),
      excludeSymlinks = !args.contains("--follow-symlinks"),
      pathGlobFilter = arg("path-glob"),
      expandArchives = args.contains("--expand-archives"))
    // --num-threads mirrors the reference's rayon pool size (src/main.rs:79-81);
    // in Spark terms it sizes local parallelism + shuffle partitions.
    val numThreads = arg("num-threads").map(_.toInt)
    val builder = SparkSession.builder()
      .appName("audios-to-dataset-spark")
      .config("spark.sql.shuffle.partitions",
        numThreads.map(_.toString).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
    // Under spark-submit the master comes from the launcher; standalone runs
    // (sbt runMain, plain java -jar) default to all local cores.
    if (sys.props.get("spark.master").isEmpty && sys.env.get("MASTER").isEmpty)
      builder.master(numThreads.map(n => s"local[$n]")
        .getOrElse(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
    val spark = builder.getOrCreate()
    try run(spark, cfg) finally spark.stop()
  }
}
