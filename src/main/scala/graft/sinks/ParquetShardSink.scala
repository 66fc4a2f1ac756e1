package graft.sinks

import graft.core.MetadataType
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.api.WriteSupport.WriteContext
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** K1 — exact-name Parquet shard writer with the Hugging Face footer
  * (reference: write_files_to_parquet, src/main.rs:438-613).
  *
  * One shard = one task = one `outDir/{shard_id}.parquet`, written directly by
  * the executor with parquet-java's ParquetWriter wrapping Spark's own
  * ParquetWriteSupport (so value encoding is identical to df.write.parquet),
  * plus:
  *   - footer KV `huggingface -> {"info":{"features":{...}}}` (src/main.rs:582-601),
  *   - row groups of 256 rows (src/main.rs:607) — small on purpose: rows carry
  *     multi-MB audio blobs, so 256 rows keeps a row group ~100 MB,
  *   - the reference's compression fallbacks Lzo→Snappy, Lz4→Lz4Raw
  *     (src/main.rs:571-580),
  *   - overwrite of a pre-existing shard file (X4, src/main.rs:732-735).
  *
  * Scale: no driver-side loop, no collect — shards stream through executor
  * tasks; at 1000 executors the write is embarrassingly parallel, matching
  * the reference's rayon fan-out (X2) with cluster-wide tasks.
  *
  * Deliberate divergence: the reference silently swallows per-row write
  * errors (`let _ = writer.write(...)`, src/main.rs:849-855), which can drop
  * rows without a trace. Here a row failure fails the Spark task (and the
  * job after retries) — at 100 TB silent data loss is worse than a retry.
  */
object ParquetShardSink {
  val RowGroupRows = 256 // reference: src/main.rs:607

  /** reference compression map, src/main.rs:571-580. */
  def codec(name: String): CompressionCodecName = name.toLowerCase match {
    case "uncompressed" => CompressionCodecName.UNCOMPRESSED
    case "snappy"       => CompressionCodecName.SNAPPY
    case "gzip"         => CompressionCodecName.GZIP
    case "lzo"          => CompressionCodecName.SNAPPY   // fallback
    case "brotli"       => CompressionCodecName.BROTLI
    case "lz4"          => CompressionCodecName.LZ4_RAW  // fallback
    case "zstd"         => CompressionCodecName.ZSTD
    case "lz4raw" | "lz4_raw" => CompressionCodecName.LZ4_RAW
    case other => throw new IllegalArgumentException(s"unknown compression: $other")
  }

  /** HF `features` footer JSON (reference: src/main.rs:582-598): `audio`,
    * `duration`, then every metadata key in sorted order. */
  def hfFeaturesJson(metaTypes: Seq[(String, MetadataType)]): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def key(k: String) = mapper.writeValueAsString(k)
    val metaPart = metaTypes.map { case (k, t) => s"${key(k)}:${t.featureJson}" }
    val features = (Seq(
      "\"audio\":{\"_type\":\"Audio\"}",
      "\"duration\":{\"dtype\":\"float64\",\"_type\":\"Value\"}") ++ metaPart).mkString(",")
    s"""{"info":{"features":{$features}}}"""
  }

  /** Spark's write support + extra footer KV pairs. */
  private class FooterKvWriteSupport(extra: Map[String, String])
      extends ParquetWriteSupport {
    override def init(configuration: Configuration): WriteContext = {
      val ctx = super.init(configuration)
      val merged = new java.util.HashMap[String, String](ctx.getExtraMetaData)
      extra.foreach { case (k, v) => merged.put(k, v) }
      new WriteContext(ctx.getSchema, merged)
    }
  }

  private class Builder(file: HadoopOutputFile, support: WriteSupport[InternalRow])
      extends ParquetWriter.Builder[InternalRow, Builder](file) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] = support
  }

  /** Write `df` (which must carry an int `shard_id` column) as
    * `outDir/{shard_id}.parquet`. `df` comes already arranged: each shard
    * whole in one partition, its rows contiguous and in write order
    * (`AudioToDataset.plan` plans it so; [[graft.operators.Sharding.arrange]]
    * lays out any other frame). `footerKv` is appended to each file footer.
    */
  def writeShards(
      df: DataFrame,
      outDir: String,
      compression: String = "snappy",
      footerKv: Map[String, String] = Map.empty): Unit = {
    val spark = df.sparkSession
    val dataSchema = StructType(df.schema.filterNot(_.name == "shard_id"))
    val arranged = df.select(dataSchema.map(f => col(f.name)) :+ col("shard_id"): _*)
    val shardOrdinal = dataSchema.length // shard_id is the trailing field
    val schemaJson = dataSchema.json
    val codecName = codec(compression)
    val sessionTz = spark.sessionState.conf.sessionLocalTimeZone

    // Executor-side Configuration is rebuilt from these entries (Configuration
    // itself is not serializable); they are exactly what
    // ParquetWriteSupport.init requires.
    val confEntries = Map(
      "spark.sql.parquet.writeLegacyFormat" -> "false",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "CORRECTED",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "CORRECTED",
      "spark.sql.session.timeZone" -> sessionTz,
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.parquet.variant.annotateLogicalType.enabled" -> "false")

    arranged.queryExecution.toRdd.foreachPartition { rows: Iterator[InternalRow] =>
      val schema = org.apache.spark.sql.types.DataType.fromJson(schemaJson).asInstanceOf[StructType]
      val conf = new Configuration()
      confEntries.foreach { case (k, v) => conf.set(k, v) }
      ParquetWriteSupport.setSchema(schema, conf)
      var writer: ParquetWriter[InternalRow] = null
      var currentShard = Int.MinValue
      def close(): Unit = if (writer != null) { writer.close(); writer = null }
      def open(shard: Int): Unit = {
        val path = new HPath(s"$outDir/$shard.parquet")
        val fs = path.getFileSystem(conf)
        fs.setWriteChecksum(false) // no .crc siblings next to exact-named shards
        if (fs.exists(path)) fs.delete(path, false) // X4 overwrite
        writer = new Builder(
            HadoopOutputFile.fromPath(path, conf),
            new FooterKvWriteSupport(footerKv))
          .withConf(conf)
          .withCompressionCodec(codecName)
          .withRowGroupRowCountLimit(RowGroupRows)
          .build()
      }
      // Project away the trailing shard_id so the written row matches the
      // file schema exactly.
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
        schema.zipWithIndex.map { case (f, i) =>
          org.apache.spark.sql.catalyst.expressions.BoundReference(i, f.dataType, f.nullable)
        }.toArray[org.apache.spark.sql.catalyst.expressions.Expression])
      try {
        while (rows.hasNext) {
          val row = rows.next()
          val shard = row.getInt(shardOrdinal)
          if (shard != currentShard) { close(); open(shard); currentShard = shard }
          writer.write(proj(row))
        }
      } finally close()
    }
  }
}
