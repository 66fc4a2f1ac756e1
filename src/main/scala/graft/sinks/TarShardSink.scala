package graft.sinks

import graft.functions.Tar
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}

/** K3 (engine extension) — WebDataset tar shard writer: one shard = one
  * task = one `outDir/{shard_id}.tar`, each record two co-sampled members
  * `{ordinal}.wav` (the raw audio bytes) + `{ordinal}.json` (path,
  * duration, sampling_rate, and every metadata column), ordinals
  * zero-padded per WebDataset convention. The archives are plain ustar
  * ([[graft.functions.Tar]], stock-`tar`-conformant, spec-pinned), so the
  * output loads directly into WebDataset-style training loaders — the
  * export format modern multimodal training stacks consume.
  *
  * Scale shape mirrors [[ParquetShardSink]]: no driver loop, shards stream
  * through executor tasks (entries are written streaming — a shard never
  * buffers its archive), X4 overwrite semantics, fail-loud row errors.
  */
object TarShardSink {

  /** Write `df` (columns `audio(bytes, sampling_rate, path), duration,
    * <meta...>, shard_id`) as `outDir/{shard_id}.tar`. `df` comes already
    * arranged: each shard whole in one partition, its rows contiguous and in
    * ordinal order. */
  def writeShards(df: DataFrame, outDir: String, metaKeys: Seq[String]): Unit = {
    val keys = metaKeys.toIndexedSeq
    df.foreachPartition { rows: Iterator[Row] =>
      val conf = new Configuration()
      var out: java.io.OutputStream = null
      var currentShard = Int.MinValue
      var ordinal = 0
      def close(): Unit = if (out != null) { Tar.finishTo(out); out.close(); out = null }
      def open(shard: Int): Unit = {
        val path = new HPath(s"$outDir/$shard.tar")
        val fs = path.getFileSystem(conf)
        fs.setWriteChecksum(false)
        if (fs.exists(path)) fs.delete(path, false) // X4 overwrite
        out = fs.create(path, true)
        ordinal = 0
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      try {
        rows.foreach { row =>
          val shard = row.getAs[Int]("shard_id")
          if (shard != currentShard) { close(); open(shard); currentShard = shard }
          val audio = row.getAs[Row]("audio")
          val node = mapper.createObjectNode()
          node.put("path", audio.getAs[String]("path"))
          node.put("duration", row.getAs[Double]("duration"))
          node.put("sampling_rate", audio.getAs[Int]("sampling_rate"))
          keys.foreach { k =>
            row.getAs[Any](k) match {
              case null => node.putNull(k)
              case s: String => node.put(k, s)
              case b: Boolean => node.put(k, b)
              case d: Double => node.put(k, d)
              case l: Long => node.put(k, l)
              case i: Int => node.put(k, i)
              case seq: scala.collection.Seq[_] =>
                val arr = node.putArray(k)
                seq.foreach {
                  case s: String => arr.add(s)
                  case b: Boolean => arr.add(b)
                  case d: Double => arr.add(d)
                  case l: Long => arr.add(l)
                  case i: Int => arr.add(i)
                  case other => arr.add(String.valueOf(other))
                }
              case other => node.put(k, other.toString)
            }
          }
          val key = f"$ordinal%06d"
          Tar.writeEntryTo(out, Tar.Entry(s"$key.wav", audio.getAs[Array[Byte]]("bytes")))
          Tar.writeEntryTo(out,
            Tar.Entry(s"$key.json", mapper.writeValueAsBytes(node)))
          ordinal += 1
        }
      } finally close()
    }
  }
}
