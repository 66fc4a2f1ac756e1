package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.GraftSession
import graft.functions.Tar
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
  * buffers its archive), fail-loud row errors. X4 is [[ShardCommit]]'s: an
  * old shard is replaced only by a whole new one, whose end-of-archive
  * marker is written only when the shard is complete.
  */
object TarShardSink {

  /** Write `df` (columns `audio(bytes, sampling_rate, path), duration,
    * <meta...>, shard_id`) as `outDir/{shard_id}.tar`. `df` comes already
    * arranged: each shard whole in one partition, its rows contiguous and in
    * ordinal order. */
  def writeShards(df: DataFrame, outDir: String, metaKeys: Seq[String]): Unit = {
    val keys = metaKeys.toIndexedSeq
    val sessionConf = GraftSession.hadoopConf(df.sparkSession)
    df.foreachPartition { rows: Iterator[Row] =>
      val mapper = new ObjectMapper()
      ShardCommit.commit(rows, outDir, "webdataset", sessionConf.value.value)(
          _.getAs[Int]("shard_id")) { out =>
        new ShardCommit.Writer[Row] {
          private var ordinal = 0
          def write(row: Row): Unit = {
            val key = f"$ordinal%06d"
            Tar.writeEntryTo(out, Tar.Entry(s"$key.wav", row.getAs[Row]("audio").getAs[Array[Byte]]("bytes")))
            Tar.writeEntryTo(out, Tar.Entry(s"$key.json", record(mapper, keys, row)))
            ordinal += 1
          }
          def close(): Unit = Tar.finishTo(out)
        }
      }
    }
  }

  /** A record's `.json` member: path, duration, sampling_rate and every
    * metadata column. */
  private def record(mapper: ObjectMapper, keys: Seq[String], row: Row): Array[Byte] = {
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
    mapper.writeValueAsBytes(node)
  }
}
