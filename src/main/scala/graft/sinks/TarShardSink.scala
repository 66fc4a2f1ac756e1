package graft.sinks

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.MetadataType
import graft.functions.Tar
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.util.SerializableConfiguration

/** K3 (engine extension) — WebDataset tar shard writer: one shard = one
  * task = one `outDir/{shard_id}.tar`, each record two co-sampled members
  * `{ordinal}.wav` (the raw audio bytes) + `{ordinal}.json` (path,
  * duration, sampling_rate, and every metadata column), ordinals
  * zero-padded per WebDataset convention. The archives are plain ustar
  * ([[graft.functions.Tar]], stock-`tar`-conformant, spec-pinned), so the
  * output loads directly into WebDataset-style training loaders — the
  * export format modern multimodal training stacks consume.
  *
  * It writes the pipeline's rows as its content pass built them (an
  * `RDD[InternalRow]`, read by ordinal); list values become JSON arrays,
  * null elements as `null`.
  *
  * Scale shape mirrors [[ParquetShardSink]]: no driver loop, shards stream
  * through executor tasks (entries are written streaming — a shard never
  * buffers its archive), fail-loud row errors. X4 is [[ShardCommit]]'s: an
  * old shard is replaced only by a whole new one, whose end-of-archive
  * marker is written only when the shard is complete.
  */
object TarShardSink {

  /** Write `rows` as `outDir/{shard_id}.tar`. Each row is laid out as
    * `AudioScan.schema`: `audio(bytes, sampling_rate, path), duration`, one
    * column per `metaTypes` entry, `shard_id`; fields are read by ordinal.
    * `rows` come already arranged: each shard whole in one partition, its
    * rows contiguous and in ordinal order. */
  def writeShards(
      rows: RDD[InternalRow],
      outDir: String,
      conf: Option[Broadcast[SerializableConfiguration]],
      metaTypes: Seq[(String, MetadataType)]): Unit = {
    val meta = metaTypes.toIndexedSeq
    rows.foreachPartition { part =>
      val mapper = new ObjectMapper()
      ShardCommit.commit(part, outDir, "webdataset", conf)(r => r.getInt(r.numFields - 1)) { out =>
        new ShardCommit.Writer[InternalRow] {
          private var ordinal = 0
          def write(row: InternalRow): Unit = {
            val key = f"$ordinal%06d"
            Tar.writeEntryTo(out, Tar.Entry(s"$key.wav", row.getStruct(0, 3).getBinary(0)))
            Tar.writeEntryTo(out, Tar.Entry(s"$key.json", record(mapper, meta, row)))
            ordinal += 1
          }
          def close(): Unit = Tar.finishTo(out)
        }
      }
    }
  }

  /** A record's `.json` member: path, duration, sampling_rate and every
    * metadata column. */
  private def record(mapper: ObjectMapper, meta: IndexedSeq[(String, MetadataType)], row: InternalRow): Array[Byte] = {
    val audio = row.getStruct(0, 3)
    val node = mapper.createObjectNode()
    node.put("path", audio.getUTF8String(2).toString)
    node.put("duration", row.getDouble(1))
    node.put("sampling_rate", audio.getInt(1))
    for (((k, t), i) <- meta.zipWithIndex)
      node.set[com.fasterxml.jackson.databind.JsonNode](k, MetadataType.toJson(row.get(2 + i, t.toSpark), t))
    mapper.writeValueAsBytes(node)
  }
}
