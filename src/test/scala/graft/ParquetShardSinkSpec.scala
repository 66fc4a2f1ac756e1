package graft

import graft.functions.Wav
import org.apache.parquet.column.Encoding
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.io.LocalInputFile
import scala.jdk.CollectionConverters._

/** The Parquet writer's encodings: the `audio.bytes` column is never
  * dictionary-encoded, and the page-level `parquet.*` settings of the
  * context's Hadoop conf reach the shards. */
class ParquetShardSinkSpec extends SparkSpec {

  /** A tree of `n` clips, identical or each of its own length, whose
    * transcriptions take ten values in turn, written as one Parquet shard
    * with the Hadoop conf's `settings`; its row groups' column chunks by
    * column path, with the page count of each. */
  private def shard(n: Int, identical: Boolean, settings: (String, String)*): Map[String, Seq[(ColumnChunkMetaData, Int)]] = {
    val in = tmpDir("graft-enc-in")
    (0 until n).foreach(i => writeFile(in, f"$i%03d.wav", Wav.synthPcmWav(16000, if (identical) 160 else 160 + i)))
    val meta = writeText(in, "meta.jsonl",
      (0 until n).map(i => f"""{"file_name":"$i%03d.wav","transcription":"label-${i % 10}"}""").mkString("", "\n", "\n"))
    val out = tmpDir("graft-enc-out")
    val hc = spark.sparkContext.hadoopConfiguration
    settings.foreach { case (k, v) => hc.set(k, v) }
    try AudioToDataset.run(spark, AudioToDataset.Config(in.getAbsolutePath, out.getAbsolutePath,
      Some(meta.getAbsolutePath)))
    finally settings.foreach { case (k, _) => hc.unset(k) }
    val reader = ParquetFileReader.open(new LocalInputFile(new java.io.File(out, "0.parquet").toPath))
    try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      .map(c => c.getPath.toDotString -> (c, reader.readOffsetIndex(c).getPageCount))
      .groupMap(_._1)(_._2)
    finally reader.close()
  }

  private def dictionary(chunks: Seq[(ColumnChunkMetaData, Int)]): Boolean =
    chunks.exists { case (c, _) => c.hasDictionaryPage || c.getEncodings.asScala.exists(_.usesDictionary) }

  test("identical clips get no dictionary; transcription keeps its own") {
    val columns = shard(20, identical = true)
    assert(!dictionary(columns("audio.bytes")))
    assert(columns("audio.bytes").forall(_._1.getEncodings.asScala.contains(Encoding.PLAIN)))
    assert(dictionary(columns("transcription")))
  }

  // parquet-java first checks a page's size after 100 rows
  test("parquet.page.size, parquet.dictionary.page.size and parquet.writer.version reach the writer") {
    def audioPages(settings: (String, String)*): Int = shard(150, identical = false, settings: _*)("audio.bytes").map(_._2).sum
    assert(audioPages() == 1)
    assert(audioPages("parquet.page.size" -> "4096") > 1)
    // a v2 writer encodes a dictionary as RLE_DICTIONARY, a v1 one does not
    def transcription(settings: (String, String)*): Set[Encoding] =
      shard(20, identical = false, settings: _*)("transcription").flatMap(_._1.getEncodings.asScala).toSet
    assert(!transcription().contains(Encoding.RLE_DICTIONARY))
    assert(transcription("parquet.writer.version" -> "v2").contains(Encoding.RLE_DICTIONARY))
    // a dictionary over its page budget falls back to PLAIN: ten labels take 110 bytes
    assert(dictionary(shard(20, identical = false)("transcription")))
    assert(!dictionary(shard(20, identical = false, "parquet.dictionary.page.size" -> "64")("transcription")))
  }
}
