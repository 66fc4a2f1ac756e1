package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
import org.apache.spark.TaskContext
import scala.util.control.NonFatal

/** X2/X4 — the shard-commit loop of the three sinks: shard `i` becomes one
  * `outDir/{i}.{ext}`, replacing any old file of that name (reference:
  * src/main.rs:718-735). A shard is written to the hidden `.{i}.{ext}.{task
  * attempt}`, created with overwrite so a file left by a killed JVM cannot
  * block a rerun. After a clean `close()` the old shard is deleted and the
  * new one renamed into place: Hadoop's `rename` does not replace a file (on
  * `file:` it returns `false`), and a `false` rename fails the task. On any
  * failure the writer is aborted (no footer, end marker or commit) and the
  * temporary file deleted: a failed shard leaves nothing under its final
  * name, and a failed rerun keeps the old shard. A JVM killed mid-write runs
  * no clean-up, and a rerun has new attempt ids, so the next run's
  * [[sweep]] removes what it left.
  */
object ShardCommit {

  /** One shard's format writer over the stream the loop created: `close`
    * finishes the shard, `abort` releases what it holds without doing so. */
  trait Writer[-R] {
    def write(row: R): Unit
    def close(): Unit
    def abort(): Unit = ()
  }

  /** The shard file extension of each `--format`; throws on an unknown one. */
  def extension(format: String): String = format match {
    case "parquet" | "duckdb" => format
    case "webdataset" => "tar"
    case other => throw new IllegalArgumentException(s"unknown format: $other")
  }

  /** The hidden temporary of shard `shard` written by task attempt `attempt`. */
  private def temporary(shard: Int, ext: String, attempt: Long): String = s".$shard.$ext.$attempt"

  /** Deletes the hidden temporaries of `format` in `outDir`, names that only
    * [[temporary]] makes: run on the driver before the write job, so no live
    * task of this run owns one. Assumes one run per `outDir` at a time. */
  def sweep(outDir: String, format: String, conf: Configuration): Unit = {
    val ext = extension(format)
    val stale = raw"^\.\d+\.$ext\.\d+$$".r
    val dir = new HPath(outDir)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir))
      fs.listStatus(dir).map(_.getPath).filter(p => stale.matches(p.getName)).foreach(fs.delete(_, false))
  }

  /** Writes and commits the shards of one partition. `rows` come already
    * arranged: each shard's rows contiguous and in write order. */
  def commit[R](rows: Iterator[R], outDir: String, format: String, conf: Configuration)(
      shardOf: R => Int)(open: FSDataOutputStream => Writer[R]): Unit = {
    val ext = extension(format)
    val fs = new HPath(outDir).getFileSystem(conf)
    fs.setWriteChecksum(false) // no .crc siblings next to exact-named shards
    val attempt = TaskContext.get().taskAttemptId()
    val buffered = rows.buffered
    while (buffered.hasNext) {
      val shard = shardOf(buffered.head)
      val tmp = new HPath(outDir, temporary(shard, ext, attempt))
      val out = fs.create(tmp, true)
      var writer: Writer[R] = null
      try {
        writer = open(out)
        while (buffered.hasNext && shardOf(buffered.head) == shard) writer.write(buffered.next())
        writer.close()
        out.close()
        val dst = new HPath(outDir, s"$shard.$ext")
        fs.delete(dst, false) // X4: the old shard goes once its successor is whole
        if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"could not rename $tmp to $dst")
      } catch { case t: Throwable =>
        def quietly(f: => Unit): Unit = try f catch { case NonFatal(e) => t.addSuppressed(e) }
        if (writer != null) quietly(writer.abort())
        quietly(out.close())
        quietly(fs.delete(tmp, false))
        throw t
      }
    }
  }
}
