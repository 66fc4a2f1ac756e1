package graft.sinks

import graft.core.{GraftSession, LocalFiles}
import java.nio.file.{Files, StandardCopyOption, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataOutputStream, Path => HPath}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.util.SerializableConfiguration
import scala.util.control.NonFatal

/** X2/X4 — the shard-commit loop of the three sinks: shard `i` becomes one
  * `outDir/{i}.{ext}`, replacing any old file of that name (reference:
  * src/main.rs:718-735). A shard is written to the hidden `.{i}.{ext}.{task
  * attempt}`, created with overwrite so a file left by a killed JVM cannot
  * block a rerun, and put in place after a clean `close()`:
  *   - on the local disk ([[LocalFiles]]) it is written with JDK file I/O and
  *     put in place by one `rename(2)`, which replaces the old shard in the
  *     same step: unlike the reference's remove-then-create, no moment
  *     passes with no shard. Its mode follows the process umask, as the
  *     reference's `File::create`;
  *   - on any other scheme the old shard is deleted and the new one renamed
  *     through the scheme's Hadoop FileSystem: Hadoop's `rename` does not
  *     replace a file, and a `false` rename fails the task.
  * On any failure the writer is aborted (no footer, end marker or commit) and
  * the temporary file deleted: a failed shard leaves nothing under its final
  * name, and a failed rerun keeps the old shard. A JVM killed mid-write runs
  * no clean-up, and a rerun has new attempt ids, so the next run's [[sweep]]
  * removes what it left.
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
    * task of this run owns one. Assumes one run per `outDir` at a time.
    * `conf` is made only for an `outDir` of another scheme than `file:`. */
  def sweep(outDir: String, format: String, conf: => Configuration): Unit = {
    val stale = raw"^\.\d+\.${extension(format)}\.\d+$$".r
    LocalFiles.of(outDir) match {
      case Some(dir) =>
        if (Files.isDirectory(dir)) {
          val names = Files.newDirectoryStream(dir)
          try names.forEach(p => if (stale.matches(p.getFileName.toString)) Files.deleteIfExists(p))
          finally names.close()
        }
      case None =>
        val dir = new HPath(outDir)
        val fs = dir.getFileSystem(conf)
        if (fs.exists(dir))
          fs.listStatus(dir).map(_.getPath).filter(p => stale.matches(p.getName)).foreach(fs.delete(_, false))
    }
  }

  /** Where one task's shards are written: `create` a hidden temporary,
    * `publish` it under a shard's name, or `delete` it. */
  private trait Store {
    def create(name: String): FSDataOutputStream
    def publish(tmp: String, name: String): Unit
    def delete(name: String): Unit
  }

  /** The local disk through the JDK. A `FileOutputStream` write goes to
    * `write(2)` through a transient native copy, so no write pins a
    * per-thread direct buffer the size of a clip, as a channel's would. */
  private final class LocalStore(dir: JPath) extends Store {
    private lazy val made = Files.createDirectories(dir)
    def create(name: String): FSDataOutputStream = {
      made
      val file = new java.io.FileOutputStream(dir.resolve(name).toFile)
      new FSDataOutputStream(new java.io.BufferedOutputStream(file, 1 << 16), null)
    }
    def publish(tmp: String, name: String): Unit =
      Files.move(dir.resolve(tmp), dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    def delete(name: String): Unit = Files.deleteIfExists(dir.resolve(name))
  }

  /** Any other scheme through its Hadoop FileSystem. */
  private final class HadoopStore(outDir: String, conf: Configuration) extends Store {
    private val fs = new HPath(outDir).getFileSystem(conf)
    fs.setWriteChecksum(false) // no .crc siblings next to exact-named shards
    private def at(name: String) = new HPath(outDir, name)
    def create(name: String): FSDataOutputStream = fs.create(at(name), true)
    def publish(tmp: String, name: String): Unit = {
      fs.delete(at(name), false) // X4: the old shard goes once its successor is whole
      if (!fs.rename(at(tmp), at(name)))
        throw new java.io.IOException(s"could not rename ${at(tmp)} to ${at(name)}")
    }
    def delete(name: String): Unit = fs.delete(at(name), false)
  }

  /** Writes and commits the shards of one partition. `rows` come already
    * arranged: each shard's rows contiguous and in write order. `conf` is
    * read only for an `outDir` of another scheme than `file:`. */
  def commit[R](rows: Iterator[R], outDir: String, format: String,
      conf: Option[Broadcast[SerializableConfiguration]])(
      shardOf: R => Int)(open: FSDataOutputStream => Writer[R]): Unit = {
    val ext = extension(format)
    val buffered = rows.buffered
    if (buffered.hasNext) {
      val store = LocalFiles.of(outDir)
        .fold[Store](new HadoopStore(outDir, GraftSession.shipped(conf, outDir)))(new LocalStore(_))
      val attempt = TaskContext.get().taskAttemptId()
      while (buffered.hasNext) {
        val shard = shardOf(buffered.head)
        val tmp = temporary(shard, ext, attempt)
        val out = store.create(tmp)
        var writer: Writer[R] = null
        try {
          writer = open(out)
          while (buffered.hasNext && shardOf(buffered.head) == shard) writer.write(buffered.next())
          writer.close()
          out.close()
          store.publish(tmp, s"$shard.$ext")
        } catch { case t: Throwable =>
          def quietly(f: => Unit): Unit = try f catch { case NonFatal(e) => t.addSuppressed(e) }
          if (writer != null) quietly(writer.abort())
          quietly(out.close())
          quietly(store.delete(tmp))
          throw t
        }
      }
    }
  }
}
