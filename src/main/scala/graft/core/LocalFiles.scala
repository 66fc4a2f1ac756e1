package graft.core

import java.io.{IOException, InputStream}
import java.nio.file.{FileVisitResult, Files, Paths, SimpleFileVisitor, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** The local disk through the JDK, as the reference's plain `std::fs` calls
  * (src/main.rs:718-741): a path whose scheme is `file:`, or that has none,
  * is read, written and renamed with `java.nio`, never through Hadoop's
  * `file:` FileSystem, which checksums every file and, without libhadoop,
  * sets each new file's permission by forking `chmod`. A path of any other
  * scheme goes through that scheme's Hadoop FileSystem. */
object LocalFiles {

  /** `path` as a JDK path when it names the local disk; None for another scheme. */
  def of(path: String): Option[JPath] = {
    val uri = new HPath(path).toUri
    if (uri.getScheme == null || uri.getScheme == "file") Some(Paths.get(uri.getPath)) else None
  }

  /** When set, [[open]] counts its calls in it by path: the read-once specs
    * see every read of a run this way, audio and sidecar, whatever the scheme. */
  @volatile private[graft] var opens: java.util.concurrent.ConcurrentHashMap[String, Integer] = null

  /** Opens `path`: through `java.nio` on the local disk, through its scheme's
    * Hadoop FileSystem, made from `conf`, on any other. */
  def open(path: String, conf: => Configuration): InputStream = {
    val counts = opens
    if (counts != null) counts.merge(new HPath(path).toUri.getPath, 1, (a: Integer, b: Integer) => a + b)
    of(path) match {
      case Some(p) => Files.newInputStream(p)
      case None =>
        val p = new HPath(path)
        p.getFileSystem(conf).open(p)
    }
  }

  /** Deletes `p` and everything below it, as far as it can: what cannot be
    * deleted is left. A link is deleted itself and never followed, so no
    * file outside `p` is touched; a missing `p` is no error. */
  def deleteTree(p: JPath): Unit =
    Files.walkFileTree(p, new SimpleFileVisitor[JPath] {
      private def delete(f: JPath): FileVisitResult = {
        try Files.deleteIfExists(f) catch { case _: IOException => }
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: JPath, attrs: BasicFileAttributes): FileVisitResult = delete(f)
      override def visitFileFailed(f: JPath, e: IOException): FileVisitResult = delete(f) // a missing p too
      override def postVisitDirectory(d: JPath, e: IOException): FileVisitResult = delete(d)
    })
}
