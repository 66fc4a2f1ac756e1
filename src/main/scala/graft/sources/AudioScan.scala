package graft.sources

import graft.core.{GraftSession, LocalFiles, PathNorm}
import graft.functions.{Magic, Wav}
import java.io.EOFException
import java.nio.file.{FileVisitResult, Files, SimpleFileVisitor, Path => JPath}
import java.nio.file.attribute.BasicFileAttributes
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** S1 — recursive directory scan of audio files
  * (reference: src/main.rs:662-712, `recv-dir` + NoSymlink.and(MaxDepth)),
  * in two passes.
  *
  * [[scan]] is the planning pass. As in the reference it is one walk on the
  * driver that yields the kept file list; it opens no file. Only F5 reads
  * anything: a [[SniffBytes]]-byte head per file. On a `file:` tree F5 runs
  * on the driver, right after the walk, as the reference sniffs
  * (src/main.rs:695-707). A tree of another scheme has its heads read in
  * one Spark job over the files the listing kept.
  *
  * [[read]] is the content pass: the kept files, already cut into shards on
  * the driver, are read once each, by the task that writes their shard,
  * which builds each file's output row there (a plain RDD: no Catalyst plan).
  * Every read goes through [[LocalFiles.open]]: `java.nio` for `file:` paths, as the
  * reference's plain `std::fs::read` (P4, src/main.rs:739-741), and the
  * scheme's Hadoop FileSystem for any other.
  *
  * Filters mirrored:
  *   F1 directories — only regular files are kept;
  *   F2 symlinks   — a `file:` walk does not follow links (reference walks
  *                   with NoSymlink, src/main.rs:664): a symlinked file is not
  *                   a regular file and a symlinked directory is never
  *                   entered; a root that is itself a link is resolved.
  *                   Object stores have no symlinks; other schemes are
  *                   listed through Hadoop and the filter is skipped;
  *   F3 depth      — relative-path component count <= maxDepth: the walk
  *                   goes no deeper (src/main.rs:664-666);
  *   F4 sidecar exclusion — drop the metadata file itself, by absolute path
  *                   or by its path relative to the input (src/main.rs:650-659);
  *   F5 MIME allow-list (opt-in) — magic-byte sniff of the file's head
  *                   (src/main.rs:695-707).
  * Every other entry is listed, whatever its name: `_x`, `.x` and
  * `x._COPYING_` files, and 0-byte files, which get `(0.0, 0)` rows.
  */
object AudioScan {
  val DefaultMaxDepth = 50 // reference: src/main.rs:71-73
  /** Bytes F5 reads from the head of a file: [[Magic.sniff]] looks at no more. */
  val SniffBytes = 12
  private val MaxBinaryLength = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH

  /** One kept file as the planning pass hands it to the content pass:
    * `path` is its qualified Hadoop path. */
  final case class File(path: String, length: Long, relativePath: String)

  /** The kept files of the tree at `input`, in no particular order.
    *
    * @param conf the broadcast Hadoop conf the sniff job reads a tree of
    *   another scheme than `file:` with; when none is given, one is
    *   broadcast for such a tree. A `file:` tree has no sniff job: F5 reads
    *   its heads on the driver, in walk order. */
  def scan(
      sc: SparkContext,
      input: String,
      maxDepth: Int = DefaultMaxDepth,
      metadataFile: Option[String] = None,
      checkMimeType: Boolean = false,
      conf: Option[Broadcast[SerializableConfiguration]] = None): IndexedSeq[File] = {
    val root = qualified(sc, input)
    // F4: the sidecar by its qualified path, or by its path relative to the input
    val sidecar = metadataFile.map(qualified(sc, _).toString)
    val sidecarRel = sidecar.filter(_.startsWith(root.toString.stripSuffix("/") + "/"))
      .map(relativeTo(root.toString, _))
    val local = LocalFiles.of(input).isDefined
    val listed = (if (local) walk(root, maxDepth) else list(sc, root, maxDepth))
      .filter(f => !sidecar.contains(f.path) && !sidecarRel.contains(f.relativePath))
    if (listed.isEmpty || !checkMimeType) listed
    else if (local)
      // a local head read costs less than a task launch: F5 on the driver
      listed.filter(f => Magic.isAllowedAudio(readHead(sc.hadoopConfiguration, f.path)))
    else {
      // a remote head read is a store request: one job over the kept list
      val hadoopConf = conf.orElse(GraftSession.hadoopConf(sc, input))
      GraftSession.labelled(sc, s"graft: sniff ${listed.length} files") {
        sc.parallelize(listed, math.min(listed.length, sc.defaultParallelism))
          .filter(f => Magic.isAllowedAudio(readHead(GraftSession.shipped(hadoopConf, f.path), f.path)))
          .collect().toIndexedSeq
      }
    }
  }

  /** `p` as a qualified Hadoop path; a path with no scheme is a local file. */
  private def qualified(sc: SparkContext, p: String): HPath =
    LocalFiles.of(p).fold {
      val hp = new HPath(p)
      hp.getFileSystem(sc.hadoopConfiguration).makeQualified(hp)
    }(l => new HPath("file", null, l.toAbsolutePath.toString))

  /** The relative path of `p` below `root`; the bare file name when `p` is
    * the root itself (reference: src/main.rs:743-758). */
  private def relativeTo(root: String, p: String): String =
    PathNorm.normalize(
      if (p == root) p.substring(p.lastIndexOf('/') + 1) else p.stripPrefix(root.stripSuffix("/") + "/"))

  /** The regular files below a `file:` root, at most `maxDepth` levels down.
    * A root that is itself a link is resolved: links above the tree are fine. */
  private def walk(root: HPath, maxDepth: Int): IndexedSeq[File] = {
    val out = IndexedSeq.newBuilder[File]
    val start = java.nio.file.Paths.get(root.toUri.getPath)
    val dir = if (Files.isSymbolicLink(start)) start.toRealPath() else start
    Files.walkFileTree(dir, java.util.Set.of(), math.max(0, maxDepth),
      new SimpleFileVisitor[JPath] {
        override def visitFile(p: JPath, attrs: BasicFileAttributes): FileVisitResult = {
          if (attrs.isRegularFile) // not a directory (F1), not a link (F2)
            out += File(new HPath("file", null, p.toString).toString, attrs.size, relativeTo(dir.toString, p.toString))
          FileVisitResult.CONTINUE
        }
      })
    out.result()
  }

  /** The files below a root of any other scheme, through its Hadoop
    * FileSystem, at most `maxDepth` levels down. */
  private def list(sc: SparkContext, root: HPath, maxDepth: Int): IndexedSeq[File] = {
    val files = root.getFileSystem(sc.hadoopConfiguration).listFiles(root, true)
    val out = IndexedSeq.newBuilder[File]
    while (files.hasNext) {
      val s = files.next()
      val rel = relativeTo(root.toString, s.getPath.toString)
      if (rel.count(_ == '/') < maxDepth) out += File(s.getPath.toString, s.getLen, rel)
    }
    out.result()
  }

  /** The content pass's row layout: `audio` (P6 — the Parquet field order
    * bytes, sampling_rate, path, src/main.rs:465-470), `duration`, the
    * metadata columns in `meta.keys` order and `shard_id`. The nullability is
    * what the sinks write: `audio` and `transcription` (defaulted, P8) are
    * never null, and neither is `shard_id`. */
  def schema(meta: Metadata.MetaSchema): StructType = StructType(
    StructField("audio", StructType(Seq(StructField("bytes", BinaryType),
      StructField("sampling_rate", IntegerType), StructField("path", StringType))), nullable = false) +:
    StructField("duration", DoubleType) +:
    meta.resolvedFields :+
    StructField("shard_id", IntegerType, nullable = false))

  /** The content pass: one partition per shard, `shards(i)` read in order by
    * the task that writes shard `i`, each file's bytes read once through
    * [[LocalFiles.open]]. The task builds each file's row as [[schema]] lays it
    * out: its WAV header parse (P5), its winning `sidecar` row or the no-match
    * default (J1, P8, looked up in a broadcast of the table; with no sidecar,
    * the default of [[Metadata.NoSidecar]], and no broadcast) and its shard.
    * `conf` is read only for a tree of another scheme than `file:`. A file
    * over Spark's largest binary value fails the run, naming it. */
  def read(
      sc: SparkContext,
      shards: IndexedSeq[IndexedSeq[File]],
      sidecar: Metadata.Sidecar,
      conf: Option[Broadcast[SerializableConfiguration]]): RDD[InternalRow] = {
    val table = if (sidecar eq Metadata.NoSidecar) None else Some(sc.broadcast(sidecar))
    val metaTypes = sidecar.schema.sparkFields.map(_.dataType).toArray
    sc.parallelize(shards.zipWithIndex, math.max(1, shards.length))
      .mapPartitions(_.flatMap { case (files, shard) =>
        val lookup = table.fold(Metadata.NoSidecar)(_.value)
        files.iterator.map { f =>
          val bytes = contents(GraftSession.shipped(conf, f.path), f)
          val wav = Wav.parse(bytes)
          val path = UTF8String.fromString(f.relativePath)
          val meta = lookup.resolve(path)
          val values = new Array[Any](metaTypes.length + 3)
          values(0) = InternalRow(bytes, wav.sampling_rate, path)
          values(1) = wav.duration
          for (i <- metaTypes.indices) values(2 + i) = meta.get(i, metaTypes(i))
          values(values.length - 1) = shard
          new GenericInternalRow(values)
        }
      })
  }

  /** A kept file's length, checked on the driver before any job: a file
    * over Spark's largest binary value fails the run, naming it. */
  def requireFits(f: File): Unit =
    if (f.length > MaxBinaryLength)
      throw new IllegalStateException(
        s"${f.path}: ${f.length} bytes is more than one binary value holds ($MaxBinaryLength)")

  /** Bytes one read asks a stream for. A `java.nio` channel stages a read
    * into a heap array in a direct buffer of the read's size, which its
    * thread keeps: one whole-file read would pin a buffer the size of the
    * largest file on every task thread. */
  private val ReadChunk = 1 << 20

  /** The first [[SniffBytes]] bytes of a file, all F5 looks at. */
  private def readHead(conf: => Configuration, path: String): Array[Byte] = {
    val in = LocalFiles.open(path, conf)
    try in.readNBytes(SniffBytes) finally in.close()
  }

  /** The whole of one kept file, read inside its content-pass task. */
  private def contents(conf: => Configuration, f: File): Array[Byte] = {
    requireFits(f)
    val buf = new Array[Byte](f.length.toInt)
    val in = LocalFiles.open(f.path, conf)
    try {
      var n = 0
      while (n < buf.length) {
        val r = in.read(buf, n, math.min(buf.length - n, ReadChunk))
        if (r < 0) throw new EOFException(s"${f.path}: ended after $n of ${buf.length} bytes")
        n += r
      }
    } finally in.close()
    buf
  }
}
