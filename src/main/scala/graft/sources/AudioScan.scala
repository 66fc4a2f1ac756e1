package graft.sources

import graft.core.{GraftSession, PathNorm}
import graft.functions.Magic
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, Path => HPath}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** S1 — recursive directory scan of audio files
  * (reference: src/main.rs:662-712, `recv-dir` + NoSymlink.and(MaxDepth)),
  * in two passes.
  *
  * [[scan]] is the planning pass. Spark's `binaryFile` source lists the tree
  * distributed and yields `path` and `length` only: `content` is never
  * selected, so the source opens no file. The filters run on those names,
  * and only F5 reads anything — a [[SniffBytes]]-byte head per file that
  * survived F2–F4. Output: `path, length, relative_path, file_name, entry`
  * (`entry` is set on `--expand-archives` entry rows only).
  *
  * [[read]] is the content pass: the kept files, already cut into shards on
  * the driver, are read once each, by the task that writes their shard.
  *
  * Filters mirrored:
  *   F1 directories — implicit (binaryFile yields only files);
  *   F2 symlinks   — rows reached through a symlink below the input root are
  *                   dropped (reference walks with NoSymlink, src/main.rs:664):
  *                   per-row canonical-path check, executor-side, local-fs
  *                   only (object stores have no symlinks — the filter is
  *                   skipped for non-file schemes);
  *   F3 depth      — relative-path component count <= maxDepth (src/main.rs:664-666);
  *   F4 sidecar exclusion — drop the metadata file itself (src/main.rs:650-659);
  *   F5 MIME allow-list (opt-in) — magic-byte sniff of the file's head
  *                   (src/main.rs:695-707).
  */
object AudioScan {
  val DefaultMaxDepth = 50 // reference: src/main.rs:71-73
  /** Bytes F5 reads from the head of a file: [[Magic.sniff]] looks at no more. */
  val SniffBytes = 12
  private val MaxBinaryLength = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH

  @transient private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // Executor-side cache of canonicalized directories (files share parents;
  // one getCanonicalPath per directory instead of per file). Entries can go
  // stale if a directory is REPLACED by a symlink mid-JVM — the same race
  // an uncached getCanonicalPath has within one listing, since the scan
  // itself snapshots the tree — and the cache is size-bounded so long-lived
  // executors scanning many trees don't accrete entries forever.
  private val CanonCacheMax = 100000
  private val canonCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def canonicalParent(dir: java.io.File): String = {
    if (canonCache.size() > CanonCacheMax) canonCache.clear()
    canonCache.computeIfAbsent(dir.getPath, p => new java.io.File(p).getCanonicalPath)
  }

  /** @param excludeSymlinks F2 — per-row canonical-path check, LOCAL
    *   FILESYSTEM ONLY (skipped automatically for non-`file:` schemes:
    *   object stores have no symlinks). Cluster users scanning shared
    *   storage who want name-based pruning instead should pass
    *   `pathGlobFilter` — it is applied at LISTING time by the data source
    *   on any scheme, so excluded files are never opened at all.
    * @param pathGlobFilter binaryFile `pathGlobFilter` option (e.g.
    *   `*.wav`) — the scheme-independent escape hatch for pruning by name. */
  def scan(
      spark: SparkSession,
      input: String,
      maxDepth: Int = DefaultMaxDepth,
      metadataFile: Option[String] = None,
      checkMimeType: Boolean = false,
      excludeSymlinks: Boolean = true,
      pathGlobFilter: Option[String] = None,
      expandArchives: Boolean = false): DataFrame = {
    // Hadoop Path form (unencoded) — File.toURI percent-encodes spaces and
    // would never match binaryFile's raw `path` column
    val inputHPath = new org.apache.hadoop.fs.Path(new java.io.File(input).toURI)
    val inputUri = inputHPath.toString.stripSuffix("/")
    val reader = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
    pathGlobFilter.foreach(reader.option("pathGlobFilter", _))
    // path and length only: binaryFile opens no file unless `content` is read
    val raw = reader.load(input).select("path", "length")
    // relative path: strip the input prefix; empty → bare file name
    // (reference: src/main.rs:743-758)
    val rel0 = regexp_replace(col("path"), java.util.regex.Pattern.quote(inputUri + "/"), "")
    var df = raw
      .withColumn("relative_path", PathNorm.normalizeCol(rel0))
      .withColumn("file_name", PathNorm.fileNameCol(col("relative_path")))
      .withColumn("relative_path",
        when(length(col("relative_path")) === 0, col("file_name")).otherwise(col("relative_path")))
      .filter(PathNorm.depthCol(col("relative_path")) <= lit(maxDepth)) // F3
    // F2: a row whose canonical path differs from canonical(root)/relpath was
    // reached through a symlink (file or directory) — drop it. The real copy,
    // if under the root, is still listed via its real path. Local fs only.
    if (excludeSymlinks && inputHPath.toUri.getScheme == "file") {
      val rootAbs = new java.io.File(input).getAbsolutePath
      val rootCanon = new java.io.File(input).getCanonicalPath
      // below-root suffix unchanged under canonicalization ⇔ no symlink
      // between the root and the file (symlinks ABOVE the root are fine).
      // Hadoop Path, not java.net.URI: binaryFile paths are UNencoded, so
      // URI.create throws on spaces.
      val isRealPath = udf { (path: String) =>
        try {
          val f = new java.io.File(new org.apache.hadoop.fs.Path(path).toUri.getPath)
          val abs = f.getAbsolutePath
          !abs.startsWith(rootAbs + "/") || {
            // canonical(file) == canonical(parent)/name unless the leaf itself
            // is a symlink — caching canonical parents turns N syscalls per
            // directory into 1 on large listings
            !java.nio.file.Files.isSymbolicLink(f.toPath) &&
              canonicalParent(f.getParentFile) + "/" + f.getName ==
                rootCanon + abs.substring(rootAbs.length)
          }
        } catch {
          case e: Exception =>
            // fail CLOSED: a row this filter cannot verify must not slip
            // through the symlink exclusion it exists to enforce
            log.warn(s"symlink check failed for $path; dropping row", e)
            false
        }
      }
      df = df.filter(isRealPath(col("path")))
    }
    metadataFile.foreach { mf => // F4: match by normalized relpath AND absolute path
      // Hadoop Path form, not File.toURI: binaryFile's `path` is unencoded,
      // so a percent-encoding comparison misses paths with spaces
      val abs = new org.apache.hadoop.fs.Path(
        new java.io.File(mf).getAbsoluteFile.toURI).toString
      val relToInput = {
        val f = new java.io.File(mf).getAbsolutePath
        val in = new java.io.File(input).getAbsolutePath
        if (f.startsWith(in + "/")) Some(PathNorm.normalize(f.substring(in.length + 1))) else None
      }
      df = df.filter(col("path") =!= lit(abs))
      relToInput.foreach(rp => df = df.filter(col("relative_path") =!= lit(rp)))
    }
    // Engine extension (--expand-archives): a zip bundle stands for its
    // entries, listed by name in the executor — archives are transport, so
    // the expansion happens before the MIME gate and the entry rows flow
    // through the same shard and content pass as plain files. Entry paths
    // use jar-URL bang notation `bundle.zip!inner/name.wav`; a corrupt
    // archive yields zero rows (fail-closed, like the symlink gate).
    val conf = GraftSession.hadoopConf(spark)
    df = df.withColumn("entry", lit(null).cast(StringType))
      .withColumn("_head", lit(null).cast(BinaryType))
    if (expandArchives) {
      val entriesUdf = udf((path: String) => listEntries(conf.value.value, path))
      val isZip = lower(col("file_name")).endsWith(".zip")
      val fromZip = df.filter(isZip)
        .withColumn("_e", explode(entriesUdf(col("path"))))
        .withColumn("relative_path",
          concat(col("relative_path"), lit("!"), PathNorm.normalizeCol(col("_e._1"))))
        .withColumn("file_name", PathNorm.fileNameCol(col("relative_path")))
        .withColumn("entry", col("_e._1"))
        .withColumn("_head", col("_e._2"))
        .withColumn("length", lit(null).cast(LongType))
        .drop("_e")
      df = df.filter(!isZip).unionByName(fromZip)
    }
    if (checkMimeType) { // F5: a plain file's head is read only here, after F2–F4
      val headUdf = udf((path: String) => readHead(conf.value.value, path))
      df = df.filter(Magic.isAudioCol(coalesce(col("_head"), headUdf(col("path")))))
    }
    df.drop("_head")
  }

  /** One kept file (or archive entry) as the planning pass hands it to the
    * content pass: `entry` is the zip entry name inside the archive at
    * `path`, null for a plain file; `length` is null for an entry. */
  final case class File(path: String, length: java.lang.Long, relativePath: String, entry: String)

  /** The content pass: one partition per shard, `shards(i)` read in order by
    * the task that writes shard `i`, each file's bytes read once through the
    * Hadoop FileSystem. Columns `relative_path, content, shard_id, file_name`.
    * A plain file over Spark's largest binary value fails the run, naming it. */
  def read(spark: SparkSession, shards: IndexedSeq[IndexedSeq[File]]): DataFrame = {
    val conf = GraftSession.hadoopConf(spark)
    val rows = spark.sparkContext.parallelize(shards.zipWithIndex, math.max(1, shards.length))
      .mapPartitions(_.flatMap { case (files, shard) =>
        val contents = new Contents(conf.value.value, files)
        files.iterator.map { f =>
          InternalRow(UTF8String.fromString(f.relativePath), contents.bytes(f), shard)
        }
      })
    GraftBridge.internalCreateDataFrame(spark, rows, StructType(Seq(StructField("relative_path", StringType),
        StructField("content", BinaryType), StructField("shard_id", IntegerType, nullable = false))))
      .withColumn("file_name", PathNorm.fileNameCol(col("relative_path")))
  }

  private def open(conf: Configuration, path: String): FSDataInputStream = {
    val p = new HPath(path)
    p.getFileSystem(conf).open(p)
  }

  /** The first [[SniffBytes]] bytes of a file, all F5 looks at. */
  private def readHead(conf: Configuration, path: String): Array[Byte] = {
    val in = open(conf, path)
    try in.readNBytes(SniffBytes) finally in.close()
  }

  /** Entry names of a zip archive with each entry's head for F5; empty when
    * the archive cannot be read to its end. */
  private def listEntries(conf: Configuration, path: String): Seq[(String, Array[Byte])] =
    try entriesOf(conf, path, _ => true)(_.readNBytes(SniffBytes))
    catch { case _: Exception => Nil }

  /** Streams the archive at `path`, applying `f` to each wanted file entry. */
  private def entriesOf[A](conf: Configuration, path: String, wanted: String => Boolean)(
      f: java.util.zip.ZipInputStream => A): Seq[(String, A)] = {
    val zin = new java.util.zip.ZipInputStream(open(conf, path))
    try {
      val out = Seq.newBuilder[(String, A)]
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory && wanted(e.getName)) out += e.getName -> f(zin)
        e = zin.getNextEntry
      }
      out.result()
    } finally zin.close()
  }

  /** Reads the bytes of one shard's `files` inside its content-pass task; the
    * shard's entries of the archive last read are held until a row of
    * another archive. */
  private final class Contents(conf: Configuration, files: Seq[File]) {
    private var archive: String = null
    private var entries = Map.empty[String, Array[Byte]]

    def bytes(f: File): Array[Byte] =
      if (f.entry == null) {
        if (f.length > MaxBinaryLength)
          throw new IllegalStateException(
            s"${f.path}: ${f.length} bytes is more than one binary value holds ($MaxBinaryLength)")
        val buf = new Array[Byte](f.length.toInt)
        val in = open(conf, f.path)
        try in.readFully(buf) finally in.close()
        buf
      } else {
        if (f.path != archive) {
          val wanted = files.collect { case g if g.path == f.path && g.entry != null => g.entry }.toSet
          entries = entriesOf(conf, f.path, wanted)(_.readAllBytes()).toMap
          archive = f.path
        }
        entries.getOrElse(f.entry, throw new IllegalStateException(s"${f.path}: entry ${f.entry} not found"))
      }
  }
}
