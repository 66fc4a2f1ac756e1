package graft

/** The source fingerprint: SHA-256 over the BYTES of the src/main,
  * build.sbt and project trees (sorted walk, any dir named `target`
  * skipped), first 16 hex digits. Two trees get the same fingerprint iff
  * they are byte-identical, so test-only edits, artifact-only commits and
  * mtime churn leave it unchanged and any runtime-code edit moves it.
  *
  * One definition serves both sides of the bench staleness check: the sbt
  * meta-build compiles this file too (project/build.sbt), so build.sbt
  * records the hash of the tree the compiler saw and [[Bench]] recomputes
  * it at run time. It must therefore compile under sbt's Scala 2.12 as well
  * as 2.13, and use nothing but the JDK and the Scala library.
  */
object SrcFingerprint {
  /** The fingerprint of the trees under `base` (the working directory by
    * default). The fed path strings are repo-relative ("src/main/scala/..."),
    * built from the seed string and never from `f.getPath`, so the hash does
    * not depend on where the walk is anchored; `base` only selects which
    * files are read. */
  def of(base: java.io.File = new java.io.File(".")): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(rel: String, f: java.io.File): Unit =
      if (f.isDirectory) {
        if (f.getName != "target")
          Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
            .foreach(c => feed(rel + "/" + c.getName, c))
      } else if (f.isFile) {
        md.update((rel + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
        md.update(0.toByte)
      }
    Seq("src/main", "build.sbt", "project").foreach(p => feed(p, new java.io.File(base, p)))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
