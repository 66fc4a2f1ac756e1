package graft

import org.scalatest.funsuite.AnyFunSuite

/** README.md and SURVEY.md name code as `Object.member`, as a fully
  * qualified `graft.pkg.Object`, and as a source file `pkg/X.scala`; each such
  * name must still resolve under `src/main`, so deleting code means fixing
  * the docs that cite it. */
class DocNamesSpec extends AnyFunSuite {

  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  private def sources(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  private val Definition = """\b(?:def|val|var|lazy val|object|class|trait|type)\s+([A-Za-z_]\w*)""".r
  private val ObjectDef = """\bobject\s+([A-Z]\w*)""".r

  /** Each object's name → the names defined in the files that define it (a
    * file's other objects included: a lenient, parse-free approximation). */
  private lazy val members: Map[String, Set[String]] = {
    val files = sources(new java.io.File("src/main/scala/graft")).map(read)
    files.flatMap { text =>
      val defined = Definition.findAllMatchIn(text).map(_.group(1)).toSet
      ObjectDef.findAllMatchIn(text).map(_.group(1) -> defined)
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  private val Backticked = "`([^`\n]+)`".r
  private val Qualified = """(?<!\w)([A-Z]\w*)\.([A-Za-z_]\w*)""".r

  for (doc <- Seq("README.md", "SURVEY.md"))
    test(s"every backticked Object.member in $doc names a member its object defines") {
      assert(members.contains("Sharding") && members.contains("AudioToDataset"), "no sources found")
      val cited = for {
        span <- Backticked.findAllMatchIn(read(new java.io.File(doc))).map(_.group(1)).toSeq
        m <- Qualified.findAllMatchIn(span)
        obj = m.group(1) if members.contains(obj)
      } yield s"$obj.${m.group(2)}"
      assert(cited.nonEmpty)
      val missing = cited.distinct.filterNot { name =>
        val Array(obj, member) = name.split('.')
        members(obj)(member)
      }
      assert(missing.isEmpty, s"$doc names code that no longer exists: ${missing.mkString(", ")}")
    }

  /** Each source file's package directory (`graft/queries`) → the objects,
    * classes and traits its files define. */
  private lazy val packages: Map[String, Set[String]] = {
    val root = new java.io.File("src/main/scala")
    val TypeDef = """\b(?:object|class|trait)\s+([A-Z]\w*)""".r
    sources(root).map { f =>
      root.toPath.relativize(f.getParentFile.toPath).toString.replace('\\', '/') ->
        TypeDef.findAllMatchIn(read(f)).map(_.group(1)).toSet
    }.groupMapReduce(_._1)(_._2)(_ ++ _)
  }

  private val FullyQualified = """(?<![\w.])graft\.((?:[a-z]\w*\.)*)([A-Z]\w*)""".r
  private val ScalaFile = """(?<![\w/.])((?:[\w-]+/)*[\w-]+\.scala)\b""".r

  for (doc <- Seq("README.md", "SURVEY.md"))
    test(s"every fully qualified graft object and every .scala file in $doc resolves under src/main") {
      assert(packages.get("graft").exists(_("AudioToDataset")), "no sources found")
      val text = read(new java.io.File(doc))
      val objects = FullyQualified.findAllMatchIn(text).map { m =>
        (("graft" +: m.group(1).split('.').filter(_.nonEmpty)).mkString("/"), m.group(2))
      }.toSeq.distinct
      val files = ScalaFile.findAllMatchIn(text).map(_.group(1)).toSeq.distinct
      val all = sources(new java.io.File("src/main")).map(_.getPath.replace('\\', '/'))
      val missing =
        objects.collect { case (dir, obj) if !packages.get(dir).exists(_(obj)) =>
          s"${dir.replace('/', '.')}.$obj" } ++
        files.filterNot(name => all.exists(_.endsWith(s"/$name")))
      assert(missing.isEmpty, s"$doc names code that no longer exists: ${missing.mkString(", ")}")
    }
}
