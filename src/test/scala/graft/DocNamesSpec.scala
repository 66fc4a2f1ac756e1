package graft

import org.scalatest.funsuite.AnyFunSuite

/** README.md and SURVEY.md name code as `Object.member`; each such name,
  * where `Object` is an object under `src/main/scala/graft`, must still be
  * defined, so deleting code means fixing the docs that cite it. */
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
}
