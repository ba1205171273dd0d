package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** The repository's Scala sources as code, for the specs that guard the
  * shape of the tree. Paths resolve against the working directory, so
  * those specs run from the repository root (sbt does). */
object ScalaSource {
  private val literal = ("(?s)//[^\\n]*|/\\*.*?\\*/|\"{3}.*?\"{3}\"*" +
    "|\"[^\"\\\\]*(?:\\\\.[^\"\\\\]*)*\"|'(?:\\\\.|[^'\\\\\\n])'").r
  private val splice = """\$\{([^}]*)\}|\$(\w+)""".r

  /** Source with comments and literals blanked, splices kept. */
  def code(src: String): String = literal.replaceAllIn(src, m =>
    if (m.matched.startsWith("/")) " "
    else Regex.quoteReplacement(splice.findAllMatchIn(m.matched)
      .map(s => Option(s.group(1)).getOrElse(s.group(2)))
      .mkString(" ", " ", " ")))

  /** Every `.scala` file under `dir` (e.g. `src/main/scala`), as code. */
  def tree(dir: String): Map[Path, String] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), "run from the repository root")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(new String(Files.readAllBytes(p), UTF_8))).toMap
  }
}
