package graft

import org.scalatest.funsuite.AnyFunSuite

/** One Spark session builder: with comments and string literals
  * stripped, `SparkSession.builder` appears in `src/main` only in
  * [[GraftSession]], and in `src/test` only in `ExtensionsSpec`, which
  * needs a fresh session with `withExtensions`. Every other suite gets
  * its session from [[LocalSpark]]. */
class SessionBuilderSpec extends AnyFunSuite {
  private val builder = """\bSparkSession\s*\.\s*builder\b""".r

  private def builders(dir: String): Set[String] =
    ScalaSource.tree(dir).collect {
      case (p, t) if builder.findFirstIn(t).isDefined => p.toString
    }.toSet

  test("src/main builds its Spark session only in GraftSession") {
    assert(builders("src/main/scala") ==
      Set("src/main/scala/graft/GraftSession.scala"))
  }

  test("src/test builds a Spark session only in ExtensionsSpec") {
    assert(builders("src/test/scala") ==
      Set("src/test/scala/graft/ExtensionsSpec.scala"))
  }
}
