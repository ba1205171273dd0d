package graft.streaming

import graft.ScalaSource
import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** Every top-level object under `src/main/scala/graft/streaming/` must be
  * named by some other `src/main` file, comments and string literals
  * stripped (splices of interpolated strings are code and stay). A
  * streaming module that only its own spec calls fails here. */
class StreamingReachSpec extends AnyFunSuite {

  /** Objects allowed to have no caller in `src/main`; the test also
    * fails when one of them gains a caller, so the list stays exact. */
  private val allowed = Set(
    // ROADMAP direction 1 merges these detector-domain twins into the gate.
    "StreamingDetInfo", "StreamingLogBag", "StreamingPairUptime",
    "StreamingSummary")

  test("the stripper drops comments and literals but keeps splices") {
    val src = "val a = \"B//\" // C\n/* D\n E */ s\"${G(1)} $H\"; '\"'\n" +
      "\"\"\"I\"\"\" x"
    assert("\\w+".r.findAllIn(ScalaSource.code(src)).toSet ==
      Set("val", "a", "s", "G", "1", "H", "x"))
  }

  test("every top-level streaming object has a caller in src/main") {
    val text = ScalaSource.tree("src/main/scala")
    val root = Paths.get("src/main/scala")
    val objects = for {
      (p, t) <- text.toSeq if p.getParent == root.resolve("graft/streaming")
      m <- "(?m)^(?:case )?object (\\w+)".r.findAllMatchIn(t)
    } yield (m.group(1), p)
    assert(objects.exists(_._1 == "DetectorApp"))
    val unreached = objects.collect { case (name, home) if !text.exists {
      case (p, t) => p != home && s"\\b$name\\b".r.findFirstIn(t).isDefined
    } => name }
    assert(unreached.toSet == allowed,
      s"unreached: ${unreached.sorted}; allowed: ${allowed.toSeq.sorted}")
  }
}
