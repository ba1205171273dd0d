package graft

import graft.functions.{PolyHash, PolyHashWindows}
import org.scalatest.funsuite.AnyFunSuite

/** The rolling-window kernel must agree, window for window, with the
  * per-substring [[PolyHash]] fold it replaces on the probe side of the
  * exact-substring join — a mismatch would silently drop candidate pairs
  * (the verify step only ever removes false positives, never restores
  * false negatives). */
class PolyHashWindowsSpec extends AnyFunSuite with LocalSpark {

  private def fold(s: String): Long = PolyHash.hashBytes(s.getBytes("UTF-8"))

  test("rolling windows equal per-substring folds on random ASCII") {
    val rnd = new scala.util.Random(42L)
    for (_ <- 1 to 200) {
      val len = rnd.nextInt(300)
      val s = Seq.fill(len)((' ' + rnd.nextInt(95)).toChar).mkString
      val k = 1 + rnd.nextInt(64)
      val got = PolyHashWindows.windows(s.getBytes("UTF-8"), k).toSeq
      val want =
        if (len < k) Seq.empty
        else (0 to len - k).map(i => fold(s.substring(i, i + k)))
      assert(got == want, s"len=$len k=$k")
    }
  }

  test("degenerate inputs: empty, shorter than k, k <= 0") {
    assert(PolyHashWindows.windows(Array.emptyByteArray, 8).isEmpty)
    assert(PolyHashWindows.windows("abc".getBytes, 8).isEmpty)
    assert(PolyHashWindows.windows("abc".getBytes, 0).isEmpty)
    assert(PolyHashWindows.windows("abc".getBytes, -1).isEmpty)
    assert(PolyHashWindows.windows("abc".getBytes, 3).toSeq == Seq(fold("abc")))
  }

  test("SQL registration evaluates through codegen") {
    import spark.implicits._
    PolyHash.register(spark)
    PolyHashWindows.register(spark)
    val r = Seq("the quick brown fox").toDF("s")
      .selectExpr("poly_hash_windows(s, 5) AS w",
        "transform(sequence(1, length(s) - 4), " +
          "i -> poly_hash(substring(s, CAST(i AS INT), 5))) AS want")
      .as[(Seq[Long], Seq[Long])].head()
    assert(r._1 == r._2 && r._1.nonEmpty)
  }
}
