package graft

import graft.operators.RangeJoin
import org.scalatest.funsuite.AnyFunSuite

/** Banded point-in-interval join ≡ the naive inequality join, on seeded
  * random data with intervals spanning many buckets, empty intervals,
  * and bucket-boundary points. */
class RangeJoinSpec extends AnyFunSuite with LocalSpark {

  test("bucketed range join matches the naive inequality join") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val points = Seq.tabulate(400)(i =>
      (i.toLong, rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong * 10))
      .toDF("pid", "k", "t")
    val intervals = Seq.tabulate(60) { i =>
      val s = rnd.nextInt(9000).toLong
      // include zero-length and multi-bucket spans; bucket width = 100
      (i.toLong, rnd.nextInt(8).toLong, s, s + rnd.nextInt(700).toLong)
    }.toDF("iid", "k", "s", "e")
    val banded = RangeJoin.pointInInterval(points, intervals, 100L,
        Seq("k"), "t", "s", "e")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    val naive = points.join(intervals, Seq("k"))
      .filter($"t" >= $"s" && $"t" < $"e")
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(banded == naive && naive.nonEmpty)
  }
}
