package graft

import graft.functions.JaccardSorted
import org.scalatest.funsuite.AnyFunSuite

class JaccardSortedSpec extends AnyFunSuite with LocalSpark {

  test("matches size(intersect)/size(union) on random distinct sets") {
    JaccardSorted.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(200)((
      rnd.shuffle((1L to 60L).toList).take(rnd.nextInt(30) + 1).distinct.sorted,
      rnd.shuffle((1L to 60L).toList).take(rnd.nextInt(30) + 1).distinct.sorted))
    val got = rows.toDF("a", "b").selectExpr(
      "jaccard_sorted(a, b) AS native",
      "size(array_intersect(a, b)) / CAST(size(array_union(a, b)) AS double) AS builtin")
      .as[(Double, Double)].collect()
    got.foreach { case (n, b) => assert(n == b) }
  }

  test("edge cases: disjoint, identical, one empty") {
    JaccardSorted.register(spark)
    import spark.implicits._
    val got = Seq(
      (Seq(1L, 2L), Seq(3L, 4L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq.empty[Long], Seq(1L)))
      .toDF("a", "b").selectExpr("jaccard_sorted(a, b)").as[Double].collect()
    assert(got.toSeq == Seq(0.0, 1.0, 0.0))
  }
}
