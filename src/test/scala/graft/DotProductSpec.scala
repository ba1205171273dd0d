package graft

import graft.functions.DotProduct
import org.scalatest.funsuite.AnyFunSuite

class DotProductSpec extends AnyFunSuite with LocalSpark {

  test("codegen dot_p equals the portable in-order fold bit-for-bit") {
    DotProduct.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(50)((
      Seq.fill(64)(rnd.nextDouble() - 0.5),
      Seq.fill(64)(rnd.nextDouble() - 0.5)))
    val got = rows.toDF("a", "b").selectExpr(
      "dot_p(a, b) AS native",
      "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 AS double), " +
        "(s, t) -> s + t) AS folded")
      .as[(Double, Double)].collect()
    got.foreach { case (n, f) => assert(n == f) } // exact, not approximate
  }

  test("empty and mismatched lengths") {
    DotProduct.register(spark)
    import spark.implicits._
    val got = Seq((Seq.empty[Double], Seq(1.0)), (Seq(2.0, 3.0), Seq(4.0)))
      .toDF("a", "b").selectExpr("dot_p(a, b)").as[Double].collect()
    assert(got.toSeq == Seq(0.0, 8.0))
  }
}
