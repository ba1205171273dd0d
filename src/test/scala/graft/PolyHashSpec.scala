package graft

import graft.functions.PolyHash
import org.scalatest.funsuite.AnyFunSuite

class PolyHashSpec extends AnyFunSuite with LocalSpark {

  test("byte fold matches the definition") {
    val expected = ((0L * 31 + 'a') * 31 + 'b') % PolyHash.P
    assert(PolyHash.hashBytes("ab".getBytes("UTF-8")) == expected)
    assert(PolyHash.hashBytes(Array.emptyByteArray) == 0L)
  }

  test("codegen path equals the portable SQL char fold on ASCII") {
    PolyHash.register(spark)
    import spark.implicits._
    val df = Seq("hello world", "", "a", "the fast key order sort")
      .toDF("s")
    val rows = df.selectExpr(
      "poly_hash(s) AS native",
      "aggregate(filter(split(s, ''), ch -> ch <> ''), 0L, " +
        "(a, ch) -> (a * 31 + ascii(ch)) % 1000000007) AS folded")
      .as[(Long, Long)].collect()
    rows.foreach { case (n, f) => assert(n == f) }
  }

  test("interpreted eval equals codegen result") {
    PolyHash.register(spark)
    import spark.implicits._
    val s = "graft engine"
    val viaSql = Seq(s).toDF("s").selectExpr("poly_hash(s)")
      .as[Long].head()
    assert(viaSql == PolyHash.hashBytes(s.getBytes("UTF-8")))
  }
}
