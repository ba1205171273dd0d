package graft

import org.scalatest.funsuite.AnyFunSuite

/** Short documents (<3 tokens) must produce EMPTY shingle sets, not a
  * descending sequence(1, 0) that makes element_at(tk, 0) throw — and
  * minhash16 over an empty set must be NULL (matching the oracle's
  * list_min over an empty list), never a 16×Long.MaxValue signature. */
class ShortDocSpec extends AnyFunSuite with LocalSpark {

  private def shingles(text: String): Seq[Long] = {
    import spark.implicits._
    graft.functions.PolyHash.register(spark)
    Seq(text).toDF("text")
      .selectExpr("transform(split(text, ' '), t -> poly_hash(t)) AS tk")
      .selectExpr(
        s"transform(${Pipeline.shingleIdx("tk")}, " +
          "i -> ((element_at(tk, cast(i AS int)) * 31 " +
          s"+ element_at(tk, cast(i + 1 AS int))) % ${Pipeline.P} * 31 " +
          s"+ element_at(tk, cast(i + 2 AS int))) % ${Pipeline.P}) AS sh")
      .as[Seq[Long]].head()
  }

  test("shingle index bound is safe for <3-token docs") {
    assert(shingles("one").isEmpty)
    assert(shingles("one two").isEmpty)
    assert(shingles("one two three").size == 1)
    assert(shingles("a b c d").size == 2)
  }

  test("minhash16 of an empty set is NULL, with nulls skipped") {
    graft.functions.MinHashSig.register(spark)
    val r = spark.sql(
      "SELECT minhash16(CAST(array() AS array<bigint>)) AS a, " +
        "minhash16(CAST(array(NULL) AS array<bigint>)) AS b, " +
        "minhash16(array(7L, NULL, 7L)) AS c, " +
        "minhash16(array(7L)) AS d").head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getSeq[Long](2) == r.getSeq[Long](3))
  }
}
