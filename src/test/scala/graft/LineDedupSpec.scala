package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for the C4/RefinedWeb line-level dedup family:
  * first-occurrence keeper policy, reconstruction order, the empty-doc
  * md5, and the distinct-doc-frequency boilerplate threshold. */
class LineDedupSpec extends AnyFunSuite with LocalSpark {

  private def fixtureDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lines").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // "a b c" occurs in docs 0,1,2 (df=3 → boilerplate); "d e f" in
  // docs 0,3 (df=2 → kept by the boilerplate filter, deduped to doc 0
  // by the first-occurrence policy); "g" is a short tail chunk.
  private val docs = Seq(
    0L -> "a b c d e f",
    1L -> "a b c x y z",
    2L -> "a b c",
    3L -> "d e f g")

  test("line_dedup: first occurrence survives, later copies drop") {
    val dir = fixtureDir(docs)
    val r = Pipeline.queries("line_dedup")(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3))))
      .toMap
    assert(r(0L) == ((2L, 2L, md5hex("a b c\nd e f"))))
    assert(r(1L) == ((2L, 1L, md5hex("x y z"))))
    assert(r(2L) == ((1L, 0L, md5hex("")))) // all lines seen earlier
    assert(r(3L) == ((2L, 1L, md5hex("g")))) // "d e f" kept in doc 0 only
  }

  test("line_boilerplate: df>=3 lines removed everywhere, df=2 kept") {
    val dir = fixtureDir(docs)
    val r = Pipeline.queries("line_boilerplate")(spark, dir).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3))))
      .toMap
    assert(r(0L) == ((2L, 1L, md5hex("d e f"))))
    assert(r(1L) == ((2L, 1L, md5hex("x y z"))))
    assert(r(2L) == ((1L, 1L, md5hex(""))))
    assert(r(3L) == ((2L, 0L, md5hex("d e f\ng")))) // nothing removed
  }

  test("line dedup family is non-vacuous on the driver corpus") {
    val dir = "/root/testdata/sf0.001"
    val dd = Pipeline.queries("line_dedup")(spark, dir)
      .selectExpr("sum(n_lines) AS t", "sum(n_kept) AS k").collect()(0)
    assert(dd.getLong(0) > dd.getLong(1), "some duplicate lines must drop")
    val bp = Pipeline.queries("line_boilerplate")(spark, dir)
      .selectExpr("sum(n_removed)").collect()(0).getLong(0)
    assert(bp > 0L, "some boilerplate lines must be removed")
  }
}
