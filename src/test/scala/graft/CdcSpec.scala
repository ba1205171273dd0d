package graft

import org.scalatest.funsuite.AnyFunSuite

/** Content-defined chunking pins: the shift-invariance property that
  * justifies CDC over fixed blocking, agreement between a plain-Scala
  * recompute and the query's md5 chain, and the no-cut degenerate. */
class CdcSpec extends AnyFunSuite with LocalSpark {

  /** The query's boundary rule in plain Scala: cuts where the 8-byte
    * rolling hash divides 64, chunks between [0, cuts..., len]. */
  private def chunksOf(t: String): Seq[String] = {
    val hs = functions.PolyHashWindows.windows(t.getBytes("UTF-8"), 8)
    val cuts = hs.zipWithIndex.collect {
      case (h, i) if h % 64 == 0 => i + 8 }
    val bs = (0L +: cuts.toSeq.map(_.toLong) :+ t.length.toLong).distinct
    bs.sliding(2).map(p => t.substring(p(0).toInt, p(1).toInt)).toSeq
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("insertion shifts bytes but not downstream chunks (vs fixed blocks)") {
    val base = ("the quick brown fox jumps over the lazy dog " * 20).trim
    val edited = "XY " + base
    val a = chunksOf(base)
    val b = chunksOf(edited)
    assert(a.size > 3, s"fixture must chunk (got ${a.size})")
    // every base chunk AFTER the first boundary survives the edit
    // verbatim — the edit is confined to the head chunk(s)
    val tail = a.tail
    assert(b.containsSlice(tail),
      s"CDC lost downstream chunks:\nbase=$a\nedited=$b")
    // fixed 64-byte blocking loses EVERY downstream block instead
    val fixedA = base.grouped(64).toSeq
    val fixedB = edited.grouped(64).toSeq
    assert(fixedA.tail.forall(blk => !fixedB.contains(blk)),
      "fixed blocking unexpectedly realigned")
  }

  test("query md5 chain equals the plain-Scala recompute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val docs = Seq(
      0L -> ("key agg row scan slow fast table value part hash " * 8).trim,
      1L -> "short",
      2L -> ("key agg row scan slow fast table value part hash " * 8).trim)
    docs.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Pipeline.queries("cdc_chunks")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(3)))).toMap
    docs.foreach { case (id, t) =>
      val cs = chunksOf(t)
      assert(got(id) == ((cs.size.toLong,
        md5hex(cs.map(md5hex).mkString(" ")))), s"doc $id")
    }
    // identical docs chunk identically → full dedup in the summary
    val sum = Pipeline.queries("cdc_dedup")(spark, dir).collect()(0)
    val all = docs.flatMap { case (_, t) => chunksOf(t) }
    assert(sum.getLong(0) == all.size.toLong)
    assert(sum.getLong(1) == all.distinct.size.toLong)
    assert(sum.getLong(1) < sum.getLong(0)) // docs 0 and 2 share chunks
    // no-cut degenerate: "short" is one chunk
    assert(got(1L)._1 == 1L)
  }

  test("cdc_delta: unchanged docs transfer zero; edits stay head-local") {
    val rows = Pipeline.queries("cdc_delta")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getBoolean(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val (changed, same) = rows.partition(_._1)
    assert(changed.nonEmpty && same.nonEmpty)
    // identical versions: every chunk matches, nothing transfers
    same.foreach { case (_, n2, shared, xfer) =>
      assert(shared == n2 && xfer == 0L)
    }
    // head-inserted versions: most chunks survive the shift (the CDC
    // property, measured), and something real transfers
    val survived = changed.map(_._3).sum.toDouble / changed.map(_._2).sum
    assert(survived > 0.5, s"only ${survived * 100}% chunks survived")
    assert(changed.map(_._4).sum > 0L)
  }
}
