package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for the round-7 operators: char-distribution
  * entropy (exact values on crafted alphabets), the aHash degenerate
  * case (a uniform image must hash to zero — strict mean threshold),
  * and the skew_report salt recommendation on a hand-built hot key. */
class Round7Spec extends AnyFunSuite with LocalSpark {

  /** Temp dir with documents.parquet (+ optionally events.parquet)
    * shaped like the driver tables, so the production query functions
    * run unmodified. */
  private def fixtureDir(docs: Seq[(Long, String)],
                         events: Seq[(Long, Long, Long, String, Double, String)] = Nil): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r7").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (events.nonEmpty)
      events.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("char_entropy: closed-form values on crafted alphabets") {
    val dir = fixtureDir(Seq(
      0L -> "aaaa",             // one symbol: H = 0
      1L -> "ab",               // two equiprobable: H = ln 2
      2L -> "aabb",             // still ln 2 — size-invariant
      3L -> "the the the the",  // repeated-word text: low H
      4L -> "q8Zf3kP1x9Lm2Vw"   // blob: near-maximal H (15 distinct)
    ))
    val r = Pipeline.queries("char_entropy")(spark, dir)
      .collect().map(x => x.getLong(0) -> x.getDouble(3)).toMap
    assert(r(0L) == 0.0)
    assert(r(1L) == 0.6931)
    assert(r(2L) == 0.6931)
    assert(r(3L) < r(4L), s"text ${r(3L)} should score below blob ${r(4L)}")
    assert(math.abs(r(4L) - math.log(15)) < 1e-3) // 15 distinct of 15 chars
  }

  test("image_ahash: uniform image hashes to zero; dims follow the fixture") {
    val dir = fixtureDir(Seq(0L -> "aaaa", 1L -> ("xy" * 40)))
    val rows = Pipeline.queries("image_ahash")(spark, dir).collect()
    val uni = rows.find(_.getLong(0) == 0L).get
    // every sampled luminance equal → 64·lum > Σlum is strictly false
    assert(uni.getInt(1) == 5 && uni.getInt(2) == 1) // w=1+4%32, h=1+0
    assert(uni.getLong(3) == 0L && uni.getLong(4) == 0L)
    val tex = rows.find(_.getLong(0) == 1L).get
    assert(tex.getInt(1) == 1 + 80 % 32 && tex.getInt(2) == 1 + (80 / 32) % 32)
  }

  test("media fixtures narrow on non-ASCII text instead of throwing") {
    val dir = fixtureDir(Seq(0L -> "plain ascii", 1L -> "café latte"))
    val ids = Pipeline.queries("image_ahash")(spark, dir)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(0L), s"non-ASCII doc must be filtered, got $ids")
    val feats = Pipeline.queries("multimodal_features")(spark, dir)
      .select("media_id").collect().map(_.getLong(0)).toSet
    assert(feats == Set(0L))
  }

  test("driver embeddings are 64-dim (canary for the next data rotation)") {
    // The RP projection (Pipeline ~1575/3281) and SQ8 reconstruction
    // (q8RecSql) hard-code the 64-dim width on BOTH engines. The ts
    // rotation broke 44 queries silently-at-a-distance; if the
    // embedding width rotates, fail HERE with a pointer instead of as
    // scattered nulls in the quantization family.
    val dims = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .selectExpr("size(embedding) AS d").distinct().collect().map(_.getInt(0))
    assert(dims.toSeq == Seq(64),
      s"embedding dim rotated to ${dims.mkString(",")} — update the " +
        "sequence(0,63)/sequence(1,64)/range(0,64) sites in Pipeline " +
        "(Spark + DuckDB oracle) in lockstep")
  }

  test("skew_report: hot key salt recommendation is exact") {
    val ev = (0 until 8).map(i =>
      (i.toLong, i.toLong * 1000L, i.toLong, "hot", 1.0, "{}")) ++
      Seq((8L, 8000L, 8L, "a", 1.0, "{}"), (9L, 9000L, 9L, "b", 1.0, "{}"))
    val dir = fixtureDir(Seq(0L -> "x"), ev)
    val r = Analytics.queries("skew_report")(spark, dir)
      .collect().map(x => x.getString(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5)))
      .toMap
    // event_type: 10 rows, 3 keys, max 8 → share 800000 ppm,
    // salts = ceil(8·3/10) = 3
    assert(r("event_type") == ((10L, 3L, 8L, 800000L, 3L)))
    // user_id: uniform → 1 salt
    assert(r("user_id") == ((10L, 10L, 1L, 100000L, 1L)))
  }
}
