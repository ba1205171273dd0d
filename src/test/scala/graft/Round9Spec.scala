package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for the round-9 loader operators: power-of-two
  * length bucketing with exact padding arithmetic, and the
  * deterministic epoch reshuffle's reproducibility/difference
  * contract. */
class Round9Spec extends AnyFunSuite with LocalSpark {

  private def fixtureDir(docs: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_r9").toString
    docs.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("length buckets: pow2 ladder boundaries and exact pad ppm") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // token counts 1, 2, 3, 16, 17 → buckets 1, 2, 4, 16, 32
    val dir = fixtureDir(Seq(
      (0L, words(1), "s"), (1L, words(2), "s"), (2L, words(3), "s"),
      (3L, words(16), "s"), (4L, words(17), "s"),
      // a second doc in bucket 4 (ntok 4) to exercise padding
      (5L, words(4), "s")))
    val r = Pipeline.queries("length_bucket_batches")(spark, dir)
      .collect().map(x => (x.getInt(1).toLong, x.getLong(2)) ->
        (x.getLong(3), x.getLong(4), x.getLong(5), x.getLong(6))).toMap
    assert(r.keySet == Set((1L, 0L), (2L, 0L), (4L, 0L), (16L, 0L),
      (32L, 0L)))
    // bucket 4 holds ntok 3 and 4 in one batch: max 4, sum 7 →
    // pad = (2*4 − 7)/(2*4) = 125000 ppm exactly
    assert(r((4L, 0L)) == ((2L, 4L, 7L, 125000L)))
    assert(r((1L, 0L)) == ((1L, 1L, 1L, 0L)))   // lone doc: no padding
    assert(r((32L, 0L)) == ((1L, 17L, 17L, 0L)))
  }

  test("epoch shuffle: reproducible per epoch, different across epochs") {
    val dir = fixtureDir((0L until 40L).map(i =>
      (i, s"doc $i", s"src${i % 2}")))
    def run() = Pipeline.queries("epoch_shuffle")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        (r.getString(3), r.getLong(4))).toMap
    val a = run()
    val b = run()
    assert(a == b, "the shuffle must be a pure function of (id, epoch)")
    // orders genuinely differ across epochs within each source
    for (src <- Seq("src0", "src1")) {
      val orders = (0L until 3L).map(e => a((e, src))._1)
      assert(orders.distinct.size == 3, s"$src epochs collided")
    }
    // every (epoch, source) holds the full shard
    val n = Pipeline.queries("epoch_shuffle")(spark, dir)
      .collect().map(_.getLong(2))
    assert(n.forall(_ == 20L))
  }
}
