package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for the unigram-LM tokenizer family: packed-DP
  * semantics (score first, fewer pieces on ties), vocabulary scoring,
  * and end-to-end segmentation on a crafted corpus. */
class UnigramSpec extends AnyFunSuite with LocalSpark {

  private def fixtureDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_uni").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def decode(pk: Long): (Long, Long) = {
    val np = java.lang.Math.floorMod(-pk, 64L)
    ((pk + np) / 64L, np)
  }

  test("viterbiPacked: equal scores tie to FEWER pieces; better score wins") {
    // [aa] and [a,a] both sum to -200 → 1 piece must win
    val tie = Pipeline.viterbiPacked("aa",
      Map("a" -> -100L, "aa" -> -200L))
    assert(decode(tie) == ((-200L, 1L)))
    // make the char path strictly better → 2 pieces win on score
    val sc = Pipeline.viterbiPacked("aa",
      Map("a" -> -100L, "aa" -> -300L))
    assert(decode(sc) == ((-200L, 2L)))
    // a 4-char piece beats four chars when cheaper
    val four = Pipeline.viterbiPacked("abcd",
      Map("a" -> -100L, "b" -> -100L, "c" -> -100L, "d" -> -100L,
        "abcd" -> -350L))
    assert(decode(four) == ((-350L, 1L)))
    // mixed split: best = [ab, c] over [a, b, c] and [abc]
    val mix = Pipeline.viterbiPacked("abc",
      Map("a" -> -100L, "b" -> -100L, "c" -> -100L, "ab" -> -120L,
        "abc" -> -260L))
    assert(decode(mix) == ((-220L, 2L)))
  }

  test("crafted corpus: vocabulary scores and segmentation are closed-form") {
    val dir = fixtureDir(Seq(0L -> "ab ab ab b"))
    // chars: a=3, b=4; pieces: ab=3; total=10
    def s(c: Long) = math.round(math.log(c / 10.0) * 1e6)
    val voc = Pipeline.queries("unigram_vocab")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(voc == Map("a" -> ((3L, s(3))), "b" -> ((4L, s(4))),
      "ab" -> ((3L, s(3)))))
    val enc = Pipeline.queries("unigram_encode")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // "ab" as one piece (-1203973) beats a+b (-2120264)
    assert(enc("ab") == ((3L, s(3), 1L)))
    assert(enc("b") == ((1L, s(4), 1L)))
    val doc = Pipeline.queries("unigram_doc_tokens")(spark, dir).collect()(0)
    assert(doc.getLong(1) == 3L * 1 + 1)          // 4 tokens
    assert(doc.getLong(2) == 3L * s(3) + s(4))    // summed scores
  }

  test("greedyPieces: maximal munch, char fallback, greedy <= optimal score") {
    // greedy takes "ab" then "c"; optimal DP can choose [a, bc] when
    // that scores higher — the classic maximal-munch pessimization
    val m = Map("a" -> -100L, "b" -> -100L, "c" -> -100L,
      "ab" -> -180L, "bc" -> -50L)
    assert(Pipeline.greedyPieces("abc", m) == ((2L, -280L))) // [ab, c]
    val opt = Pipeline.viterbiPacked("abc", m)
    val np = java.lang.Math.floorMod(-opt, 64L)
    assert(((opt + np) / 64L, np) == ((-150L, 2L))) // [a, bc]
    // char fallback when nothing longer matches
    assert(Pipeline.greedyPieces("ca", Map("c" -> -1L, "a" -> -2L)) ==
      ((2L, -3L)))
  }

  test("wordpiece vs unigram on the driver corpus: greedy never beats the DP") {
    val dir = "/root/testdata/sf0.001"
    val wp = Pipeline.queries("wordpiece_encode")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val un = Pipeline.queries("unigram_encode")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(3), r.getLong(2)))).toMap
    assert(wp.keySet == un.keySet)
    wp.foreach { case (w, (_, scG)) =>
      assert(scG <= un(w)._2, s"greedy beat the optimal DP on '$w'")
    }
  }

  test("driver corpus: multi-char pieces actually fire (non-vacuous)") {
    val rows = Pipeline.queries("unigram_encode")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.exists(r => r.getLong(3) < r.getString(0).length),
      "every word segmented to single chars — the piece vocab is dead")
    // and the DP can never emit more pieces than characters
    rows.foreach(r => assert(r.getLong(3) <= r.getString(0).length))
  }
}
