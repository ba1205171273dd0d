package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form pins for the training-objective example builders:
  * T5-style span corruption (sentinel numbering, schedule, short tail
  * spans) and the FIM thirds transform (PSM/SPM orders, degenerate
  * one-token docs). */
class ObjectivePrepSpec extends AnyFunSuite with LocalSpark {

  private def fixtureDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_obj").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("span_corrupt: schedule, sentinel numbering, short tail span") {
    val w18 = (0 until 18).map(i => s"t$i")
    val dir = fixtureDir(Seq(
      0L -> "a b c d e f g",        // groups: [abc]* [def] [g]
      1L -> w18.mkString(" ")))     // groups 0..5 → masks g0, g5
    val r = Pipeline.queries("span_corrupt")(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    val d0 = r(0L)
    assert(d0.getLong(1) == 7L && d0.getLong(2) == 3L && d0.getLong(3) == 1L)
    assert(d0.getString(4) == md5hex("<extra_id_0> d e f g"))
    assert(d0.getString(5) == md5hex("<extra_id_0> a b c"))
    val d1 = r(1L)
    assert(d1.getLong(2) == 6L && d1.getLong(3) == 2L)
    val mid = (3 until 15).map(i => s"t$i").mkString(" ")
    assert(d1.getString(4) == md5hex(s"<extra_id_0> $mid <extra_id_1>"))
    assert(d1.getString(5) ==
      md5hex("<extra_id_0> t0 t1 t2 <extra_id_1> t15 t16 t17"))
  }

  test("fim_transform: thirds split, PSM and SPM orders, 1-token doc") {
    val dir = fixtureDir(Seq(0L -> "a b c d e f g", 1L -> "x"))
    val r = Pipeline.queries("fim_transform")(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    val d0 = r(0L) // n=7: prefix [a,b], middle [c,d], suffix [e,f,g]
    assert(d0.getLong(1) == 7L && d0.getLong(2) == 2L && d0.getLong(3) == 2L)
    assert(d0.getString(4) ==
      md5hex("<fim_pre> a b <fim_suf> e f g <fim_mid> c d"))
    assert(d0.getString(5) ==
      md5hex("<fim_suf> e f g <fim_pre> a b <fim_mid> c d"))
    val d1 = r(1L) // n=1: everything lands in the suffix
    assert(d1.getLong(2) == 0L && d1.getLong(3) == 0L)
    assert(d1.getString(4) == md5hex("<fim_pre>  <fim_suf> x <fim_mid> "))
  }

  test("mlm_mask: 80/10/10 split, deterministic replacement, labels") {
    // 70 tokens → masked at 7,14,...,70; counters r = 1..10 → r<8 x7
    // as [MASK], r=8 replacement, r=9 unchanged... r cycles (pos/7)%10
    val words = (1 to 70).map(i => s"w$i")
    val dir = fixtureDir(Seq(0L -> words.mkString(" ")))
    val r = Pipeline.queries("mlm_mask")(spark, dir).collect()(0)
    assert(r.getLong(1) == 70L)
    assert(r.getLong(2) == 10L) // 70/7 masked
    // counters (pos/7)%10 for pos=7k, k=1..10 → 1..9,0 → eight <8
    assert(r.getLong(3) == 8L && r.getLong(4) == 1L && r.getLong(5) == 1L)
    // replacement at k=8 (pos 56): vocab sorted = w1,w10,...,w9; index
    // (56+0)%70 = 56 → vocab(56); unchanged at k=9 (pos 63)
    val voc = words.sorted
    val expect = words.zipWithIndex.map { case (w, i0) =>
      val pos = i0 + 1
      if (pos % 7 != 0) w
      else (pos / 7) % 10 match {
        case k if k < 8 => "[MASK]"
        case 8 => voc((pos + 0) % 70)
        case _ => w
      }
    }.mkString(" ")
    assert(r.getString(6) == md5hex(expect))
    val labels = (1 to 10).map(k => s"w${7 * k}").mkString(" ")
    assert(r.getString(7) == md5hex(labels))
  }

  test("mlm_mask: replacement vocabulary is capped at top-K by frequency") {
    // 4096 common words (freq 2, names c….) + 1000 rare words (freq 1,
    // names a…. — alphabetically FIRST, so an uncapped sorted vocab
    // would differ). The cap keeps only the c-words; replacement for
    // doc 2 therefore indexes into c0000..c4095, not a0000…
    val common = (0 until Pipeline.MlmVocabCap).map(i => f"c$i%04d")
    val rare = (0 until 1000).map(i => f"a$i%04d")
    val dir = fixtureDir(Seq(
      1L -> (common ++ common).mkString(" "),
      2L -> rare.mkString(" ")))
    val r = Pipeline.queries("mlm_mask")(spark, dir).collect()
      .map(x => x.getLong(0) -> x).toMap
    val voc = common.sorted // capped vocab: the 4096 freq-2 words
    val expect2 = rare.zipWithIndex.map { case (w, i0) =>
      val pos = i0 + 1
      if (pos % 7 != 0) w
      else (pos / 7) % 10 match {
        case k if k < 8 => "[MASK]"
        case 8 => voc(((pos + 2) % voc.length).toInt) // a c-word, never a-
        case _ => w
      }
    }.mkString(" ")
    assert(r(2L).getString(6) == md5hex(expect2))
    // the uncapped vocabulary (a-words included, |V| = 5096) indexes
    // differently at every replacement site — hash inequality pins
    // that the cap is actually applied
    val unVoc = (common ++ rare).sorted
    val unExpect2 = rare.zipWithIndex.map { case (w, i0) =>
      val pos = i0 + 1
      if (pos % 7 != 0) w
      else (pos / 7) % 10 match {
        case k if k < 8 => "[MASK]"
        case 8 => unVoc(((pos + 2) % unVoc.length).toInt)
        case _ => w
      }
    }.mkString(" ")
    assert(r(2L).getString(6) != md5hex(unExpect2))
  }

  test("mask rate sits at the designed 20% on the driver corpus") {
    val agg = Pipeline.queries("span_corrupt")(
      spark, "/root/testdata/sf0.001")
      .selectExpr("sum(n_masked) AS m", "sum(n_tokens) AS t").collect()(0)
    val rate = agg.getLong(0).toDouble / agg.getLong(1)
    assert(rate > 0.15 && rate < 0.25, s"mask rate $rate")
  }
}
