package graft

import graft.functions.{DeflateLen, NfcNormalize}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The NFC and deflate kernels: unit semantics, and the
  * compression_ratio query against a plain-Scala recompute (its gate
  * coverage — no SQL twin exists for deflate). */
class TextKernelsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def nfc(s: String): String =
    NfcNormalize.nfc(UTF8String.fromString(s)).toString

  test("nfc composes decomposed sequences and is idempotent") {
    val decomposed = "caf" + "é" + " Å"
    val composed = "café Å"
    assert(nfc(decomposed) == composed)
    assert(nfc(composed) == composed)           // fast path: already NFC
    assert(nfc("plain ascii") == "plain ascii") // identity on ASCII
    assert(nfc("") == "")
    // ligature ﬁ is COMPATIBILITY, not canonical: NFC must keep it
    assert(nfc("ﬁn") == "ﬁn")
  }

  test("deflate_len: repetitive text compresses far better than diverse") {
    val rep = "spam " * 200
    val rnd = new scala.util.Random(42)
    val diverse = Seq.fill(200)(rnd.alphanumeric.take(4).mkString).mkString(" ")
    val rl = DeflateLen.deflatedSize(rep.getBytes("UTF-8")).toDouble / rep.length
    val dl = DeflateLen.deflatedSize(diverse.getBytes("UTF-8")).toDouble /
      diverse.length
    assert(rl < 0.05, s"repetitive ratio $rl")
    assert(dl > 0.5, s"diverse ratio $dl")
  }

  test("kernels are total on arbitrary input: no throw, nfc idempotent") {
    val rnd = new scala.util.Random(20260813L)
    for (_ <- 1 to 300) {
      val s = new String(Array.fill(rnd.nextInt(64))(
        rnd.nextInt(0xFFFF).toChar)) // arbitrary UTF-16, incl. lone surrogates
      val once = nfc(s)
      assert(nfc(once) == once, "nfc idempotent")
      assert(DeflateLen.deflatedSize(s.getBytes("UTF-8")) > 0 ||
        s.isEmpty)
    }
  }

  test("compression_ratio query equals the plain-Scala recompute") {
    import spark.implicits._
    val got = Pipeline.compressionRatio(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").as[(Long, String)].collect()
    assert(got.length == docs.length)
    val expected = docs.map { case (id, t) =>
      val b = t.getBytes("UTF-8")
      val dz = DeflateLen.deflatedSize(b).toLong
      (id, b.length.toLong, dz,
        BigDecimal(dz.toDouble / math.max(b.length, 1))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
  }
}
