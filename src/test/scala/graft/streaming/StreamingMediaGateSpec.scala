package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Streaming media gate: crafted decode/quality verdicts (including a
  * progressive JPEG on the stream) plus exact stream/batch parity with
  * the `image_quality_gate` query fixtures on the real sf0.001 corpus. */
class StreamingMediaGateSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private def stream(docs: Seq[MediaDoc]): Map[Long, MediaVerdict] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[MediaDoc]
    val name = s"mg${System.nanoTime()}"
    val q = StreamingMediaGate.verdicts(mem.toDS())
      .writeStream.outputMode("append").format("memory").queryName(name)
      .start()
    try {
      mem.addData(docs: _*)
      q.processAllAvailable()
      spark.table(name).as[MediaVerdict].collect()
        .map(v => v.mediaId -> v).toMap
    } finally q.stop()
  }

  test("crafted verdicts: flat, dark, good, tiny, undecodable, progressive") {
    import graft.operators.{Jpeg, Multimodal}
    val goodPng = Multimodal.encodePngPixels(16, 16,
      Array.tabulate(120)(i => (40 + (i * 7) % 150).toByte))
    val flat = StreamingMediaGate.grayJpeg(2, 2, _ => 100) // contrast 0
    val dark = StreamingMediaGate.grayJpeg(2, 2, b => 5 + b) // mean < 16
    val tiny = Multimodal.encodePngPixels(4, 4, Array[Byte](10, 90, 30))
    val prog = Jpeg.encodeProgressivePixels(2, 2,
      "some progressive text payload".getBytes)
    val got = stream(Seq(
      MediaDoc(1, 0, "image/png", goodPng),
      MediaDoc(2, 0, "image/jpeg", flat),
      MediaDoc(3, 0, "image/jpeg", dark),
      MediaDoc(4, 0, "image/png", tiny),
      MediaDoc(5, 0, "image/png", Array[Byte](1, 2, 3)),
      MediaDoc(6, 0, "image/jpeg", prog)))
    assert(got(1L).decode_ok && got(1L).keep)
    assert(got(2L).decode_ok && got(2L).contrast == 0 && !got(2L).keep)
    assert(got(3L).decode_ok && got(3L).mean_luma < 16 && !got(3L).keep)
    assert(got(4L).decode_ok && !got(4L).keep, "w<8 rejected")
    assert(!got(5L).decode_ok && !got(5L).keep)
    assert(got(6L).decode_ok && got(6L).width == 16,
      "progressive JPEG decodes on the stream")
  }

  test("stream/batch parity on the real corpus fixtures") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("image_quality_gate")(spark, dir)
      .collect().map(r => (r.getLong(0), (r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    val docs = graft.Tables.documents(spark, dir)
      .selectExpr("doc_id", "text").as[(Long, String)].collect()
      .filter { case (_, t) =>
        t.getBytes("UTF-8").length == t.length && t.nonEmpty }
      .map { case (id, t) =>
        val w = 1 + (t.length % 32)
        val h = 1 + ((t.length / 32) % 32)
        MediaDoc(id, 0, "image/png",
          graft.operators.Multimodal.encodePngPixels(w, h,
            t.getBytes("UTF-8")))
      }.toSeq
    val got = stream(docs)
    assert(got.size == batch.size)
    for ((id, v) <- got) {
      assert(batch(id) == ((v.width, v.height, v.mean_luma, v.contrast,
        v.decode_ok, v.keep)), s"doc $id")
    }
  }
}
