package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** Typed media metadata extraction: EXIF orientation (JPEG APP1 →
  * embedded TIFF IFD, both byte orders), ID3v2 text frames, and the
  * integer-exact audio frame-energy gate. */
class MetadataSpec extends AnyFunSuite with LocalSpark {

  test("EXIF orientation: all 8 values round-trip through APP1") {
    for (o <- 1 to 8) {
      val jpg = Multimodal.encodeJpegExif(20, 30, o, "payload".getBytes)
      assert(Multimodal.jpegExifOrientation(jpg).contains(o))
      // dimension decode is undisturbed by the extra segment
      assert(Multimodal.decodeJpegDims(jpg).contains((20, 30)))
    }
  }

  test("EXIF orientation: big-endian (MM) IFD reads identically") {
    val base = Multimodal.encodeJpegExif(8, 8, 6, Array.emptyByteArray)
    // locate the TIFF origin (APP1 starts at offset 2; body at +10)
    val t0 = 2 + 10
    assert(base(t0) == 'I' && base(t0 + 1) == 'I')
    // hand-build the same IFD in MM order
    val mm = base.clone()
    def put16(o: Int, v: Int): Unit = {
      mm(o) = ((v >> 8) & 0xff).toByte; mm(o + 1) = (v & 0xff).toByte
    }
    def put32(o: Int, v: Int): Unit = { put16(o, v >> 16); put16(o + 2, v) }
    mm(t0) = 'M'; mm(t0 + 1) = 'M'
    put16(t0 + 2, 42); put32(t0 + 4, 8)
    put16(t0 + 8, 1)                       // one entry
    put16(t0 + 10, 0x0112); put16(t0 + 12, 3); put32(t0 + 14, 1)
    put16(t0 + 18, 6); put16(t0 + 20, 0)   // SHORT left-justified
    put32(t0 + 22, 0)                      // no next IFD
    assert(Multimodal.jpegExifOrientation(mm).contains(6))
  }

  test("EXIF orientation: absent tag, bad values, truncation → None") {
    val plain = Multimodal.encodeJpegHeader(8, 8, "x".getBytes)
    assert(Multimodal.jpegExifOrientation(plain).isEmpty, "no APP1")
    val jpg = Multimodal.encodeJpegExif(8, 8, 3, Array.emptyByteArray)
    val bad = jpg.clone()
    bad(2 + 10 + 18) = 9 // orientation out of 1..8 (little-endian low byte)
    assert(Multimodal.jpegExifOrientation(bad).isEmpty)
    assert(Multimodal.jpegExifOrientation(jpg.take(15)).isEmpty)
    assert(Multimodal.jpegExifOrientation(Array.emptyByteArray).isEmpty)
  }

  test("ID3v2: T-frames round-trip and the MP3 walk still sees the audio") {
    val mp3 = Multimodal.encodeMp3(4, "body".getBytes)
    val tagged = Multimodal.encodeId3v2(
      Seq("TIT2" -> "A Title", "TPE1" -> "An Artist", "TALB" -> "Album"),
      mp3)
    val tags = Multimodal.id3v2TextFrames(tagged)
    assert(tags == Map("TIT2" -> "A Title", "TPE1" -> "An Artist",
      "TALB" -> "Album"))
    assert(Multimodal.mp3Stats(tagged).exists(_.nFrames == 4),
      "frame walk must skip the ID3 block")
  }

  test("ID3v2: non-text encodings skipped, padding stops, truncation partial") {
    val mp3 = Multimodal.encodeMp3(1, Array.emptyByteArray)
    val tagged = Multimodal.encodeId3v2(Seq("TIT2" -> "keep"), mp3)
    // flip the encoding byte to UTF-16 (1): frame skipped, no crash
    val utf = tagged.clone()
    val encAt = 10 + 10 // header + frame header
    assert(utf(encAt) == 0)
    utf(encAt) = 1
    assert(Multimodal.id3v2TextFrames(utf).isEmpty)
    // no ID3 header at all
    assert(Multimodal.id3v2TextFrames(mp3).isEmpty)
    assert(Multimodal.id3v2TextFrames(Array.emptyByteArray).isEmpty)
    // corrupt the second frame's size: first survives
    val two = Multimodal.encodeId3v2(
      Seq("TIT2" -> "first", "TPE1" -> "second"), mp3)
    val cut = two.clone()
    val f2 = 10 + 10 + 1 + "first".length
    cut(f2 + 4) = 0x7f.toByte // absurd size
    assert(Multimodal.id3v2TextFrames(cut) == Map("TIT2" -> "first"))
  }

  test("frame energy: direct fold, partial final frame, strict threshold") {
    import spark.implicits._
    // 300 samples → one full frame + one 44-sample frame
    val samples = Array.tabulate(300)(i => ((i * 37) % 256).toByte)
    val wav = Multimodal.encodeWavPcm8(8000, samples)
    val rows = Seq(MediaRow(1L, "audio/wav", wav)).toDS()
    val fe = Multimodal.extractFrameEnergy(rows, 256).collect().head
    def energy(from: Int, until: Int): Long =
      (from until until).map(i => math.abs((samples(i) & 0xff) - 128).toLong).sum
    val e0 = energy(0, 256)
    val e1 = energy(256, 300)
    assert(fe.n_frames == 2)
    assert(fe.max_energy == math.max(e0, e1))
    assert(fe.total_energy == e0 + e1)
    assert(fe.active_frames ==
      Seq((e0, 256), (e1, 44)).count { case (e, n) => 2 * e > 40L * n })
    // strict inequality: mean exactly 20 is NOT active
    val flat = Multimodal.encodeWavPcm8(8000, Array.fill(256)((128 + 20).toByte))
    val f2 = Multimodal.extractFrameEnergy(
      Seq(MediaRow(2L, "audio/wav", flat)).toDS(), 256).collect().head
    assert(f2.active_frames == 0 && f2.max_energy == 256L * 20)
    // malformed → sentinel
    val bad = Multimodal.extractFrameEnergy(
      Seq(MediaRow(3L, "audio/wav", Array[Byte](1, 2, 3))).toDS(), 256)
      .collect().head
    assert(bad.n_frames == -1)
  }
}
