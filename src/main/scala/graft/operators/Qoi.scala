package graft.operators

/** QOI — the "Quite OK Image" format (public one-page spec,
  * qoiformat.org) — the zero-dependency lossless image format ML
  * tooling increasingly uses for fast intermediate rasters. Pure-JVM
  * both directions, entirely closed-form: 14-byte header (`qoif`,
  * big-endian dims, channels, colorspace), then a single pass of 8
  * chunk ops — RUN (1..62), INDEX into the 64-slot rolling hash
  * table (r·3+g·5+b·7+a·11 mod 64), DIFF (±2 per channel), LUMA
  * (green-anchored ±32/±8), RGB, RGBA — closed by the 8-byte end
  * marker. The encoder is the spec's canonical greedy ladder
  * (run → index → diff → luma → rgb), so output is deterministic;
  * the decoder verifies the header, the exact pixel count and the
  * end marker, and rejects any overrun or trailing garbage — drop,
  * never invent. Raster bomb cap 2^24 px (the repo-wide image
  * guard). No reference analogue (north-star multimodal surface);
  * validated by exact round trips, the spec's own op-level pins,
  * mutation/garbage fuzz in QoiSpec, and the multimodal decode gate
  * query. */
object Qoi {

  /** `.qoi` sniff. */
  def isQoi(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'q' && b(1) == 'o' && b(2) == 'i' && b(3) == 'f'

  private def hash(r: Int, g: Int, b: Int, a: Int): Int =
    (r * 3 + g * 5 + b * 7 + a * 11) & 63

  /** Encode an RGB24 raster (channels=3, linear colorspace tag). */
  def encode(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w >= 1 && h >= 1 && w.toLong * h <= (1L << 24))
    require(rgb.length == w * h * 3)
    val out = new java.io.ByteArrayOutputStream(rgb.length / 2 + 32)
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    Bytes.putBe32(out, w); Bytes.putBe32(out, h)
    out.write(3) // channels
    out.write(1) // linear
    val idx = new Array[Int](64) // packed 0xAARRGGBB
    java.util.Arrays.fill(idx, 0)
    var pr = 0; var pg = 0; var pb = 0
    val pa = 255
    var run = 0
    var i = 0
    val n = w * h
    while (i < n) {
      val r = rgb(3 * i) & 0xff
      val g = rgb(3 * i + 1) & 0xff
      val b = rgb(3 * i + 2) & 0xff
      if (r == pr && g == pg && b == pb) {
        run += 1
        if (run == 62) { out.write(0xc0 | (run - 1)); run = 0 }
      } else {
        if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
        val h6 = hash(r, g, b, pa)
        val packed = (pa << 24) | (r << 16) | (g << 8) | b
        if (idx(h6) == packed) out.write(h6) // QOI_OP_INDEX
        else {
          idx(h6) = packed
          val dr = r - pr; val dg = g - pg; val db = b - pb
          if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 &&
            db >= -2 && db <= 1) {
            out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
          } else {
            val drg = dr - dg; val dbg = db - dg
            if (dg >= -32 && dg <= 31 && drg >= -8 && drg <= 7 &&
              dbg >= -8 && dbg <= 7) {
              out.write(0x80 | (dg + 32))
              out.write(((drg + 8) << 4) | (dbg + 8))
            } else {
              out.write(0xfe); out.write(r); out.write(g); out.write(b)
            }
          }
        }
        pr = r; pg = g; pb = b
      }
      i += 1
    }
    if (run > 0) out.write(0xc0 | (run - 1))
    var z = 0
    while (z < 7) { out.write(0); z += 1 }
    out.write(1)
    out.toByteArray
  }

  /** Decode to (w, h, RGB24). Accepts channels 3 AND 4 (alpha chunks
    * decode; the returned raster is the RGB plane). None on bad
    * header, raster bomb, pixel under/overrun, missing or misplaced
    * end marker, or trailing bytes. */
  def decode(data: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (data.length < 14 + 8 || !isQoi(data)) return None
    val w = Bytes.be32u(data, 4)
    val h = Bytes.be32u(data, 8)
    val channels = data(12) & 0xff
    val colorspace = data(13) & 0xff
    if (w < 1 || h < 1 || w * h > (1L << 24)) return None
    if ((channels != 3 && channels != 4) || colorspace > 1) return None
    val n = (w * h).toInt
    val rgb = new Array[Byte](n * 3)
    val idx = new Array[Int](64)
    var r = 0; var g = 0; var b = 0; var a = 255
    var p = 14
    val end = data.length - 8
    var px = 0
    while (px < n) {
      if (p >= end) return None
      val op = data(p) & 0xff
      p += 1
      var run = 1
      if (op == 0xfe) { // RGB
        if (p + 3 > end) return None
        r = data(p) & 0xff; g = data(p + 1) & 0xff; b = data(p + 2) & 0xff
        p += 3
        idx(hash(r, g, b, a)) = (a << 24) | (r << 16) | (g << 8) | b
      } else if (op == 0xff) { // RGBA
        if (p + 4 > end) return None
        r = data(p) & 0xff; g = data(p + 1) & 0xff
        b = data(p + 2) & 0xff; a = data(p + 3) & 0xff
        p += 4
        idx(hash(r, g, b, a)) = (a << 24) | (r << 16) | (g << 8) | b
      } else (op >>> 6) match {
        case 0 => // INDEX
          val v = idx(op & 63)
          a = (v >>> 24) & 0xff; r = (v >>> 16) & 0xff
          g = (v >>> 8) & 0xff; b = v & 0xff
        case 1 => // DIFF
          r = (r + ((op >>> 4) & 3) - 2) & 0xff
          g = (g + ((op >>> 2) & 3) - 2) & 0xff
          b = (b + (op & 3) - 2) & 0xff
          idx(hash(r, g, b, a)) = (a << 24) | (r << 16) | (g << 8) | b
        case 2 => // LUMA
          if (p >= end) return None
          val dg = (op & 63) - 32
          val b2 = data(p) & 0xff
          p += 1
          r = (r + dg + ((b2 >>> 4) & 15) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (b2 & 15) - 8) & 0xff
          idx(hash(r, g, b, a)) = (a << 24) | (r << 16) | (g << 8) | b
        case _ => // RUN
          run = (op & 63) + 1
          if (run > 62) return None // 63/64 are RGB/RGBA, handled above
      }
      if (px + run > n) return None
      var k = 0
      while (k < run) {
        rgb(3 * px) = r.toByte
        rgb(3 * px + 1) = g.toByte
        rgb(3 * px + 2) = b.toByte
        px += 1
        k += 1
      }
    }
    if (p != end) return None // chunk stream must end exactly at marker
    var z = 0
    while (z < 7) { if (data(end + z) != 0) return None; z += 1 }
    if (data(end + 7) != 1) return None
    Some(((w.toInt), (h.toInt), rgb))
  }
}
