package graft.operators

import scala.collection.mutable.ArrayBuffer

/** FLAC lossless audio codec, pure JVM, both directions — the
  * lossless audio container speech/music training sets arrive in.
  * Everything here is closed-form per the public format spec
  * (RFC 9639 / the xiph format document): Rice/unary residual
  * coding, the order-0..4 FIXED polynomial predictors, LPC with
  * quantized coefficients READ FROM THE STREAM (no tabulated model
  * data anywhere), UTF-8-style frame numbers, CRC-8 (x⁸+x²+x+1) and
  * CRC-16 (x¹⁶+x¹⁵+x²+1) computed bitwise from their polynomials.
  *
  * Subset: mono 16-bit streams, fixed blocking strategy. The DECODER
  * additionally handles CONSTANT / VERBATIM / FIXED(0–4) / LPC
  * subframes, wasted bits, both Rice methods and partitioned
  * residuals — the shapes real encoders emit; the encoder picks
  * CONSTANT, FIXED order 0–2 with single-partition Rice, or
  * VERBATIM, whichever is smallest. Streams outside the subset
  * (multi-channel, other bit depths, variable blocking) reject with
  * None — never mis-decode. Validation is the exact encode↔decode
  * round trip, a HAND-ASSEMBLED bitstream pinned byte-for-byte in
  * FlacSpec (decoder-independent of the encoder), CRCs cross-checked
  * against an independent bitwise implementation, and mutation fuzz
  * (both CRCs make single-bit corruption detectable). */
object Flac {

  // ── Rice unary codes over the MSB-first bit I/O ────────────────

  private def writeUnary(w: Bytes.BitWriter, q: Int): Unit = {
    var left = q
    while (left >= 32) { w.write(0, 32); left -= 32 }
    w.write(1, left + 1)
  }

  /** Count zeros to the first one bit. −1 on overrun. */
  private def readUnary(r: Bytes.BitReader): Int = {
    var q = 0
    while (r.read(1) == 0) {
      if (!r.ok) return -1
      q += 1
      if (q > (1 << 24)) { r.fail(); return -1 } // runaway guard
    }
    q
  }

  // ── CRCs (bitwise from the polynomials — no tables) ─────────────

  /** CRC-8, poly 0x07, init 0 (frame-header check). */
  def crc8(b: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
              else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 (whole-frame check). */
  def crc16(b: Array[Byte], from: Int, len: Int): Int = {
    var crc = 0
    var i = from
    while (i < from + len) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  // ── UTF-8-style coded numbers (frame index) ─────────────────────

  private def writeUtf8Num(bw: Bytes.BitWriter, v: Long): Unit = {
    if (v < 0x80) { bw.write(v, 8); return }
    // t total bytes carry 5t+1 payload bits (lead: t ones, a zero,
    // 7−t data bits; then t−1 continuation bytes of 6 bits)
    var t = 2
    while (t < 7 && v >= (1L << (5 * t + 1))) t += 1
    val lead = ((0xff << (8 - t)) & 0xff).toLong | (v >>> (6 * (t - 1)))
    bw.write(lead, 8)
    var i = t - 2
    while (i >= 0) {
      bw.write(0x80L | ((v >>> (6 * i)) & 0x3f), 8)
      i -= 1
    }
  }

  private def readUtf8Num(r: Bytes.BitReader): Long = {
    val b0 = r.read(8)
    if (!r.ok) return -1
    if ((b0 & 0x80) == 0) return b0
    var ones = 0
    var mask = 0x80
    while (ones < 8 && (b0 & mask) != 0) { ones += 1; mask >>= 1 }
    if (ones < 2 || ones > 7) { r.fail(); return -1 }
    var v = b0 & ((1 << (8 - ones - 1)) - 1).toLong
    var i = 1
    while (i < ones) {
      val bc = r.read(8)
      if (!r.ok || (bc & 0xc0) != 0x80) { r.fail(); return -1 }
      v = (v << 6) | (bc & 0x3f)
      i += 1
    }
    v
  }

  // ── fixed predictors ────────────────────────────────────────────

  private def fixedPredict(s: Array[Int], n: Int, order: Int): Long =
    order match {
      case 0 => 0L
      case 1 => s(n - 1).toLong
      case 2 => 2L * s(n - 1) - s(n - 2)
      case 3 => 3L * s(n - 1) - 3L * s(n - 2) + s(n - 3)
      case _ => 4L * s(n - 1) - 6L * s(n - 2) + 4L * s(n - 3) - s(n - 4)
    }

  // ── encode ──────────────────────────────────────────────────────

  final val BlockSize = 4096

  private def riceCost(res: Array[Long], k: Int): Long = {
    var bits = 0L
    var i = 0
    while (i < res.length) { bits += (Bytes.zigzag(res(i)) >>> k) + 1 + k; i += 1 }
    bits
  }

  private def bestRiceK(res: Array[Long]): Int = {
    var bk = 0
    var bc = Long.MaxValue
    var k = 0
    while (k <= 14) {
      val c = riceCost(res, k)
      if (c < bc) { bc = c; bk = k }
      k += 1
    }
    bk
  }

  /** MD5 of the raw 16-bit little-endian sample stream (the
    * STREAMINFO signature). */
  def sampleMd5(samples: Array[Int]): Array[Byte] = {
    val d = java.security.MessageDigest.getInstance("MD5")
    val b = new Array[Byte](2)
    var i = 0
    while (i < samples.length) {
      b(0) = (samples(i) & 0xff).toByte
      b(1) = ((samples(i) >> 8) & 0xff).toByte
      d.update(b)
      i += 1
    }
    d.digest()
  }

  /** Encode mono 16-bit samples into a complete `.flac` stream:
    * fLaC magic, STREAMINFO, then fixed-blocksize frames whose
    * subframe is the cheapest of CONSTANT / FIXED(0..2 single-
    * partition Rice) / VERBATIM. */
  def encode(sampleRate: Int, samples: Array[Int]): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20))
    require(samples.forall(s => s >= -32768 && s <= 32767), "16-bit range")
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    // STREAMINFO: last-metadata flag set, type 0, length 34
    val si = new Bytes.BitWriter
    si.write(BlockSize, 16); si.write(BlockSize, 16) // min/max blocksize
    si.write(0, 24); si.write(0, 24)                 // min/max framesize: unknown
    si.write(sampleRate, 20)
    si.write(0, 3)  // channels − 1 (mono)
    si.write(15, 5) // bits per sample − 1 (16)
    si.write(samples.length.toLong, 36)
    // MD5 of the UNENCODED audio (16-bit little-endian stream) — the
    // end-to-end integrity signature decoders verify after decode
    val md5 = sampleMd5(samples)
    md5.foreach(b => si.write(b & 0xffL, 8))
    val siB = si.toByteArray
    out.write(0x80); out.write(0); out.write(0); out.write(siB.length)
    out.write(siB)
    var at = 0
    var frameIdx = 0L
    while (at < samples.length) {
      val n = math.min(BlockSize, samples.length - at)
      out.write(encodeFrame(sampleRate,
        java.util.Arrays.copyOfRange(samples, at, at + n), frameIdx))
      at += n
      frameIdx += 1
    }
    out.toByteArray
  }

  private def encodeFrame(sampleRate: Int, blk: Array[Int],
                          frameIdx: Long): Array[Byte] = {
    val n = blk.length
    val bw = new Bytes.BitWriter
    bw.write(0x3ffe, 14) // sync
    bw.write(0, 1)       // reserved
    bw.write(0, 1)       // fixed blocking: number is the FRAME index
    // blocksize: 4096 → code 12; short tails → 16-bit explicit (7)
    val bsCode = if (n == BlockSize) 12 else 7
    bw.write(bsCode, 4)
    bw.write(0, 4)  // sample rate: from STREAMINFO
    bw.write(0, 4)  // channel assignment: mono
    bw.write(4, 3)  // sample size: 16-bit
    bw.write(0, 1)  // reserved
    writeUtf8Num(bw, frameIdx)
    if (bsCode == 7) bw.write(n - 1, 16)
    // header CRC-8 over the bytes so far (the bit stream is byte-
    // aligned here: 32 fixed bits + whole UTF-8 bytes + optional 16)
    val headBytes = bw.toByteArray // snapshot; rebuild the writer below
    val bw2 = new Bytes.BitWriter
    headBytes.foreach(b => bw2.write(b & 0xffL, 8))
    bw2.write(crc8(headBytes, 0, headBytes.length), 8)
    // subframe: pick the cheapest representation
    val candidates = ArrayBuffer.empty[(Long, () => Unit)]
    def writeRice(res: Array[Long], k: Int): Unit = {
      bw2.write(0, 2) // rice method 4-bit
      bw2.write(0, 4) // partition order 0
      bw2.write(k, 4)
      var i = 0
      while (i < res.length) {
        val z = Bytes.zigzag(res(i))
        writeUnary(bw2, (z >>> k).toInt)
        var b = k - 1
        while (b >= 0) { bw2.write((z >>> b) & 1, 1); b -= 1 }
        i += 1
      }
    }
    if (n > 0 && blk.forall(_ == blk(0)))
      candidates += ((16L, () => {
        bw2.write(0, 1); bw2.write(0, 6); bw2.write(0, 1) // CONSTANT, no wasted bits
        bw2.write(blk(0).toLong & 0xffff, 16)
      }))
    else {
      for (order <- 0 to 2 if n > order) {
        val res = new Array[Long](n - order)
        var i = order
        while (i < n) {
          res(i - order) = blk(i) - fixedPredict(blk, i, order)
          i += 1
        }
        val k = bestRiceK(res)
        val cost = 16L * order + 2 + 4 + 4 + riceCost(res, k)
        candidates += ((cost, () => {
          bw2.write(0, 1); bw2.write(8 + order, 6); bw2.write(0, 1) // FIXED(order)
          var w = 0
          while (w < order) { bw2.write(blk(w).toLong & 0xffff, 16); w += 1 }
          writeRice(res, k)
        }))
      }
      candidates += ((16L * n, () => {
        bw2.write(0, 1); bw2.write(1, 6); bw2.write(0, 1) // VERBATIM
        var i = 0
        while (i < n) { bw2.write(blk(i).toLong & 0xffff, 16); i += 1 }
      }))
    }
    candidates.minBy(_._1)._2()
    val noCrc = bw2.toByteArray
    val outB = new java.io.ByteArrayOutputStream()
    outB.write(noCrc, 0, noCrc.length)
    val c16 = crc16(noCrc, 0, noCrc.length)
    outB.write((c16 >> 8) & 0xff); outB.write(c16 & 0xff)
    outB.toByteArray
  }

  // ── decode ──────────────────────────────────────────────────────

  final case class FlacInfo(sampleRate: Int, channels: Int, bits: Int,
                            totalSamples: Long)

  /** Decode a `.flac` stream to (stream facts, samples). None on
    * malformed input or outside the mono/16-bit subset. */
  def decode(data: Array[Byte]): Option[(FlacInfo, Array[Int])] = {
    if (data.length < 42) return None
    if (new String(data, 0, 4, "US-ASCII") != "fLaC") return None
    var p = 4
    var info: FlacInfo = null
    var md5: Array[Byte] = null
    var last = false
    // metadata blocks
    while (!last) {
      if (p + 4 > data.length) return None
      val h = data(p) & 0xff
      last = (h & 0x80) != 0
      val typ = h & 0x7f
      val len = ((data(p + 1) & 0xff) << 16) | ((data(p + 2) & 0xff) << 8) |
        (data(p + 3) & 0xff)
      if (p + 4 + len > data.length) return None
      if (typ == 0) {
        if (len != 34) return None
        val r = new Bytes.BitReader(data, p + 4)
        r.read(16); r.read(16); r.read(24); r.read(24)
        val rate = r.read(20).toInt
        val ch = r.read(3).toInt + 1
        val bits = r.read(5).toInt + 1
        val total = r.read(36)
        if (!r.ok) return None
        info = FlacInfo(rate, ch, bits, total)
        md5 = java.util.Arrays.copyOfRange(data, p + 4 + 18, p + 4 + 34)
      }
      p += 4 + len
    }
    if (info == null) return None
    if (info.channels != 1 || info.bits != 16) return None // subset
    if (info.totalSamples > (1L << 26)) return None // decode-bomb guard
    val out = new ArrayBuffer[Int](info.totalSamples.toInt)
    while (out.size < info.totalSamples) {
      p = decodeFrame(data, p, info, out) match {
        case Some(np) => np
        case None => return None
      }
    }
    // STREAMINFO MD5 (when set) must match the DECODED audio — the
    // end-to-end integrity check real decoders run
    if (md5 != null && md5.exists(_ != 0) &&
      !java.util.Arrays.equals(md5, sampleMd5(out.toArray))) return None
    Some((info, out.toArray))
  }

  private def decodeFrame(data: Array[Byte], start: Int, info: FlacInfo,
                          out: ArrayBuffer[Int]): Option[Int] = {
    val r = new Bytes.BitReader(data, start)
    if (r.read(14) != 0x3ffe) return None
    if (r.read(1) != 0) return None
    val variable = r.read(1) == 1
    if (variable) return None // subset: fixed blocking only
    val bsCode = r.read(4).toInt
    val srCode = r.read(4).toInt
    val chan = r.read(4).toInt
    val ssCode = r.read(3).toInt
    if (r.read(1) != 0 || !r.ok) return None
    if (chan != 0) return None // mono
    val bits = ssCode match {
      case 0 => info.bits
      case 1 => 8
      case 2 => 12
      case 4 => 16
      case 5 => 20
      case 6 => 24
      case _ => return None
    }
    if (bits != 16) return None
    readUtf8Num(r)
    if (!r.ok) return None
    val blockSize = bsCode match {
      case 1 => 192
      case c if c >= 2 && c <= 5 => 576 << (c - 2)
      case 6 => r.read(8).toInt + 1
      case 7 => r.read(16).toInt + 1
      case c if c >= 8 => 256 << (c - 8)
      case _ => return None
    }
    srCode match { // explicit rates consume header bits
      case 12 => r.read(8)
      case 13 | 14 => r.read(16)
      case 15 => return None // invalid
      case _ => ()
    }
    if (!r.ok || blockSize <= 0 || blockSize > (1 << 16)) return None
    // CRC-8 covers the header bytes up to here (reader is aligned)
    if (r.bitPos % 8 != 0) return None
    val headLen = (r.bitPos / 8).toInt - start
    val storedCrc8 = r.read(8).toInt
    if (!r.ok || storedCrc8 != crc8(data, start, headLen)) return None
    // subframe (mono: exactly one)
    if (r.read(1) != 0) return None
    val sfType = r.read(6).toInt
    var wasted = 0
    if (r.read(1) == 1) { wasted = readUnary(r) + 1; if (!r.ok) return None }
    if (!r.ok) return None
    val eb = bits - wasted
    if (eb <= 0 || eb > 16) return None
    val blk = new Array[Int](blockSize)
    def sext(v: Long, n: Int): Int = {
      val sh = 64 - n
      ((v << sh) >> sh).toInt
    }
    def readResiduals(order: Int): Boolean = {
      val method = r.read(2).toInt
      if (method > 1) return false
      val pbits = if (method == 0) 4 else 5
      val escape = if (method == 0) 0xf else 0x1f
      val pOrder = r.read(4).toInt
      if (!r.ok) return false
      val nPart = 1 << pOrder
      if (blockSize % nPart != 0) return false
      var part = 0
      var idx = order
      while (part < nPart) {
        val cnt = (blockSize >> pOrder) - (if (part == 0) order else 0)
        if (cnt < 0) return false
        val param = r.read(pbits).toInt
        if (!r.ok) return false
        if (param == escape) {
          val raw = r.read(5).toInt
          var i = 0
          while (i < cnt) {
            val v = if (raw == 0) 0L else r.read(raw)
            blk(idx) = sext(v, math.max(raw, 1)); idx += 1; i += 1
          }
        } else {
          var i = 0
          while (i < cnt) {
            val q = readUnary(r)
            if (q < 0) return false
            val rem = if (param == 0) 0L else r.read(param)
            blk(idx) = Bytes.unzigzag((q.toLong << param) | rem).toInt
            idx += 1; i += 1
          }
        }
        if (!r.ok) return false
        part += 1
      }
      true
    }
    sfType match {
      case 0 => // CONSTANT
        val v = sext(r.read(eb), eb)
        java.util.Arrays.fill(blk, v)
      case 1 => // VERBATIM
        var i = 0
        while (i < blockSize) { blk(i) = sext(r.read(eb), eb); i += 1 }
      case t if t >= 8 && t <= 12 => // FIXED order 0..4
        val order = t - 8
        if (order > blockSize) return None
        var i = 0
        while (i < order) { blk(i) = sext(r.read(eb), eb); i += 1 }
        if (!readResiduals(order)) return None
        i = order
        while (i < blockSize) {
          blk(i) = (blk(i) + fixedPredict(blk, i, order)).toInt
          i += 1
        }
      case t if t >= 32 => // LPC, order t − 31
        val order = t - 31
        if (order > blockSize) return None
        var i = 0
        while (i < order) { blk(i) = sext(r.read(eb), eb); i += 1 }
        val precision = r.read(4).toInt + 1
        if (precision == 16) return None // 1111 is invalid per spec
        val shift = sext(r.read(5), 5)
        if (shift < 0) return None
        val coef = new Array[Long](order)
        i = 0
        while (i < order) { coef(i) = sext(r.read(precision), precision); i += 1 }
        if (!r.ok) return None
        if (!readResiduals(order)) return None
        i = order
        while (i < blockSize) {
          var acc = 0L
          var j = 0
          while (j < order) { acc += coef(j) * blk(i - 1 - j); j += 1 }
          blk(i) = (blk(i) + (acc >> shift)).toInt
          i += 1
        }
      case _ => return None
    }
    if (!r.ok) return None
    // frame CRC-16 after byte alignment
    if (r.bitPos % 8 != 0) r.read((8 - (r.bitPos % 8)).toInt)
    val frameLen = (r.bitPos / 8).toInt - start
    val stored16 = r.read(16).toInt
    if (!r.ok || stored16 != crc16(data, start, frameLen)) return None
    if (wasted > 0) {
      var i = 0
      while (i < blockSize) { blk(i) = blk(i) << wasted; i += 1 }
    }
    var i = 0
    while (i < blockSize && out.size < info.totalSamples) {
      out += blk(i); i += 1
    }
    Some((r.bitPos / 8).toInt)
  }
}
