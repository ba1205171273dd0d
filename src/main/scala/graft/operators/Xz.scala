package graft.operators

/** XZ / LZMA2 (the public .xz file format specification and Igor
  * Pavlov's public-domain LZMA specification) — the second-most
  * common compressed-corpus transport after zstd/gzip (academic
  * dumps, Wikipedia exports, software shards ship `.tar.xz`).
  * Pure-JVM DECODER for the full single-stream format: stream
  * header/footer (flag CRC32s verified), block headers (CRC32
  * verified, optional size fields, LZMA2 filter only — BCJ/delta
  * chains reject cleanly), the LZMA2 chunk layer (uncompressed
  * chunks, state/props/dict resets), the complete LZMA range
  * decoder (adaptive binary probabilities, bit trees, matched
  * literals, the 12-state machine, rep distances, aligned/direct
  * distance bits — ZERO tabulated data, the whole coder is
  * closed-form arithmetic), the index (record-by-record consistency
  * against the decoded blocks + CRC32), stream padding and
  * concatenated streams. Every integrity check the format defines is
  * VERIFIED: all four block check types (None, CRC32, CRC64-ECMA
  * from its polynomial, SHA-256 via the JDK). Any malformation
  * returns None — drop, never invent.
  *
  * The ENCODER emits the format's store shape: LZMA2 uncompressed
  * chunks inside a fully valid stream (header, block, check, index,
  * footer) that any xz implementation reads. LZMA match-finding
  * stays out (same policy split as [[Zstd]]: entropy encode on the
  * platform library, decode pure).
  *
  * No reference analogue (north-star ingestion surface); validated
  * in XzSpec by differentials against the tukaani xz-1.10
  * implementation Spark bundles (their writer at several presets →
  * our reader; our store writer → their reader), all four check
  * types, mutation/garbage fuzz, and the `tar_parse_xz` gate query
  * decoding REAL tukaani-compressed tar shards. */
object Xz {

  /** `.xz` sniff. */
  def isXz(b: Array[Byte]): Boolean =
    b.length >= 6 && (b(0) & 0xff) == 0xfd && b(1) == '7' && b(2) == 'z' &&
      b(3) == 'X' && b(4) == 'Z' && b(5) == 0

  // ---------------------------------------------------------------
  // CRC64-ECMA (reflected, poly 0xC96C5795D7870F42) — table derived
  // ---------------------------------------------------------------

  private val Crc64Table: Array[Long] = {
    val poly = 0xC96C5795D7870F42L
    val t = new Array[Long](256)
    var i = 0
    while (i < 256) {
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0) (c >>> 1) ^ poly else c >>> 1
        k += 1
      }
      t(i) = c
      i += 1
    }
    t
  }

  private def crc64(b: Array[Byte], off: Int, len: Int): Long = {
    var c = -1L
    var i = off
    while (i < off + len) {
      c = (c >>> 8) ^ Crc64Table(((c ^ b(i)) & 0xff).toInt)
      i += 1
    }
    ~c
  }

  private[operators] def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }

  /** XZ multibyte varint: at most 9 bytes, minimal encoding only. */
  private def readVarint(b: Array[Byte], off: Int, end: Int)
      : Option[(Long, Int)] = {
    val c = new Bytes.Cursor(b, off, end)
    val v = c.varint(9)
    val n = c.p - off
    if (!c.ok || (n > 1 && b(c.p - 1) == 0)) None // non-minimal
    else Some((v, n))
  }

  // ---------------------------------------------------------------
  // LZMA range decoder (closed-form adaptive binary arithmetic)
  // ---------------------------------------------------------------

  private final class RangeDec(b: Array[Byte], var pos: Int, val end: Int) {
    var ok = true
    var range = 0xffffffffL
    var code = 0L
    // init: one zero byte, then 4 code bytes big-endian
    if (pos >= end || b(pos) != 0) ok = false
    else {
      pos += 1
      var i = 0
      while (i < 4) {
        if (pos >= end) { ok = false }
        else { code = (code << 8) | (b(pos) & 0xffL); pos += 1 }
        i += 1
      }
    }
    private def normalize(): Unit =
      if (range < (1L << 24)) {
        range <<= 8
        code = ((code << 8) | (if (pos < end) { val v = b(pos) & 0xffL
          pos += 1; v } else { ok = false; 0L })) & 0xffffffffL
      }
    def decodeBit(probs: Array[Short], idx: Int): Int = {
      val p = probs(idx) & 0xffff
      val bound = (range >>> 11) * p
      var bit = 0
      if (code < bound) {
        range = bound
        probs(idx) = (p + ((2048 - p) >>> 5)).toShort
      } else {
        code -= bound
        range -= bound
        probs(idx) = (p - (p >>> 5)).toShort
        bit = 1
      }
      normalize()
      bit
    }
    def decodeDirect(n: Int): Long = {
      var v = 0L
      var i = 0
      while (i < n) {
        range >>>= 1
        code -= range
        val t = 0L - (code >>> 63) // -1 if code went negative
        code += range & t
        v = (v << 1) + (t + 1)
        normalize()
        i += 1
      }
      v
    }
    def bitTree(probs: Array[Short], off: Int, nbits: Int): Int = {
      var m = 1
      var i = 0
      while (i < nbits) { m = (m << 1) | decodeBit(probs, off + m); i += 1 }
      m - (1 << nbits)
    }
    def bitTreeRev(probs: Array[Short], off: Int, nbits: Int): Int = {
      var m = 1
      var v = 0
      var i = 0
      while (i < nbits) {
        val bit = decodeBit(probs, off + m)
        m = (m << 1) | bit
        v |= bit << i
        i += 1
      }
      v
    }
    def finishedOk: Boolean = ok && code == 0
  }

  /** LZMA decoder state that survives across LZMA2 chunks. */
  private final class LzmaState(var lc: Int, var lp: Int, var pb: Int) {
    var state = 0
    var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
    // probability arrays (11-bit, init 1024)
    var lit: Array[Short] = _
    val isMatch = Array.fill[Short](12 << 4)(1024)
    val isRep = Array.fill[Short](12)(1024)
    val isRepG0 = Array.fill[Short](12)(1024)
    val isRepG1 = Array.fill[Short](12)(1024)
    val isRepG2 = Array.fill[Short](12)(1024)
    val isRep0Long = Array.fill[Short](12 << 4)(1024)
    val posSlot = Array.fill[Short](4 * 64)(1024)
    val specPos = Array.fill[Short](115)(1024)
    val align = Array.fill[Short](16)(1024)
    // length coders: [choice, choice2, low 16*8, mid 16*8, high 256]
    val lenProbs = Array.fill[Short](2 + 16 * 8 + 16 * 8 + 256)(1024)
    val repLenProbs = Array.fill[Short](2 + 16 * 8 + 16 * 8 + 256)(1024)
    resetProps(lc, lp, pb)
    def resetProps(lc2: Int, lp2: Int, pb2: Int): Unit = {
      lc = lc2; lp = lp2; pb = pb2
      lit = Array.fill[Short](0x300 << (lc + lp))(1024)
    }
    def resetState(): Unit = {
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      java.util.Arrays.fill(isMatch, 1024.toShort)
      java.util.Arrays.fill(isRep, 1024.toShort)
      java.util.Arrays.fill(isRepG0, 1024.toShort)
      java.util.Arrays.fill(isRepG1, 1024.toShort)
      java.util.Arrays.fill(isRepG2, 1024.toShort)
      java.util.Arrays.fill(isRep0Long, 1024.toShort)
      java.util.Arrays.fill(posSlot, 1024.toShort)
      java.util.Arrays.fill(specPos, 1024.toShort)
      java.util.Arrays.fill(align, 1024.toShort)
      java.util.Arrays.fill(lenProbs, 1024.toShort)
      java.util.Arrays.fill(repLenProbs, 1024.toShort)
      java.util.Arrays.fill(lit, 1024.toShort)
    }
  }

  /** Decode a length (2..273): choice trees per the LZMA spec. */
  private def decodeLen(r: RangeDec, probs: Array[Short],
      posState: Int): Int = {
    if (r.decodeBit(probs, 0) == 0)
      2 + r.bitTree(probs, 2 + posState * 8, 3)
    else if (r.decodeBit(probs, 1) == 0)
      10 + r.bitTree(probs, 2 + 128 + posState * 8, 3)
    else
      18 + r.bitTree(probs, 2 + 256, 8)
  }

  /** One LZMA chunk: decode exactly `unpacked` bytes into `dict`
    * (the whole output so far; dictStart marks the reset origin). */
  private def lzmaDecode(r: RangeDec, st: LzmaState, dict: FrameBuf,
      dictStart: Int, unpacked: Int): Boolean = {
    // unpacked < 0 = size unknown (the .lzma-alone EOS-terminated
    // form): the limit is the buffer cap and the EOS marker ends it
    val known = unpacked >= 0
    val limit = if (known) dict.len + unpacked else dict.cap
    if (known && !dict.ensure(unpacked)) return false
    val pbMask = (1 << st.pb) - 1
    val lpMask = (1 << st.lp) - 1
    while (dict.len < limit && r.ok) {
      val posState = (dict.len - dictStart) & pbMask
      if (r.decodeBit(st.isMatch, (st.state << 4) + posState) == 0) {
        // literal
        val prevByte =
          if (dict.len == dictStart) 0
          else dict.a(dict.len - 1) & 0xff
        val litState =
          ((((dict.len - dictStart) & lpMask) << st.lc) +
            (prevByte >>> (8 - st.lc))) * 0x300
        var sym = 1
        if (st.state >= 7) {
          // matched literal: fold in the byte at rep0+1 back
          if (dict.len - st.rep0 - 1 < dictStart) return false
          var matchByte = dict.a(dict.len - st.rep0 - 1) & 0xff
          var done = false
          while (!done && sym < 0x100) {
            val matchBit = (matchByte >> 7) & 1
            matchByte <<= 1
            val bit = r.decodeBit(st.lit,
              litState + ((1 + matchBit) << 8) + sym)
            sym = (sym << 1) | bit
            if (matchBit != bit) done = true
          }
        }
        while (sym < 0x100) sym = (sym << 1) | r.decodeBit(st.lit,
          litState + sym)
        if (!known && !dict.ensure(1)) return false
        dict.a(dict.len) = sym.toByte
        dict.len += 1
        st.state = if (st.state < 4) 0 else if (st.state < 10)
          st.state - 3 else st.state - 6
      } else {
        var len = 0
        if (r.decodeBit(st.isRep, st.state) == 0) {
          // new match: shift the distance history, decode len + dist
          st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
          len = decodeLen(r, st.lenProbs, posState)
          val lenToPos = math.min(len - 2, 3)
          val slot = r.bitTree(st.posSlot, lenToPos * 64, 6)
          if (slot < 4) st.rep0 = slot
          else {
            val nd = (slot >> 1) - 1
            var dist = (2 | (slot & 1)) << nd
            if (slot < 14)
              dist += r.bitTreeRev(st.specPos, dist - slot - 1, nd)
            else {
              dist += (r.decodeDirect(nd - 4) << 4).toInt
              dist += r.bitTreeRev(st.align, 0, 4)
            }
            st.rep0 = dist
          }
          if (st.rep0 == 0xffffffff)
            return r.ok && (!known || dict.len == limit) // EOS marker
          st.state = if (st.state < 7) 7 else 10
        } else {
          // rep match: which of the four distances?
          if (r.decodeBit(st.isRepG0, st.state) == 0) {
            if (r.decodeBit(st.isRep0Long,
              (st.state << 4) + posState) == 0) {
              // short rep: exactly one byte at rep0
              st.state = if (st.state < 7) 9 else 11
              val src = dict.len - st.rep0 - 1
              if (src < dictStart || dict.len >= limit ||
                (!known && !dict.ensure(1))) return false
              dict.a(dict.len) = dict.a(src)
              dict.len += 1
              len = -1 // handled; skip the copy below
            }
            // else: rep0 with a full length (len stays 0 -> decode)
          } else {
            val dist =
              if (r.decodeBit(st.isRepG1, st.state) == 0) {
                val d = st.rep1
                st.rep1 = st.rep0
                d
              } else if (r.decodeBit(st.isRepG2, st.state) == 0) {
                val d = st.rep2
                st.rep2 = st.rep1; st.rep1 = st.rep0
                d
              } else {
                val d = st.rep3
                st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
                d
              }
            st.rep0 = dist
          }
          if (len == 0) {
            len = decodeLen(r, st.repLenProbs, posState)
            st.state = if (st.state < 7) 8 else 11
          }
        }
        if (len > 0) {
          val src = dict.len - st.rep0 - 1
          if (st.rep0 < 0 || src < dictStart || dict.len + len > limit ||
            (!known && !dict.ensure(len)))
            return false
          var s2 = src
          var k = 0
          while (k < len) {
            dict.a(dict.len) = dict.a(s2)
            dict.len += 1
            s2 += 1
            k += 1
          }
        }
      }
    }
    r.ok && (known && dict.len == limit) // unknown size REQUIRES EOS
  }

  // (FrameBuf shared shape with Zstd — local copy keeps the files
  // independent)
  private[operators] final class FrameBuf(initial: Int, capIn: Int) {
    val cap: Int = math.max(capIn, 0)
    var a = new Array[Byte](
      math.max(16, math.min(math.max(initial, 16), math.max(cap, 16))))
    var len = 0
    def ensure(n: Int): Boolean = {
      if (n < 0 || len.toLong + n > cap) false
      else {
        if (len + n > a.length) {
          var nl = math.max(a.length.toLong * 2, len.toLong + n)
          if (nl > cap) nl = cap.toLong
          a = java.util.Arrays.copyOf(a, nl.toInt)
        }
        true
      }
    }
    def write(src: Array[Byte], off: Int, n: Int): Boolean =
      if (!ensure(n)) false
      else { System.arraycopy(src, off, a, len, n); len += n; true }
  }

  // ---------------------------------------------------------------
  // LZMA2 chunk layer
  // ---------------------------------------------------------------

  /** Decode an LZMA2 sequence at [off, end); appends to `out`.
    * Returns bytes consumed on success. */
  private[operators] def lzma2Decode(b: Array[Byte], off: Int, end: Int,
      out: FrameBuf): Option[Int] = {
    var p = off
    var st: LzmaState = null
    var dictStart = out.len
    var needDictReset = true
    var needProps = true
    var needStateReset = false
    var done = false
    while (!done) {
      if (p >= end) return None
      val ctrl = b(p) & 0xff
      p += 1
      if (ctrl == 0) done = true
      else if (ctrl == 1 || ctrl == 2) {
        // uncompressed chunk; 1 = with dict reset
        if (p + 2 > end) return None
        val size = (((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        p += 2
        if (ctrl == 1) { dictStart = out.len; needDictReset = false }
        else if (needDictReset) return None
        if (p + size > end || !out.write(b, p, size)) return None
        p += size
        needStateReset = true // next LZMA chunk must reset state
      } else if (ctrl >= 0x80) {
        if (p + 4 > end) return None
        val unpacked = (((ctrl & 0x1f) << 16) |
          ((b(p) & 0xff) << 8) | (b(p + 1) & 0xff)) + 1
        val packed = (((b(p + 2) & 0xff) << 8) | (b(p + 3) & 0xff)) + 1
        p += 4
        val resetMode = (ctrl >>> 5) & 3
        if (resetMode == 3) { dictStart = out.len; needDictReset = false }
        if (needDictReset) return None
        if (resetMode >= 2) {
          // new props byte
          if (p >= end) return None
          val props = b(p) & 0xff
          p += 1
          if (props >= 225) return None
          val lc = props % 9
          val lp = (props / 9) % 5
          val pb = props / 45
          if (lc + lp > 4) return None
          if (st == null) st = new LzmaState(lc, lp, pb)
          else st.resetProps(lc, lp, pb)
          st.resetState()
          needProps = false
          needStateReset = false
        } else if (needProps || st == null) return None
        else if (resetMode == 1) { st.resetState(); needStateReset = false }
        else if (needStateReset) return None // after an uncompressed chunk
        if (p + packed > end) return None
        val r = new RangeDec(b, p, p + packed)
        if (!r.ok) return None
        if (!lzmaDecode(r, st, out, dictStart, unpacked)) return None
        if (r.pos != p + packed) return None // chunk must consume exactly
        p += packed
      } else return None
    }
    Some(p - off)
  }

  // ---------------------------------------------------------------
  // LZMA-alone (.lzma — the legacy single-stream container)
  // ---------------------------------------------------------------

  /** Decode a legacy `.lzma` file: 13-byte header (props byte,
    * dictionary size LE32, uncompressed size LE64 — all-ones =
    * unknown, EOS-terminated) + one raw LZMA stream. None on any
    * malformation or output beyond maxOut. */
  def decodeAlone(data: Array[Byte], maxOut: Int = 1 << 26)
      : Option[Array[Byte]] = {
    if (data.length < 13 + 5) return None
    val props = data(0) & 0xff
    if (props >= 225) return None
    val lc = props % 9
    val lp = (props / 9) % 5
    val pb = props / 45
    if (lc + lp > 4) return None
    val size = Bytes.le64(data, 5)
    val known = size != -1L
    if (known && (size < 0 || size > maxOut)) return None
    val out = new FrameBuf(if (known) size.toInt + 16 else 1 << 12,
      maxOut)
    val st = new LzmaState(lc, lp, pb)
    val r = new RangeDec(data, 13, data.length)
    if (!r.ok) return None
    if (!lzmaDecode(r, st, out, 0, if (known) size.toInt else -1))
      return None
    // the stream must consume the whole file — trailing garbage after
    // the LZMA payload rejects (the repo-wide trailing-bytes rule:
    // Qoi, Msgpack, bzip2 all enforce it); EOS-terminated streams
    // must additionally land with a zeroed range code
    if (r.pos != data.length) return None
    if (!known && !r.finishedOk) return None
    Some(java.util.Arrays.copyOf(out.a, out.len))
  }

  /** Decode one RAW LZMA stream (the 7z coder shape): `props` is the
    * (pb·5+lp)·9+lc byte, the packed bytes live in [off, end), and
    * exactly `unpacked` bytes are produced into `out`. */
  private[operators] def lzmaRawDecode(b: Array[Byte], off: Int,
      end: Int, props: Int, out: FrameBuf, unpacked: Int): Boolean = {
    if (props >= 225 || unpacked < 0) return false
    val lc = props % 9
    val lp = (props / 9) % 5
    val pb = props / 45
    if (lc + lp > 4) return false
    val st = new LzmaState(lc, lp, pb)
    val r = new RangeDec(b, off, end)
    r.ok && lzmaDecode(r, st, out, out.len, unpacked)
  }

  // ---------------------------------------------------------------
  // XZ container
  // ---------------------------------------------------------------

  /** Decompress a .xz file (concatenated streams + padding allowed).
    * Every CRC the format defines is verified. None on anything
    * malformed, non-LZMA2 filter chains, or output beyond maxOut. */
  def decode(data: Array[Byte], maxOut: Int = 1 << 26): Option[Array[Byte]] = {
    if (data.isEmpty) return None
    val out = new FrameBuf(1 << 12, maxOut)
    var p = 0
    var sawStream = false
    while (p < data.length) {
      // stream padding: 4-byte aligned zero bytes between streams
      if (data(p) == 0) {
        var z = 0
        while (p < data.length && data(p) == 0) { p += 1; z += 1 }
        if (z % 4 != 0 || (p == data.length && !sawStream)) return None
        if (p == data.length) return Some(java.util.Arrays.copyOf(out.a, out.len))
      }
      p = decodeStream(data, p, out).getOrElse(return None)
      sawStream = true
    }
    if (sawStream) Some(java.util.Arrays.copyOf(out.a, out.len)) else None
  }

  private def decodeStream(data: Array[Byte], off: Int, out: FrameBuf)
      : Option[Int] = {
    var p = off
    if (p + 12 > data.length ||
      !isXz(java.util.Arrays.copyOfRange(data, p, p + 6))) return None
    val flagNull = data(p + 6)
    val check = data(p + 7) & 0xff
    if (flagNull != 0 || (check & 0xf0) != 0) return None
    val checkSize = check match {
      case 0 => 0
      case 1 => 4  // CRC32
      case 4 => 8  // CRC64
      case 10 => 32 // SHA-256
      case _ => return None // reserved/unsupported ids
    }
    if (crc32(data, p + 6, 2) != Bytes.le32u(data, p + 8)) return None
    p += 12
    // blocks until the index indicator (0x00)
    val records = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long)] // (unpaddedSize, uncompressedSize)
    var indexSeen = false
    while (!indexSeen) {
      if (p >= data.length) return None
      if (data(p) == 0) { indexSeen = true }
      else {
        val blockStart = p
        val hdrSizeByte = data(p) & 0xff
        val hdrSize = (hdrSizeByte + 1) * 4
        if (p + hdrSize > data.length) return None
        if (crc32(data, p, hdrSize - 4) != Bytes.le32u(data, p + hdrSize - 4))
          return None
        var q = p + 1
        val flags = data(q) & 0xff
        q += 1
        val nFilters = (flags & 3) + 1
        if ((flags & 0x3c) != 0) return None // reserved bits
        var compSize = -1L
        var uncompSize = -1L
        if ((flags & 0x40) != 0) {
          val (v, n) = readVarint(data, q, p + hdrSize).getOrElse(return None)
          compSize = v; q += n
        }
        if ((flags & 0x80) != 0) {
          val (v, n) = readVarint(data, q, p + hdrSize).getOrElse(return None)
          uncompSize = v; q += n
        }
        if (nFilters != 1) return None // only the lone-LZMA2 chain
        val (fid, n1) = readVarint(data, q, p + hdrSize).getOrElse(return None)
        q += n1
        if (fid != 0x21) return None // LZMA2
        val (propLen, n2) = readVarint(data, q, p + hdrSize)
          .getOrElse(return None)
        q += n2
        if (propLen != 1 || q >= p + hdrSize) return None
        val dictProp = data(q) & 0xff
        q += 1
        if (dictProp > 40) return None
        // header padding must be zero
        while (q < p + hdrSize - 4) {
          if (data(q) != 0) return None
          q += 1
        }
        p += hdrSize
        // compressed data
        val outBefore = out.len
        val consumed = lzma2Decode(data, p,
          if (compSize >= 0) math.min(p + compSize, data.length.toLong).toInt
          else data.length, out).getOrElse(return None)
        if (compSize >= 0 && consumed != compSize) return None
        val produced = out.len - outBefore
        if (uncompSize >= 0 && produced != uncompSize) return None
        p += consumed
        // block padding to 4
        while ((p - blockStart) % 4 != 0) {
          if (p >= data.length || data(p) != 0) return None
          p += 1
        }
        // check
        if (p + checkSize > data.length) return None
        check match {
          case 0 =>
          case 1 =>
            if (crc32(out.a, outBefore, produced) != Bytes.le32u(data, p))
              return None
          case 4 =>
            if (crc64(out.a, outBefore, produced) != Bytes.le64(data, p))
              return None
          case _ =>
            val md = java.security.MessageDigest.getInstance("SHA-256")
            md.update(out.a, outBefore, produced)
            val want = java.util.Arrays.copyOfRange(data, p, p + 32)
            if (!md.digest().sameElements(want)) return None
        }
        p += checkSize
        // unpadded size = header + compressed + check (NO padding)
        records += ((hdrSize.toLong + consumed + checkSize,
          produced.toLong))
      }
    }
    // ----- index
    val indexStart = p
    p += 1 // indicator
    val (cnt, nC) = readVarint(data, p, data.length).getOrElse(return None)
    p += nC
    if (cnt != records.length) return None
    var i = 0
    while (i < cnt) {
      val (us, n1) = readVarint(data, p, data.length).getOrElse(return None)
      p += n1
      val (un, n2) = readVarint(data, p, data.length).getOrElse(return None)
      p += n2
      if (us != records(i)._1 || un != records(i)._2) return None
      i += 1
    }
    while ((p - indexStart) % 4 != 0) {
      if (p >= data.length || data(p) != 0) return None
      p += 1
    }
    if (p + 4 > data.length) return None
    if (crc32(data, indexStart, p - indexStart) != Bytes.le32u(data, p)) return None
    p += 4
    val indexSize = p - indexStart
    // ----- footer: CRC32(backward+flags), backward size, flags, YZ
    if (p + 12 > data.length) return None
    val footCrc = Bytes.le32u(data, p)
    if (crc32(data, p + 4, 6) != footCrc) return None
    val backward = (Bytes.le32u(data, p + 4) + 1) * 4
    if (backward != indexSize) return None
    if (data(p + 8) != 0 || (data(p + 9) & 0xff) != check) return None
    if (data(p + 10) != 'Y' || data(p + 11) != 'Z') return None
    Some(p + 12)
  }

  // ---------------------------------------------------------------
  // Encoder: store shape (LZMA2 uncompressed chunks, CRC32 check)
  // ---------------------------------------------------------------

  /** Emit a valid .xz stream in store shape: one block (none for
    * empty input) whose LZMA2 sequence is uncompressed chunks, CRC32
    * integrity check. Any xz implementation reads it. */
  def encodeStore(data: Array[Byte]): Array[Byte] = {
    require(data.length <= (1 << 26), "xz encode bomb guard")
    val out = new java.io.ByteArrayOutputStream(data.length + 128)
    // stream header (check = CRC32)
    out.write(0xfd); out.write('7'); out.write('z'); out.write('X')
    out.write('Z'); out.write(0)
    val flags = Array[Byte](0, 1)
    out.write(flags)
    Bytes.putLe32(out, crc32(flags, 0, 2))
    var unpadded = 0L
    var nRecords = 0
    if (data.nonEmpty) {
      // block header: 1 filter (LZMA2, dict prop 16 -> 1 MiB), no
      // size fields, zero-padded to ×4, CRC32
      val bh = new java.io.ByteArrayOutputStream()
      bh.write(0) // size byte placeholder
      bh.write(0) // flags
      Bytes.putVarint(bh, 0x21)
      Bytes.putVarint(bh, 1)
      bh.write(16)
      while ((bh.size() + 4) % 4 != 0) bh.write(0)
      val bhArr = bh.toByteArray
      bhArr(0) = (((bhArr.length + 4) / 4) - 1).toByte
      out.write(bhArr)
      Bytes.putLe32(out, crc32(bhArr, 0, bhArr.length))
      // LZMA2 uncompressed chunks (max 64 KiB each; first resets dict)
      val body = new java.io.ByteArrayOutputStream()
      var off = 0
      var first = true
      while (off < data.length) {
        val n = math.min(1 << 16, data.length - off)
        body.write(if (first) 1 else 2)
        body.write(((n - 1) >>> 8) & 0xff)
        body.write((n - 1) & 0xff)
        body.write(data, off, n)
        off += n
        first = false
      }
      body.write(0) // end of LZMA2 sequence
      val bodyArr = body.toByteArray
      out.write(bodyArr)
      var padded = bhArr.length + 4 + bodyArr.length
      while (padded % 4 != 0) { out.write(0); padded += 1 }
      Bytes.putLe32(out, crc32(data, 0, data.length)) // the block check
      unpadded = (bhArr.length + 4 + bodyArr.length + 4).toLong
      nRecords = 1
    }
    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0)
    Bytes.putVarint(idx, nRecords.toLong)
    if (nRecords == 1) {
      Bytes.putVarint(idx, unpadded)
      Bytes.putVarint(idx, data.length.toLong)
    }
    while (idx.size() % 4 != 0) idx.write(0)
    val idxArr = idx.toByteArray
    out.write(idxArr)
    Bytes.putLe32(out, crc32(idxArr, 0, idxArr.length))
    // footer: CRC32(backward size + flags), backward size, flags, YZ
    val backward = (idxArr.length + 4) / 4 - 1
    val tail = new Array[Byte](6)
    Bytes.setLe32(tail, 0, backward)
    tail(4) = 0
    tail(5) = 1
    Bytes.putLe32(out, crc32(tail, 0, 6))
    out.write(tail)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }
}
