package graft.operators

/** LZ4 — the block format and the frame format (public specs
  * `lz4_Block_format.md` / `lz4_Frame_format.md` in the lz4 project),
  * plus the xxHash32 checksum the frame format carries. Pure-JVM,
  * both directions, entirely closed-form (the only constants are the
  * five spec'd xxHash primes and the frame magic).
  *
  * Training shards ship `.tar.lz4` in the wild because lz4 decodes
  * several GB/s — a shard-ingest engine must treat the wrapper as
  * transparently as gzip. Build side emits one independent-blocks
  * frame (64 KiB blocks, content size + content checksum present);
  * parse side accepts any legal frame: all block sizes, compressed
  * and stored blocks, optional block checksums, dict-ID, and VERIFIES
  * every checksum it meets — header HC, per-block xxh32, content
  * xxh32, content size. A failed check returns None (the Warc
  * malformed-input rule: drop, never invent).
  *
  * No reference analogue (north-star ingestion surface); validated by
  * differential tests against the lz4-java implementation Spark
  * bundles (both directions, block and frame level) plus spec test
  * vectors for xxh32. */
object Lz4 {

  // xxHash32 primes (XXH32 spec, xxhash.com).
  private final val P1 = 0x9E3779B1 // 2654435761
  private final val P2 = 0x85EBCA77 // 2246822519
  private final val P3 = 0xC2B2AE3D // 3266489917
  private final val P4 = 0x27D4EB2F // 668265263
  private final val P5 = 0x165667B1 // 374761393

  /** xxHash32 over `b[off, off+len)` — the frame format's checksum.
    * Pure Int arithmetic; wraparound is the spec's mod-2³²
    * behaviour. */
  def xxh32(b: Array[Byte], off: Int, len: Int, seed: Int): Int = {
    var p = off
    val end = off + len
    var h =
      if (len >= 16) {
        var a1 = seed + P1 + P2
        var a2 = seed + P2
        var a3 = seed
        var a4 = seed - P1
        val limit = end - 16
        while (p <= limit) {
          a1 = Integer.rotateLeft(a1 + Bytes.le32(b, p) * P2, 13) * P1
          a2 = Integer.rotateLeft(a2 + Bytes.le32(b, p + 4) * P2, 13) * P1
          a3 = Integer.rotateLeft(a3 + Bytes.le32(b, p + 8) * P2, 13) * P1
          a4 = Integer.rotateLeft(a4 + Bytes.le32(b, p + 12) * P2, 13) * P1
          p += 16
        }
        Integer.rotateLeft(a1, 1) + Integer.rotateLeft(a2, 7) +
          Integer.rotateLeft(a3, 12) + Integer.rotateLeft(a4, 18)
      } else seed + P5
    h += len
    while (p + 4 <= end) {
      h = Integer.rotateLeft(h + Bytes.le32(b, p) * P3, 17) * P4
      p += 4
    }
    while (p < end) {
      h = Integer.rotateLeft(h + (b(p) & 0xff) * P5, 11) * P1
      p += 1
    }
    h ^= h >>> 15; h *= P2
    h ^= h >>> 13; h *= P3
    h ^= h >>> 16
    h
  }

  // ---------------------------------------------------------------
  // Block format
  // ---------------------------------------------------------------

  /** Greedy block compressor: multiplicative hash over 4-byte
    * windows, 64 Ki-entry table, last-occurrence chains of length 1.
    * Honours the spec's end-of-block rules (a match never starts
    * within the final 12 bytes and never extends into the final 5),
    * so any conformant decoder — including lz4's wild-copy native
    * ones — reads the output safely. */
  def compressBlock(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 32)
    val n = src.length

    def writeLen(first: Int): Unit = { // 255-chunk length extension
      var v = first
      while (v >= 255) { out.write(255); v -= 255 }
      out.write(v)
    }
    def emit(anchor: Int, litEnd: Int, offset: Int, mlen: Int): Unit = {
      val ll = litEnd - anchor
      val tokLl = math.min(ll, 15)
      val tokMl = math.min(mlen - 4, 15)
      out.write((tokLl << 4) | tokMl)
      if (ll >= 15) writeLen(ll - 15)
      out.write(src, anchor, ll)
      out.write(offset & 0xff); out.write((offset >>> 8) & 0xff)
      if (mlen - 4 >= 15) writeLen(mlen - 4 - 15)
    }
    def emitLast(anchor: Int): Unit = {
      val ll = n - anchor
      out.write(math.min(ll, 15) << 4)
      if (ll >= 15) writeLen(ll - 15)
      out.write(src, anchor, ll)
    }

    if (n < 13) { emitLast(0); return out.toByteArray }
    val table = new Array[Int](1 << 16)
    java.util.Arrays.fill(table, -1)
    def hash(p: Int): Int = ((Bytes.le32(src, p) * P1) >>> 16) & 0xffff
    var anchor = 0
    var i = 0
    val mfLimit = n - 12 // last match starts >= 12 bytes before end
    val matchEndMax = n - 5 // last 5 bytes stay literals
    while (i < mfLimit) {
      val h = hash(i)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 && i - cand <= 0xffff &&
          Bytes.le32(src, cand) == Bytes.le32(src, i)) {
        var m = 4
        while (i + m < matchEndMax && src(cand + m) == src(i + m)) m += 1
        emit(anchor, i, i - cand, m)
        i += m
        anchor = i
      } else i += 1
    }
    emitLast(anchor)
    out.toByteArray
  }

  /** Decompress one block into `dst` (caller sizes it to the block
    * max); returns the decoded length, or -1 on any malformation —
    * offset 0, offset past the start, length overruns, truncation.
    * Never throws. */
  def decompressBlock(src: Array[Byte], soff: Int, slen: Int,
      dst: Array[Byte]): Int = {
    var s = soff
    val send = soff + slen
    if (send > src.length) return -1
    var d = 0
    while (s < send) {
      val token = src(s) & 0xff
      s += 1
      var ll = token >>> 4
      if (ll == 15) {
        var b = 255
        while (b == 255) {
          if (s >= send) return -1
          b = src(s) & 0xff; s += 1; ll += b
          if (ll < 0) return -1 // length-extension overflow
        }
      }
      if (s + ll > send || d + ll > dst.length) return -1
      System.arraycopy(src, s, dst, d, ll)
      s += ll; d += ll
      if (s == send) return d // final literals-only sequence
      if (s + 2 > send) return -1
      val offset = (src(s) & 0xff) | ((src(s + 1) & 0xff) << 8)
      s += 2
      if (offset == 0 || offset > d) return -1
      var ml = (token & 15) + 4
      if ((token & 15) == 15) {
        var b = 255
        while (b == 255) {
          if (s >= send) return -1
          b = src(s) & 0xff; s += 1; ml += b
          if (ml < 0) return -1
        }
      }
      if (d + ml > dst.length) return -1
      var k = 0 // byte-wise: overlapping copies replicate by design
      while (k < ml) { dst(d + k) = dst(d + k - offset); k += 1 }
      d += ml
    }
    d
  }

  // ---------------------------------------------------------------
  // Frame format
  // ---------------------------------------------------------------

  final val FrameMagic = 0x184D2204

  /** Frame magic sniff (`.lz4` files, `.tar.lz4` shards). */
  def isLz4(b: Array[Byte]): Boolean =
    b.length >= 4 && Bytes.le32(b, 0) == FrameMagic

  private final val BlockMax = Array(0, 0, 0, 0,
    1 << 16, 1 << 18, 1 << 20, 1 << 22) // BD block-maxsize table

  /** One independent-blocks frame: 64 KiB blocks, content size and
    * content checksum present, no block checksums (the lz4 CLI
    * default shape). Stored blocks are emitted whenever compression
    * does not shrink (the spec's highest-bit-set escape). */
  def frameCompress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    Bytes.putLe32(out, FrameMagic)
    val hdr = new Array[Byte](10)
    hdr(0) = ((1 << 6) | (1 << 5) | (1 << 3) | (1 << 2)).toByte // FLG:
    // version 01, B.Indep, C.Size, C.Checksum
    hdr(1) = (4 << 4).toByte // BD: 64 KiB block max
    Bytes.setLe64(hdr, 2, data.length) // content size u64 LE
    out.write(hdr, 0, 10)
    out.write((xxh32(hdr, 0, 10, 0) >>> 8) & 0xff) // HC
    var p = 0
    while (p < data.length) {
      val len = math.min(1 << 16, data.length - p)
      val chunk = java.util.Arrays.copyOfRange(data, p, p + len)
      val comp = compressBlock(chunk)
      if (comp.length < len) { Bytes.putLe32(out, comp.length); out.write(comp) }
      else { Bytes.putLe32(out, len | 0x80000000); out.write(chunk) } // stored
      p += len
    }
    Bytes.putLe32(out, 0) // EndMark
    Bytes.putLe32(out, xxh32(data, 0, data.length, 0)) // content checksum
    out.toByteArray
  }

  /** Decode a frame under the 2^28 decompression-bomb cap; None on
    * any malformation or failed checksum (header HC, per-block
    * xxh32 when flagged, content size, content checksum). Accepts
    * every legal header: all block sizes, dict-ID (noted, unusable
    * without the dictionary → None if blocks reference it — which
    * surfaces naturally as an offset error), optional fields in any
    * combination. Never throws. */
  def frameDecompress(data: Array[Byte]): Option[Array[Byte]] = {
    if (data.length < 7 || Bytes.le32(data, 0) != FrameMagic) return None
    val flg = data(4) & 0xff
    if ((flg >>> 6) != 1) return None // version must be 01
    if ((flg & 0x02) != 0) return None // reserved bit
    val blockChecksum = (flg & 0x10) != 0
    val hasSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val hasDict = (flg & 0x01) != 0
    val bd = data(5) & 0xff
    val bmax = BlockMax((bd >>> 4) & 7)
    if (bmax == 0 || (bd & 0x8f) != 0) return None // reserved bits
    var p = 6
    var contentSize = -1L
    if (hasSize) {
      if (p + 8 > data.length) return None
      contentSize = Bytes.le64(data, p)
      p += 8
    }
    if (hasDict) p += 4 // dict-ID noted; blocks that need it fail below
    if (p + 1 > data.length) return None
    val hc = (xxh32(data, 4, p - 4, 0) >>> 8) & 0xff
    if ((data(p) & 0xff) != hc) return None
    p += 1
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](bmax)
    var done = false
    while (!done) {
      if (p + 4 > data.length) return None
      val word = Bytes.le32(data, p)
      p += 4
      if (word == 0) done = true
      else {
        val stored = (word & 0x80000000) != 0
        val blen = word & 0x7fffffff
        if (blen > bmax || p + blen > data.length) return None
        if (blockChecksum) {
          if (p + blen + 4 > data.length) return None
          if (Bytes.le32(data, p + blen) != xxh32(data, p, blen, 0)) return None
        }
        if (stored) out.write(data, p, blen)
        else {
          val n = decompressBlock(data, p, blen, buf)
          if (n < 0) return None
          out.write(buf, 0, n)
        }
        p += blen + (if (blockChecksum) 4 else 0)
        if (out.size() > (1 << 28)) return None // bomb guard
      }
    }
    val res = out.toByteArray
    if (contentSize >= 0 && res.length != contentSize) return None
    if (contentChecksum) {
      if (p + 4 > data.length) return None
      if (Bytes.le32(data, p) != xxh32(res, 0, res.length, 0)) return None
    }
    Some(res)
  }
}
