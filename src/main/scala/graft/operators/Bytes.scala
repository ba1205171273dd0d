package graft.operators

import java.io.ByteArrayOutputStream

/** The byte-level primitives the codecs share: fixed-width little- and
  * big-endian readers over `(Array[Byte], offset)`, writers to a
  * `ByteArrayOutputStream` or into an array, LEB128 varints on a
  * [[Cursor]], zigzag, an MSB-first [[BitReader]]/[[BitWriter]] pair
  * and the MSB-first CRC-32 table for polynomial 0x04C11DB7.
  *
  * Readers do no bounds check: each caller checks the range against its
  * own limit and rejects malformed input there. Cursors and the bit
  * reader instead latch a failure flag: once set it stays set, and every
  * later read returns 0 without touching the input. */
object Bytes {

  // ── fixed-width readers ─────────────────────────────────────────

  /** Unsigned 16-bit little-endian. */
  @inline def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)

  @inline def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | (b(o + 3) << 24)

  /** Unsigned 32-bit little-endian. */
  @inline def le32u(b: Array[Byte], o: Int): Long = le32(b, o) & 0xffffffffL

  @inline def le64(b: Array[Byte], o: Int): Long =
    le32u(b, o) | (le32(b, o + 4).toLong << 32)

  /** Unsigned 16-bit big-endian. */
  @inline def be16(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

  @inline def be32(b: Array[Byte], o: Int): Int =
    (b(o) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)

  /** Unsigned 32-bit big-endian. */
  @inline def be32u(b: Array[Byte], o: Int): Long = be32(b, o) & 0xffffffffL

  @inline def be64(b: Array[Byte], o: Int): Long =
    (be32(b, o).toLong << 32) | be32u(b, o + 4)

  // ── fixed-width writers (the low bytes of `v`) ──────────────────

  def putLe16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v); out.write(v >> 8)
  }

  def putLe32(out: ByteArrayOutputStream, v: Long): Unit = {
    val x = v.toInt
    out.write(x); out.write(x >> 8); out.write(x >> 16); out.write(x >> 24)
  }

  def putLe64(out: ByteArrayOutputStream, v: Long): Unit = {
    putLe32(out, v); putLe32(out, v >>> 32)
  }

  def putBe16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v >> 8); out.write(v)
  }

  def putBe32(out: ByteArrayOutputStream, v: Long): Unit = {
    val x = v.toInt
    out.write(x >> 24); out.write(x >> 16); out.write(x >> 8); out.write(x)
  }

  def putBe64(out: ByteArrayOutputStream, v: Long): Unit = {
    putBe32(out, v >>> 32); putBe32(out, v)
  }

  /** In-place writers for fields patched into a built buffer. */
  def setLe32(b: Array[Byte], o: Int, v: Long): Unit = {
    var i = 0
    while (i < 4) { b(o + i) = (v >>> (8 * i)).toByte; i += 1 }
  }

  def setLe64(b: Array[Byte], o: Int, v: Long): Unit = {
    setLe32(b, o, v); setLe32(b, o + 4, v >>> 32)
  }

  def setBe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >> 8).toByte; b(o + 1) = v.toByte
  }

  def setBe32(b: Array[Byte], o: Int, v: Long): Unit = {
    setBe16(b, o, (v >>> 16).toInt); setBe16(b, o + 2, v.toInt)
  }

  // ── LEB128 varints and zigzag ───────────────────────────────────

  /** Unsigned LEB128, 1-10 bytes. */
  def putVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  @inline def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  /** Read cursor over `b(p until end)`. `ok` turns false on the first
    * read past `end` or malformed varint (or a caller's [[fail]]) and
    * stays false; from then on every read returns 0. */
  class Cursor(val b: Array[Byte], var p: Int, val end: Int) {
    def this(b: Array[Byte]) = this(b, 0, b.length)
    private[this] var bad = false
    final def ok: Boolean = !bad
    final def fail(): Unit = bad = true

    /** Start of the next `n` bytes, now consumed; −1 past `end`. */
    private[this] def claim(n: Int): Int =
      if (bad || end - p < n) { bad = true; -1 } else { p += n; p - n }

    final def u8(): Int = { val o = claim(1); if (o < 0) 0 else b(o) & 0xff }
    /** Unsigned. */
    final def le16(): Int = { val o = claim(2); if (o < 0) 0 else Bytes.le16(b, o) }
    final def le32(): Int = { val o = claim(4); if (o < 0) 0 else Bytes.le32(b, o) }
    /** Unsigned. */
    final def le32u(): Long = le32() & 0xffffffffL
    final def le64(): Long = { val o = claim(8); if (o < 0) 0L else Bytes.le64(b, o) }

    /** Unsigned LEB128 of at most `maxBytes` bytes; 10 is the 64-bit
      * ceiling, and formats with a tighter one pass it. */
    final def varint(maxBytes: Int = 10): Long = {
      val maxShift = 7 * (maxBytes - 1)
      var v = 0L
      var shift = 0
      while (!bad) {
        if (p >= end || shift > maxShift) bad = true
        else {
          val x = b(p)
          p += 1
          v |= (x & 0x7fL) << shift
          if (x >= 0) return v
          shift += 7
        }
      }
      0L
    }
  }

  // ── MSB-first bit I/O ───────────────────────────────────────────

  /** MSB-first bit reader over `b(start until end)`; `ok` latches as
    * in [[Cursor]], and a read that would pass `end` consumes nothing. */
  final class BitReader(b: Array[Byte], start: Int, end: Int) {
    def this(b: Array[Byte], start: Int) = this(b, start, b.length)
    def this(b: Array[Byte]) = this(b, 0, b.length)
    private[this] var next = start // next byte to buffer
    private[this] var acc = 0L     // buffered bits, the low `n` valid
    private[this] var n = 0
    private[this] val limit = end.toLong * 8
    private[this] var bad = false
    def ok: Boolean = !bad
    def fail(): Unit = bad = true
    /** Bits consumed from the start of `b`. */
    def bitPos: Long = next.toLong * 8 - n

    /** The next `k` bits (0 ≤ k ≤ 32), high bit first; k = 32 gives
      * the signed Int. */
    def bits(k: Int): Int =
      if (bad || bitPos + k > limit) { bad = true; 0 }
      else {
        while (n < k) { acc = (acc << 8) | (b(next) & 0xff); next += 1; n += 8 }
        n -= k
        ((acc >>> n) & ((1L << k) - 1)).toInt
      }

    /** The next `k` bits (0 ≤ k ≤ 64) as an unsigned value. */
    def read(k: Int): Long =
      if (k <= 32) bits(k) & 0xffffffffL
      else if (bad || bitPos + k > limit) { bad = true; 0L }
      else ((bits(k - 32) & 0xffffffffL) << 32) | (bits(32) & 0xffffffffL)
  }

  /** MSB-first bit writer; the last byte is zero-padded. */
  final class BitWriter {
    private[this] val out = new ByteArrayOutputStream()
    private[this] var acc = 0L
    private[this] var n = 0

    /** The low `bits` bits of `v` (0 ≤ bits ≤ 64), high bit first. */
    def write(v: Long, bits: Int): Unit =
      if (bits > 32) { write(v >>> 32, bits - 32); write(v, 32) }
      else {
        acc = (acc << bits) | (v & ((1L << bits) - 1))
        n += bits
        while (n >= 8) { n -= 8; out.write((acc >>> n).toInt) }
      }

    /** Zero-pad to the next byte boundary. */
    def align(): Unit = if (n > 0) write(0, 8 - n)
    def toByteArray: Array[Byte] = { align(); out.toByteArray }
  }

  // ── CRC-32, MSB-first, polynomial 0x04C11DB7 ────────────────────

  private[this] val Crc32Table: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var c = i << 24
      var k = 0
      while (k < 8) { c = if (c < 0) (c << 1) ^ 0x04c11db7 else c << 1; k += 1 }
      t(i) = c
      i += 1
    }
    t
  }

  /** One byte into an MSB-first CRC-32 register; callers apply their
    * own init and xorout. */
  @inline def crc32Msb(crc: Int, x: Int): Int =
    (crc << 8) ^ Crc32Table(((crc >>> 24) ^ x) & 0xff)

  def crc32Msb(crc: Int, b: Array[Byte], off: Int, len: Int): Int = {
    var c = crc
    var i = off
    while (i < off + len) {
      c = (c << 8) ^ Crc32Table(((c >>> 24) ^ b(i)) & 0xff); i += 1
    }
    c
  }
}
