package graft.operators

/** Snappy — the raw block format (`format_description.txt`) and the
  * framing format (`framing_format.txt`), both public specs in the
  * google/snappy project. Pure-JVM, both directions, entirely
  * closed-form: varint preamble, 2-bit-tagged literal/copy elements,
  * and for frames the masked CRC-32C (Castagnoli via the JDK's
  * `java.util.zip.CRC32C`, same masking as TFRecord's
  * `rot_right_15 + 0xa282ead8`).
  *
  * Snappy is the wrapper Hadoop-adjacent shard pipelines emit
  * (`.snappy` framed files, parquet/avro internal blocks) — an
  * ingest engine must see through it like gzip. Parse VERIFIES every
  * chunk CRC and every copy's back-reference bound; malformation
  * returns None (drop, never invent). Decode carries the 2^28
  * decompression-bomb cap.
  *
  * No reference analogue (north-star ingestion surface); validated by
  * differential tests against the snappy-java implementation Spark
  * bundles (both directions, raw and framed). */
object SnappyCodec {

  // ---------------------------------------------------------------
  // Raw block format
  // ---------------------------------------------------------------

  /** Greedy raw compressor: varint uncompressed length, then literal
    * runs broken by 2-byte-offset copies found through a 64 Ki-entry
    * multiplicative hash of 4-byte windows. Matches are capped at 64
    * bytes per copy element (the format's tag limit) and offsets at
    * 65535 (the 2-byte field); longer matches emit consecutive
    * copies, exactly how the reference encoder behaves. */
  def compress(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length / 2 + 16)
    Bytes.putVarint(out, src.length) // varint preamble

    def emitLiteral(from: Int, until: Int): Unit = {
      var p = from
      while (p < until) {
        val len = math.min(until - p, 65536) // 4-extra-byte tag max is 2^32
        val lm1 = len - 1
        if (lm1 < 60) out.write(lm1 << 2)
        else if (lm1 < 256) { out.write(60 << 2); out.write(lm1) }
        else { out.write(61 << 2); out.write(lm1 & 0xff); out.write(lm1 >>> 8) }
        out.write(src, p, len)
        p += len
      }
    }
    def emitCopy(offset: Int, len: Int): Unit = { // 2-byte-offset form
      out.write(((len - 1) << 2) | 1 << 1) // tag type 10
      out.write(offset & 0xff); out.write(offset >>> 8)
    }

    val n = src.length
    if (n < 4) { emitLiteral(0, n); return out.toByteArray }
    val table = new Array[Int](1 << 16)
    java.util.Arrays.fill(table, -1)
    def hash(p: Int): Int = ((Bytes.le32(src, p) * 0x9E3779B1) >>> 16) & 0xffff
    var anchor = 0
    var i = 0
    while (i + 4 <= n) {
      val h = hash(i)
      val cand = table(h)
      table(h) = i
      if (cand >= 0 && i - cand <= 0xffff &&
          Bytes.le32(src, cand) == Bytes.le32(src, i)) {
        var m = 4
        while (i + m < n && src(cand + m) == src(i + m)) m += 1
        emitLiteral(anchor, i)
        val offset = i - cand
        var left = m
        while (left > 64) { emitCopy(offset, 64); left -= 64 }
        emitCopy(offset, left)
        i += m
        anchor = i
      } else i += 1
    }
    emitLiteral(anchor, n)
    out.toByteArray
  }

  /** Decompress a raw block; None on malformation — varint overrun,
    * copy offset 0 or past the start, length overruns, output
    * disagreeing with the preamble, or preamble past the 2^28 bomb
    * cap. Never throws. */
  def decompress(src: Array[Byte]): Option[Array[Byte]] = {
    val pre = new Bytes.Cursor(src)
    val expect = pre.varint(5)
    if (!pre.ok) return None
    var p = pre.p
    if (expect > (1 << 28)) return None // bomb guard
    val dst = new Array[Byte](expect.toInt)
    var d = 0
    while (p < src.length) {
      val tag = src(p) & 0xff
      p += 1
      (tag & 3) match {
        case 0 => // literal
          var len = (tag >>> 2) + 1
          if (len > 60) {
            val extra = len - 60 // 1..4 length bytes
            if (p + extra > src.length) return None
            len = 0
            var k = extra - 1
            while (k >= 0) { len = (len << 8) | (src(p + k) & 0xff); k -= 1 }
            len += 1
            p += extra
          }
          if (len <= 0 || p + len > src.length || d + len > dst.length)
            return None
          System.arraycopy(src, p, dst, d, len)
          p += len; d += len
        case c => // copy
          var len = 0
          var offset = 0
          if (c == 1) {
            if (p + 1 > src.length) return None
            len = 4 + ((tag >>> 2) & 7)
            offset = ((tag >>> 5) << 8) | (src(p) & 0xff)
            p += 1
          } else if (c == 2) {
            if (p + 2 > src.length) return None
            len = (tag >>> 2) + 1
            offset = (src(p) & 0xff) | ((src(p + 1) & 0xff) << 8)
            p += 2
          } else {
            if (p + 4 > src.length) return None
            len = (tag >>> 2) + 1
            offset = Bytes.le32(src, p)
            p += 4
          }
          if (offset <= 0 || offset > d || d + len > dst.length) return None
          var k = 0 // byte-wise: overlapping copies replicate
          while (k < len) { dst(d + k) = dst(d + k - offset); k += 1 }
          d += len
      }
    }
    if (d != dst.length) None else Some(dst)
  }

  // ---------------------------------------------------------------
  // Framing format
  // ---------------------------------------------------------------

  private final val MaskDelta = 0xa282ead8L

  private def maskedCrc(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(b, off, len)
    val x = c.getValue
    (((x >>> 15) | (x << 17)) + MaskDelta) & 0xffffffffL
  }

  /** The framing format's stream identifier chunk. */
  private final val StreamId: Array[Byte] =
    Array[Byte](0xff.toByte, 6, 0, 0, 's', 'N', 'a', 'P', 'p', 'Y')

  /** `.snappy` framed-file sniff. */
  def isFramed(b: Array[Byte]): Boolean =
    b.length >= 10 && (0 until 10).forall(i => b(i) == StreamId(i))

  /** Frame a payload: stream identifier, then 65 536-byte-max chunks,
    * each compressed (type 0x00) when that shrinks it and stored
    * (type 0x01) otherwise, each carrying the masked CRC-32C of the
    * UNCOMPRESSED chunk data. */
  def frameCompress(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    out.write(StreamId, 0, StreamId.length)
    var p = 0
    // A zero-length input still frames legally: just the stream id.
    while (p < data.length) {
      val len = math.min(1 << 16, data.length - p)
      val crc = maskedCrc(data, p, len)
      val chunk = java.util.Arrays.copyOfRange(data, p, p + len)
      val comp = compress(chunk)
      val (ty, body) = if (comp.length < len) (0x00, comp) else (0x01, chunk)
      val clen = body.length + 4
      out.write(ty)
      out.write(clen & 0xff); out.write((clen >>> 8) & 0xff)
      out.write((clen >>> 16) & 0xff)
      Bytes.putLe32(out, crc)
      out.write(body, 0, body.length)
      p += len
    }
    out.toByteArray
  }

  /** Unframe: verify the stream identifier, walk chunks, verify every
    * CRC, skip skippable chunk types (0x80–0xfe), reject unskippable
    * unknown types (0x02–0x7f) per spec. None on any malformation or
    * the 2^28 bomb cap. Never throws. */
  def frameDecompress(data: Array[Byte]): Option[Array[Byte]] = {
    if (!isFramed(data)) return None
    val out = new java.io.ByteArrayOutputStream()
    var p = StreamId.length
    while (p < data.length) {
      if (p + 4 > data.length) return None
      val ty = data(p) & 0xff
      val len = (data(p + 1) & 0xff) | ((data(p + 2) & 0xff) << 8) |
        ((data(p + 3) & 0xff) << 16)
      p += 4
      if (p + len > data.length) return None
      ty match {
        case 0x00 | 0x01 => // compressed / uncompressed data
          if (len < 4) return None
          val crc = Bytes.le32u(data, p)
          val payload =
            if (ty == 0x01)
              Some(java.util.Arrays.copyOfRange(data, p + 4, p + len))
            else
              decompress(java.util.Arrays.copyOfRange(data, p + 4, p + len))
          payload match {
            case Some(raw) =>
              if (raw.length > (1 << 16)) return None // chunk-size cap
              if (maskedCrc(raw, 0, raw.length) != crc) return None
              out.write(raw, 0, raw.length)
              if (out.size() > (1 << 28)) return None // bomb guard
            case None => return None
          }
        case 0xff => // repeated stream identifier: legal, re-verify
          if (len != 6 ||
              !(0 until 6).forall(i => data(p + i) == StreamId(4 + i)))
            return None
        case t if t >= 0x80 => // skippable
        case _ => return None // unskippable unknown chunk
      }
      p += len
    }
    Some(out.toByteArray)
  }
}
