package graft.operators

/** Roaring bitmaps (the public RoaringFormatSpec portable format)
  * plus Delta Lake's 64-bit envelope — the serialization DELETION
  * VECTORS ship in (delta-io PROTOCOL.md "Deletion Vectors"): a
  * reader-version-3 delta table masks deleted rows per data file
  * with one of these, so reading modern lakehouse tables honestly
  * requires decoding them for real. Pure-JVM, both directions:
  *
  *  - [[parse]]/[[serialize]]: one 32-bit roaring bitmap in the
  *    portable format — cookie 12346 (no run containers; container
  *    count in the next u32) or 12347 (run-flag bitset, count in
  *    the cookie's high 16 bits, offset table only at ≥ 4
  *    containers), u16 key + u16 cardinality-1 descriptive pairs,
  *    then array (u16 values), bitmap (1024 u64) or run
  *    (u16 count + start/length-1 pairs) containers in key order.
  *    The writer emits array/bitmap containers under cookie 12346
  *    (the shape the bundled library and delta both accept);
  *    the reader takes all three container kinds. Validation is
  *    DIFFERENTIAL: RoaringSpec round-trips through the
  *    independently-bundled org.roaringbitmap library in both
  *    directions, including its run-optimized output.
  *  - [[parseArray]]/[[serializeArray]]: Delta's RoaringBitmapArray
  *    "portable" envelope — u32 LE magic 1681511377, u64 LE bitmap
  *    count, then one portable bitmap per 32-bit "high" index; a
  *    64-bit member v lives in bitmap (v >>> 32) at value
  *    (v & 0xffffffff). Sparse high indexes are materialized as
  *    empty bitmaps (the envelope is an ARRAY, not a map).
  *  - [[z85Encode]]/[[z85Decode]]: the ZeroMQ Z85 alphabet delta
  *    uses for inline DVs and DV-file UUID path suffixes (4 bytes ↔
  *    5 chars, big-endian base 85).
  *  - [[wrapDvFile]]/[[readDvFile]]: the on-disk deletion-vector
  *    blob — format-version byte 1, then per DV a u32 BIG-ENDIAN
  *    size, the RoaringBitmapArray bytes, and a u32 BIG-ENDIAN
  *    CRC-32 of the data (verified on read).
  *
  * None on any malformation — drop, never invent. */
object Roaring {

  private final val CookieRuns = 12347
  private final val CookieNoRuns = 12346
  private final val NoOffsetThreshold = 4
  private final val ArrayMax = 4096
  final val ArrayMagic = 1681511377

  /** One decoded 32-bit bitmap: sorted distinct unsigned values. */
  final case class Bitmap(values: Array[Long]) {
    def cardinality: Int = values.length
    def contains(v: Long): Boolean =
      java.util.Arrays.binarySearch(values, v) >= 0
  }

  // ---------------------------------------------------------------
  // Portable 32-bit bitmap
  // ---------------------------------------------------------------

  private final class Cur(d: Array[Byte], start: Int)
      extends Bytes.Cursor(d, start, d.length)

  /** Parse one portable bitmap starting at `off`; returns the
    * bitmap and the byte length consumed. */
  def parse(data: Array[Byte], off: Int = 0)
      : Option[(Bitmap, Int)] = {
    val c = new Cur(data, off)
    val cookie = c.le32u()
    if (!c.ok) return None
    val (size, runFlags): (Int, Array[Boolean]) =
      if ((cookie & 0xffff) == CookieRuns) {
        val n = ((cookie >>> 16) + 1).toInt
        if (n < 0 || n > 65536) return None
        val flags = new Array[Boolean](n)
        var i = 0
        while (i < n) {
          val b = if (i % 8 == 0) c.u8() else (c.b(c.p - 1) & 0xff)
          flags(i) = ((b >>> (i % 8)) & 1) == 1
          i += 1
        }
        (n, flags)
      } else if (cookie == CookieNoRuns) {
        val n = c.le32u()
        if (n < 0 || n > 65536) return None
        (n.toInt, new Array[Boolean](n.toInt))
      } else return None
    if (!c.ok) return None
    val keys = new Array[Int](size)
    val cards = new Array[Int](size)
    var i = 0
    while (i < size) {
      keys(i) = c.le16()
      cards(i) = c.le16() + 1
      if (i > 0 && keys(i) <= keys(i - 1)) return None // key order
      i += 1
    }
    // offset table: always under cookie 12347; under 12346 only at
    // >= 4 containers. Offsets are validated implicitly by the
    // sequential walk (they must match, per spec, container order).
    val hasOffsets = cookie == CookieNoRuns ||
      size >= NoOffsetThreshold
    if (hasOffsets) { var j = 0; while (j < size) { c.le32u(): Unit
      j += 1 } }
    if (!c.ok) return None
    val out = Array.newBuilder[Long]
    i = 0
    while (i < size) {
      val base = keys(i).toLong << 16
      if (runFlags(i)) {
        val nRuns = c.le16()
        if (!c.ok) return None
        var r = 0
        var prevEnd = -1L
        while (r < nRuns) {
          val start = c.le16()
          val len = c.le16()
          if (!c.ok) return None
          if (start <= prevEnd) return None // overlapping runs
          var v = start
          while (v <= start + len) { out += base | v; v += 1 }
          prevEnd = start + len
          r += 1
        }
      } else if (cards(i) <= ArrayMax) {
        var j = 0
        var prev = -1
        while (j < cards(i)) {
          val v = c.le16()
          if (!c.ok) return None
          if (v <= prev) return None // sorted distinct
          out += base | v
          prev = v
          j += 1
        }
      } else { // bitmap container: 1024 u64 LE
        var w = 0
        while (w < 1024) {
          val word = c.le64()
          if (!c.ok) return None
          var b = 0
          while (b < 64) {
            if (((word >>> b) & 1L) == 1L)
              out += base | (w * 64 + b).toLong
            b += 1
          }
          w += 1
        }
      }
      i += 1
    }
    if (!c.ok) return None
    val values = out.result()
    // cardinality must match the descriptive headers
    if (values.length != cards.sum) return None
    Some((Bitmap(values), c.p - off))
  }

  /** Serialize sorted-distinct unsigned-32 values (as Longs) in the
    * portable format, cookie 12347, array/bitmap containers. */
  def serialize(values: Array[Long]): Array[Byte] = {
    var i = 0
    while (i < values.length) {
      require(values(i) >= 0 && values(i) <= 0xffffffffL,
        s"value out of u32 range: ${values(i)}")
      require(i == 0 || values(i) > values(i - 1),
        "values must be sorted distinct")
      i += 1
    }
    // group by high-16 key
    val groups = Seq.newBuilder[(Int, Array[Int])]
    i = 0
    while (i < values.length) {
      val key = (values(i) >>> 16).toInt
      val g = Array.newBuilder[Int]
      while (i < values.length && (values(i) >>> 16).toInt == key) {
        g += (values(i) & 0xffff).toInt
        i += 1
      }
      groups += ((key, g.result()))
    }
    val gs = groups.result()
    val out = new java.io.ByteArrayOutputStream(64)
    Bytes.putLe32(out, CookieNoRuns)
    Bytes.putLe32(out, gs.length)
    gs.foreach { case (k, vs) =>
      Bytes.putLe16(out, k); Bytes.putLe16(out, vs.length - 1)
    }
    // offset table (from the start of the serialization)
    var off = 4 + 4 + 4 * gs.length + 4 * gs.length
    gs.foreach { case (_, vs) =>
      Bytes.putLe32(out, off)
      off += (if (vs.length <= ArrayMax) 2 * vs.length else 8192)
    }
    gs.foreach { case (_, vs) =>
      if (vs.length <= ArrayMax) vs.foreach(Bytes.putLe16(out, _))
      else {
        val words = new Array[Long](1024)
        vs.foreach(v => words(v >>> 6) |= (1L << (v & 63)))
        words.foreach(Bytes.putLe64(out, _))
      }
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Delta's RoaringBitmapArray envelope (64-bit)
  // ---------------------------------------------------------------

  /** 64-bit membership structure: bitmaps(i) covers values with
    * high word i. */
  final case class Bitmap64(bitmaps: IndexedSeq[Bitmap]) {
    def contains(v: Long): Boolean = {
      val hi = (v >>> 32).toInt
      v >= 0 && hi < bitmaps.length &&
        bitmaps(hi).contains(v & 0xffffffffL)
    }
    def cardinality: Long = bitmaps.map(_.cardinality.toLong).sum
  }

  def parseArray(data: Array[Byte]): Option[Bitmap64] = {
    val c = new Cur(data, 0)
    if (c.le32u() != ArrayMagic.toLong || !c.ok) return None
    val n = c.le64()
    if (!c.ok || n < 0 || n > (1 << 20)) return None
    val maps = IndexedSeq.newBuilder[Bitmap]
    var i = 0L
    var p = c.p
    while (i < n) {
      val (bm, len) = parse(data, p).getOrElse(return None)
      maps += bm
      p += len
      i += 1
    }
    if (p != data.length) return None // trailing bytes
    Some(Bitmap64(maps.result()))
  }

  /** Serialize sorted-distinct non-negative 64-bit members. */
  def serializeArray(values: Array[Long]): Array[Byte] = {
    var i = 0
    while (i < values.length) {
      require(values(i) >= 0, "negative member")
      require(i == 0 || values(i) > values(i - 1),
        "values must be sorted distinct")
      i += 1
    }
    val nMaps = if (values.isEmpty) 0L
      else (values.last >>> 32) + 1
    val out = new java.io.ByteArrayOutputStream(64)
    Bytes.putLe32(out, ArrayMagic)
    Bytes.putLe64(out, nMaps)
    var hi = 0L
    i = 0
    while (hi < nMaps) {
      val g = Array.newBuilder[Long]
      while (i < values.length && (values(i) >>> 32) == hi) {
        g += values(i) & 0xffffffffL
        i += 1
      }
      val bytes = serialize(g.result())
      out.write(bytes, 0, bytes.length)
      hi += 1
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // The RoaringFormatSpec 64-bit PORTABLE extension (what Iceberg
  // v3 deletion vectors ship inside puffin blobs): u64 LE count of
  // non-empty 32-bit buckets, then per bucket a u32 LE high key +
  // the standard 32-bit portable serialization. Unlike Delta's
  // envelope this is a sparse MAP (only non-empty keys appear).
  // ---------------------------------------------------------------

  /** Parse at `off`; returns (sorted member values, bytes
    * consumed). Caps total cardinality (bomb guard). */
  def parsePortable64(data: Array[Byte], off: Int)
      : Option[(Array[Long], Int)] = {
    val c = new Cur(data, off)
    val n = c.le64()
    if (!c.ok || n < 0 || n > (1 << 20)) return None
    val out = Array.newBuilder[Long]
    var total = 0L
    var p = c.p
    var i = 0L
    var prevKey = -1L
    while (i < n) {
      if (p + 4 > data.length) return None
      val key = Bytes.le32u(data, p)
      if (key <= prevKey) return None // keys ascending, distinct
      prevKey = key
      p += 4
      val (bm, len) = parse(data, p).getOrElse(return None)
      total += bm.cardinality
      if (total > (1L << 26)) return None
      bm.values.foreach(v => out += (key << 32) | v)
      p += len
      i += 1
    }
    Some((out.result(), p - off))
  }

  /** Serialize sorted-distinct non-negative members in the 64-bit
    * portable format. */
  def serializePortable64(values: Array[Long]): Array[Byte] = {
    var i = 0
    while (i < values.length) {
      require(values(i) >= 0, "negative member")
      require(i == 0 || values(i) > values(i - 1),
        "values must be sorted distinct")
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream(64)
    val keys = values.map(_ >>> 32).distinct
    Bytes.putLe64(out, keys.length)
    i = 0
    keys.foreach { key =>
      Bytes.putLe32(out, key)
      val g = Array.newBuilder[Long]
      while (i < values.length && (values(i) >>> 32) == key) {
        g += values(i) & 0xffffffffL
        i += 1
      }
      val bytes = serialize(g.result())
      out.write(bytes, 0, bytes.length)
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Z85 (ZeroMQ spec 32) — delta's inline/UUID base85
  // ---------------------------------------------------------------

  private final val Z85 =
    "0123456789abcdefghijklmnopqrstuvwxyz" +
      "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
  private final val Z85Inv: Array[Int] = {
    val inv = Array.fill(128)(-1)
    Z85.zipWithIndex.foreach { case (ch, i) => inv(ch.toInt) = i }
    inv
  }

  def z85Encode(data: Array[Byte]): String = {
    require(data.length % 4 == 0, "z85 needs 4-byte groups")
    val sb = new StringBuilder(data.length / 4 * 5)
    var i = 0
    while (i < data.length) {
      var v = 0L
      var j = 0
      while (j < 4) { v = (v << 8) | (data(i + j) & 0xffL); j += 1 }
      var k = 4
      val chunk = new Array[Char](5)
      while (k >= 0) { chunk(k) = Z85((v % 85).toInt); v /= 85
        k -= 1 }
      sb.appendAll(chunk)
      i += 4
    }
    sb.toString
  }

  def z85Decode(s: String): Option[Array[Byte]] = {
    if (s.length % 5 != 0) return None
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    var o = 0
    while (i < s.length) {
      var v = 0L
      var j = 0
      while (j < 5) {
        val ch = s.charAt(i + j).toInt
        if (ch >= 128 || Z85Inv(ch) < 0) return None
        v = v * 85 + Z85Inv(ch)
        j += 1
      }
      if (v > 0xffffffffL) return None
      var k = 3
      while (k >= 0) { out(o + k) = (v & 0xff).toByte; v >>>= 8
        k -= 1 }
      i += 5; o += 4
    }
    Some(out)
  }

  // ---------------------------------------------------------------
  // DV file blob (PROTOCOL.md deletion-vector file format)
  // ---------------------------------------------------------------

  /** Wrap one serialized RoaringBitmapArray as a DV file: version
    * byte 1, u32 BE size, data, u32 BE CRC-32. Returns (bytes,
    * offsetOfSizeField). */
  def wrapDvFile(data: Array[Byte]): (Array[Byte], Int) = {
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    val out = new java.io.ByteArrayOutputStream(data.length + 9)
    out.write(1)
    Bytes.putBe32(out, data.length)
    out.write(data, 0, data.length)
    Bytes.putBe32(out, crc.getValue)
    (out.toByteArray, 1)
  }

  /** Read one DV back from a DV file at `offset` (points at the
    * u32 BE size field); size must equal the descriptor's
    * sizeInBytes and the CRC must verify. */
  def readDvFile(file: Array[Byte], offset: Int, sizeInBytes: Int)
      : Option[Bitmap64] = {
    if (file.isEmpty || file(0) != 1) return None // format version
    if (offset < 1 || offset + 4 > file.length) return None
    val sz = Bytes.be32u(file, offset)
    if (sz != sizeInBytes) return None
    val dataOff = offset + 4
    if (dataOff + sz + 4 > file.length) return None
    val data = java.util.Arrays.copyOfRange(file, dataOff,
      dataOff + sz.toInt)
    val crc = new java.util.zip.CRC32()
    crc.update(data)
    if (crc.getValue != Bytes.be32u(file, dataOff + sz.toInt)) return None
    parseArray(data)
  }
}
