package graft.operators

/** BSON (the public spec at bsonspec.org, version 1.1) — MongoDB's
  * wire/dump format; real-world corpora exported with `mongodump`
  * arrive as streams of BSON documents, so an ingest engine needs
  * the document walk natively. Pure-JVM, both directions:
  *
  *  - [[encode]] writes the canonical driver layout: documents as
  *    `int32 total-length + elements + 0x00`, arrays as embedded
  *    documents with decimal index keys "0".."n-1", strings as
  *    `int32 length (incl. NUL) + UTF-8 + 0x00`, all integers
  *    little-endian.
  *  - [[decode]] reads every spec element type: double (0x01),
  *    string (0x02), document (0x03), array (0x04), binary with
  *    subtype (0x05), undefined (0x06, deprecated but present in
  *    old dumps), ObjectId (0x07), bool (0x08), UTC datetime
  *    (0x09), null (0x0A), regex (0x0B), JavaScript code (0x0D),
  *    int32 (0x10), timestamp (0x11), int64 (0x12), decimal128
  *    (0x13, kept as raw bytes — no IEEE 754-2008 decimal in the
  *    value model), minKey (0xFF) and maxKey (0x7F). DBPointer,
  *    code-with-scope and symbol reject (deprecated, scope carries
  *    arbitrary nesting semantics drivers themselves dropped).
  *
  * Validation: every length prefix must match its span exactly
  * (document totals, string lengths, the final NUL), bool bytes
  * must be 0/1, array keys must be the canonical "0".."n-1" run,
  * key and string payloads must be strict UTF-8 with no embedded
  * NUL in cstrings, nesting depth ≤ 64, a total element budget
  * bounds crafted fan-out, and input must be consumed exactly.
  * None on any malformation — drop, never invent. Validation is
  * hand-pinned layouts from the spec grammar, round trips per
  * type, and mutation fuzz — BsonSpec. */
object Bson {

  sealed trait Bs
  final case class BsDouble(v: Double) extends Bs
  final case class BsStr(v: String) extends Bs
  final case class BsDoc(kvs: Seq[(String, Bs)]) extends Bs
  final case class BsArr(vs: Seq[Bs]) extends Bs
  final case class BsBin(subtype: Int, data: Array[Byte]) extends Bs
  case object BsUndef extends Bs
  final case class BsObjectId(bytes: Array[Byte]) extends Bs
  final case class BsBool(v: Boolean) extends Bs
  /** Milliseconds since the Unix epoch (UTC datetime, 0x09). */
  final case class BsDateTime(millis: Long) extends Bs
  case object BsNull extends Bs
  final case class BsRegex(pattern: String, options: String) extends Bs
  final case class BsCode(v: String) extends Bs
  final case class BsInt32(v: Int) extends Bs
  /** Internal MongoDB timestamp — raw uint64 bits. */
  final case class BsTimestamp(raw: Long) extends Bs
  final case class BsInt64(v: Long) extends Bs
  final case class BsDecimal128(bytes: Array[Byte]) extends Bs
  case object BsMinKey extends Bs
  case object BsMaxKey extends Bs

  private final val MaxDepth = 64
  private final val MaxElems = 1 << 24

  // ---------------------------------------------------------------
  // Encode
  // ---------------------------------------------------------------

  /** Top-level BSON value is always a document. */
  def encode(doc: BsDoc): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(128)
    encDoc(out, doc.kvs, 0)
    out.toByteArray
  }

  private def cstring(out: java.io.ByteArrayOutputStream,
      s: String): Unit = {
    val b = s.getBytes("UTF-8")
    require(!b.contains(0.toByte), "NUL in cstring")
    out.write(b, 0, b.length); out.write(0)
  }

  private def bstring(out: java.io.ByteArrayOutputStream,
      s: String): Unit = {
    val b = s.getBytes("UTF-8")
    Bytes.putLe32(out, b.length + 1)
    out.write(b, 0, b.length); out.write(0)
  }

  private def encDoc(out: java.io.ByteArrayOutputStream,
      kvs: Seq[(String, Bs)], depth: Int): Unit = {
    require(depth <= MaxDepth, "bson nesting too deep")
    val body = new java.io.ByteArrayOutputStream(64)
    kvs.foreach { case (k, v) => encElem(body, k, v, depth) }
    Bytes.putLe32(out, 4 + body.size() + 1)
    body.writeTo(out)
    out.write(0)
  }

  private def encElem(out: java.io.ByteArrayOutputStream, k: String,
      v: Bs, depth: Int): Unit = v match {
    case BsDouble(d) =>
      out.write(0x01); cstring(out, k)
      Bytes.putLe64(out, java.lang.Double.doubleToLongBits(d))
    case BsStr(s) => out.write(0x02); cstring(out, k); bstring(out, s)
    case BsDoc(kvs) =>
      out.write(0x03); cstring(out, k); encDoc(out, kvs, depth + 1)
    case BsArr(vs) =>
      out.write(0x04); cstring(out, k)
      encDoc(out, vs.zipWithIndex.map { case (x, i) =>
        (i.toString, x) }, depth + 1)
    case BsBin(st, data) =>
      require(st >= 0 && st <= 255, "binary subtype")
      out.write(0x05); cstring(out, k)
      Bytes.putLe32(out, data.length); out.write(st)
      out.write(data, 0, data.length)
    case BsUndef => out.write(0x06); cstring(out, k)
    case BsObjectId(b) =>
      require(b.length == 12, "ObjectId is 12 bytes")
      out.write(0x07); cstring(out, k); out.write(b, 0, 12)
    case BsBool(b) =>
      out.write(0x08); cstring(out, k); out.write(if (b) 1 else 0)
    case BsDateTime(ms) =>
      out.write(0x09); cstring(out, k); Bytes.putLe64(out, ms)
    case BsNull => out.write(0x0a); cstring(out, k)
    case BsRegex(p, o) =>
      out.write(0x0b); cstring(out, k); cstring(out, p); cstring(out, o)
    case BsCode(s) => out.write(0x0d); cstring(out, k); bstring(out, s)
    case BsInt32(i) => out.write(0x10); cstring(out, k); Bytes.putLe32(out, i)
    case BsTimestamp(raw) =>
      out.write(0x11); cstring(out, k); Bytes.putLe64(out, raw)
    case BsInt64(l) => out.write(0x12); cstring(out, k); Bytes.putLe64(out, l)
    case BsDecimal128(b) =>
      require(b.length == 16, "decimal128 is 16 bytes")
      out.write(0x13); cstring(out, k); out.write(b, 0, 16)
    case BsMaxKey => out.write(0x7f); cstring(out, k)
    case BsMinKey => out.write(0xff); cstring(out, k)
  }

  // ---------------------------------------------------------------
  // Decode
  // ---------------------------------------------------------------

  private final class Cur(data: Array[Byte]) extends Bytes.Cursor(data) {
    var elems = 0
    def take(n: Int): Array[Byte] =
      if (n < 0 || n > end - p) { fail(); Array.emptyByteArray }
      else { val r = java.util.Arrays.copyOfRange(b, p, p + n)
        p += n; r }
    def budget(): Unit = { elems += 1; if (elems > MaxElems) fail() }
  }

  /** Strict single-document decode: exact consumption, None on any
    * malformation. */
  def decode(data: Array[Byte]): Option[BsDoc] = {
    val c = new Cur(data)
    val d = doc(c, 0)
    if (c.ok && c.p == data.length) d.map(BsDoc) else None
  }

  /** Decode a CONCATENATED stream of documents — the exact shape a
    * `.bson` mongodump file has. */
  def decodeStream(data: Array[Byte]): Option[Seq[BsDoc]] = {
    val c = new Cur(data)
    val out = Seq.newBuilder[BsDoc]
    while (c.ok && c.p < data.length) {
      doc(c, 0) match {
        case Some(kvs) => out += BsDoc(kvs)
        case None => c.fail()
      }
    }
    if (c.ok) Some(out.result()) else None
  }

  private def utf8(b: Array[Byte], c: Cur): Option[String] = {
    if (!c.ok) return None
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try Some(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
    catch { case _: java.nio.charset.CharacterCodingException =>
      c.fail(); None }
  }

  private def cstr(c: Cur): Option[String] = {
    val st = c.p
    while (c.p < c.b.length && c.b(c.p) != 0) c.p += 1
    if (c.p >= c.b.length) { c.fail(); return None }
    val r = utf8(java.util.Arrays.copyOfRange(c.b, st, c.p), c)
    c.p += 1 // NUL
    r
  }

  private def bstr(c: Cur): Option[String] = {
    val len = c.le32()
    if (!c.ok || len < 1 || len > c.b.length - c.p) {
      c.fail(); return None }
    val b = c.take(len - 1)
    if (!c.ok || c.u8() != 0) { c.fail(); return None }
    // spec: the counted span must hold NO embedded NUL (it would
    // desync readers that trust the cstring form)
    if (b.contains(0.toByte)) { c.fail(); return None }
    utf8(b, c)
  }

  private def doc(c: Cur, depth: Int): Option[Seq[(String, Bs)]] = {
    if (depth > MaxDepth) { c.fail(); return None }
    val start = c.p
    val total = c.le32()
    if (!c.ok || total < 5 || total > c.b.length - start) {
      c.fail(); return None }
    val end = start + total
    val kvs = Seq.newBuilder[(String, Bs)]
    var done = false
    while (c.ok && !done) {
      if (c.p >= end) { c.fail(); return None }
      val t = c.u8()
      if (t == 0) done = true
      else {
        c.budget()
        val k = cstr(c).getOrElse { c.fail(); return None }
        val v: Bs = t match {
          case 0x01 => BsDouble(java.lang.Double.longBitsToDouble(c.le64()))
          case 0x02 => BsStr(bstr(c).getOrElse(return None))
          case 0x03 => BsDoc(doc(c, depth + 1).getOrElse(return None))
          case 0x04 =>
            val inner = doc(c, depth + 1).getOrElse(return None)
            // canonical array keys: "0".."n-1" in order
            inner.zipWithIndex.foreach { case ((ik, _), i) =>
              if (ik != i.toString) { c.fail(); return None } }
            BsArr(inner.map(_._2))
          case 0x05 =>
            val len = c.le32()
            if (!c.ok || len < 0) { c.fail(); return None }
            val st = c.u8()
            BsBin(st, c.take(len))
          case 0x06 => BsUndef
          case 0x07 => BsObjectId(c.take(12))
          case 0x08 => c.u8() match {
            case 0 => BsBool(false)
            case 1 => BsBool(true)
            case _ => c.fail(); return None
          }
          case 0x09 => BsDateTime(c.le64())
          case 0x0a => BsNull
          case 0x0b =>
            val p0 = cstr(c).getOrElse(return None)
            val o = cstr(c).getOrElse(return None)
            BsRegex(p0, o)
          case 0x0d => BsCode(bstr(c).getOrElse(return None))
          case 0x10 => BsInt32(c.le32())
          case 0x11 => BsTimestamp(c.le64())
          case 0x12 => BsInt64(c.le64())
          case 0x13 => BsDecimal128(c.take(16))
          case 0x7f => BsMaxKey
          case 0xff => BsMinKey
          case _ => c.fail(); return None // 0x0c/0x0e/0x0f, unknown
        }
        if (!c.ok) return None
        kvs += ((k, v))
      }
    }
    if (!c.ok || c.p != end) { c.fail(); return None }
    Some(kvs.result())
  }
}
