package graft.operators

/** ORC FILE WRITER from scratch (the public ORCv1 specification:
  * postscript/footer/stripe-footer protobuf layouts, the chunked
  * compression framing, byte-RLE and integer RLEv1) — the write
  * half of [[OrcTail]]/[[OrcData]]'s audit surface, mirroring
  * [[ParquetWrite]] for the other columnar format so both
  * flagship formats round-trip from raw bytes in BOTH directions.
  *
  * Scope (extended r14):
  *  - Kinds boolean/int/long/float/double/string/binary/timestamp/
  *    date/decimal(p,s) (ORC type kinds 0/3/4/5/6/7/8/9/15/14)
  *    under the root struct, plus LIST columns of any non-boolean
  *    scalar kind (parent PRESENT + LENGTH runs, child column —
  *    the token-column shape), flat STRUCT columns (late r14 —
  *    present-gated children, one entry per non-null parent row)
  *    and MAP columns (late r14 — LENGTH runs + key/value
  *    children, keys never null).
  *  - OPTIONAL columns via PRESENT streams (byte-RLE over
  *    MSB-first bitmaps); booleans the same way.
  *  - BOTH integer RLE generations: RLEv1 literal groups, and
  *    RLEv2 (SHORT_REPEAT / fixed-delta DELTA / DIRECT at the
  *    closest-fixed-bits widths) under DIRECT_V2 encodings —
  *    orc-core's default; sorted DICTIONARY(_V2) strings.
  *  - Codecs NONE, ZLIB (raw deflate), SNAPPY and ZSTD
  *    (stored-block frames) inside the spec's 3-byte chunk
  *    headers, sections split at the block size.
  *  - Multi-stripe output via `rowsPerStripe` — stripes are the
  *    spec's parallel-scan unit, so fixtures can exercise stripe
  *    concatenation on read.
  *
  * Everything is emitted through the repo's own [[Protobuf]] wire
  * helpers; no orc-core on the write path. Validation:
  * OrcWriteSpec round-trips through Spark's ORC reader AND
  * [[OrcData.decodeFile]] across kinds, nulls, codecs and stripe
  * splits; the `orc_write_roundtrip` gate has Spark read OUR
  * executor-written shards under the documents oracle. */
object OrcWrite {

  sealed trait AnyWCol {
    def name: String
    def optional: Boolean
    def rows: Int
  }

  /** One flat column; `kind` ∈ boolean/i32/i64/f32/f64/string/
    * binary/ts/date/decimal(p,s). `ts` values are epoch MICROS
    * (Long), `date` values epoch days (Int), `decimal` values
    * java.math.BigDecimal at exactly the declared scale. */
  final case class WCol(name: String, kind: String,
      optional: Boolean, values: IndexedSeq[Option[Any]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One LIST column (r14 — the token-column shape): outer None =
    * null list (needs `optional`), inner None = null element
    * (needs `elemOptional`); `elemKind` ∈ the scalar [[WCol]]
    * kinds minus boolean. */
  final case class WListCol(name: String, elemKind: String,
      optional: Boolean, elemOptional: Boolean,
      values: IndexedSeq[Option[Seq[Option[Any]]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One flat STRUCT column (late r14 — symmetric with
    * [[ParquetWrite.WStructCol]]): `fields` = (name, kind,
    * optional) per field, kinds from the scalar [[WCol]] set; a
    * row is None (null struct, needs `optional`) or the field
    * values in order. Children carry one entry per NON-NULL
    * parent row, each behind its own PRESENT stream — the layout
    * [[OrcData]]'s struct decode walks. */
  final case class WStructCol(name: String, optional: Boolean,
      fields: Seq[(String, String, Boolean)],
      values: IndexedSeq[Option[Seq[Option[Any]]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One LIST-OF-STRUCT column (late r14): the list column carries
    * PRESENT + LENGTH runs; its child is a STRUCT column whose
    * PRESENT stream gates null elements, and each field column
    * carries one entry per NON-NULL element. A row is None (null
    * list), Some(Seq.empty) or a seq of elements, each None (null
    * struct, needs `elemOptional`) or field values in order. */
  final case class WListStructCol(name: String, optional: Boolean,
      elemOptional: Boolean, fields: Seq[(String, String, Boolean)],
      values: IndexedSeq[Option[Seq[Option[Seq[Option[Any]]]]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One MAP column (late r14): LENGTH runs on the parent, the
    * key/value children decoded for the total entry count and
    * zipped per row. Keys are never null (the ORC/Spark map
    * contract); values may be None when `valueOptional`. Kinds
    * from the scalar [[WCol]] set minus boolean. */
  final case class WMapCol(name: String, keyKind: String,
      valueKind: String, optional: Boolean, valueOptional: Boolean,
      values: IndexedSeq[Option[Seq[(Any, Option[Any])]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  private val DecimalKind = """decimal\((\d+),(\d+)\)""".r

  private def orcKind(kind: String): Int = kind match {
    case "boolean" => 0
    case "i32" => 3
    case "i64" => 4
    case "f32" => 5
    case "f64" => 6
    case "string" => 7
    case "binary" => 8
    case "ts" => 9
    case DecimalKind(_, _) => 14
    case "date" => 15
    case k => sys.error(s"unsupported column kind $k")
  }

  // ---------------------------------------------------------------
  // Run-length encoders (writer twins of OrcData's decoders)
  // ---------------------------------------------------------------

  /** Byte-RLE literal groups (header 256-n + n bytes). */
  private def byteRle(bytes: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(bytes.length + 8)
    var i = 0
    while (i < bytes.length) {
      val n = math.min(128, bytes.length - i)
      out.write(256 - n)
      out.write(bytes, i, n)
      i += n
    }
    out.toByteArray
  }

  /** MSB-first bitmap of booleans, byte-RLE framed. */
  private def boolStream(bits: Seq[Boolean]): Array[Byte] = {
    val bytes = new Array[Byte]((bits.length + 7) / 8)
    bits.zipWithIndex.foreach { case (b, i) =>
      if (b) bytes(i >> 3) = (bytes(i >> 3) |
        (1 << (7 - (i & 7)))).toByte
    }
    byteRle(bytes)
  }

  /** Integer RLEv1 literal groups (header 256-n + n varints,
    * zigzag when signed). */
  private def intRleV1(vals: Seq[Long], signed: Boolean)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length + 8)
    var i = 0
    while (i < vals.length) {
      val n = math.min(128, vals.length - i)
      out.write(256 - n)
      var j = 0
      while (j < n) {
        val v = vals(i + j)
        Bytes.putVarint(out, if (signed) Bytes.zigzag(v) else v)
        j += 1
      }
      i += n
    }
    out.toByteArray
  }

  /** The RLEv2 5-bit width table, writer side: the closest width
    * the code table can express (getClosestFixedBits). */
  private def closestFixedBits(n: Int): Int =
    if (n <= 1) 1
    else if (n <= 24) n
    else if (n <= 26) 26
    else if (n <= 28) 28
    else if (n <= 30) 30
    else if (n <= 32) 32
    else if (n <= 40) 40
    else if (n <= 48) 48
    else if (n <= 56) 56
    else 64

  private def widthCode(w: Int): Int =
    if (w <= 24) w - 1
    else w match {
      case 26 => 24
      case 28 => 25
      case 30 => 26
      case 32 => 27
      case 40 => 28
      case 48 => 29
      case 56 => 30
      case 64 => 31
      case other => sys.error(s"unencodable width $other")
    }

  /** PATCHED_BASE encode for one ≤512-value segment (late r14 —
    * completing RLEv2 sub-encoding symmetry with [[OrcData]]):
    * base-reduce at the min, bit-pack at the 95th-percentile
    * width, and patch the ≤31 outliers' high bits through the
    * (gap, patch) list with 255-gap chaining. Returns None when
    * the segment doesn't profit (no outliers past the rounded
    * width, too many patches after chaining, or subtract
    * overflow) — the caller then emits DIRECT, so this can only
    * ever improve on conformant output. Values are RAW (PB never
    * zigzags; the sign lives in the sign-magnitude base). */
  private def patchedBaseSeg(raw: Seq[Long]): Option[Array[Byte]] = {
    val len = raw.length
    if (len < 2 || len > 512) return None
    def bitsNeeded(v: Long): Int =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(v))
    var min = raw.head
    raw.foreach(v => if (v < min) min = v)
    if (min == Long.MinValue) return None
    val deltas = new Array[Long](len)
    var k = 0
    while (k < len) {
      val d = raw(k) - min
      if (d < 0) return None // subtract overflow
      deltas(k) = d
      k += 1
    }
    // histogram of widths → 95th-percentile + max widths
    val hist = new Array[Int](65)
    deltas.foreach(d => hist(bitsNeeded(d)) += 1)
    val need = math.ceil(len * 0.95).toInt
    var cum = 0; var p95 = 0; var w100 = 1
    var i = 1
    while (i <= 64) {
      cum += hist(i)
      if (p95 == 0 && cum >= need) p95 = i
      if (hist(i) > 0) w100 = i
      i += 1
    }
    val w = closestFixedBits(p95)
    if (w >= closestFixedBits(w100)) return None // no outliers
    val patchIdx = (0 until len).filter(j => (deltas(j) >>> w) != 0)
    if (patchIdx.isEmpty) return None
    val maxPatch = patchIdx.map(deltas(_) >>> w).max
    val pw = closestFixedBits(bitsNeeded(maxPatch))
    // (gap, patch) entries; gaps past 255 chain via (255, 0)
    val entries = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long)]
    var prev = 0
    patchIdx.foreach { j =>
      var gap = j - prev
      while (gap > 255) { entries += ((255, 0L)); gap -= 255 }
      entries += ((gap, deltas(j) >>> w))
      prev = j
    }
    if (entries.length > 31) return None // pll is a 5-bit field
    val pgw = math.max(1, bitsNeeded(entries.map(_._1.toLong).max))
    if (pgw + pw > 64) return None
    val entryW = closestFixedBits(pgw + pw)
    val neg = min < 0
    val mag = if (neg) -min else min
    val bw = math.max(1, (bitsNeeded(mag) + 1 + 7) / 8) // +sign bit
    val out = new java.io.ByteArrayOutputStream(4 + bw + len)
    out.write(0x80 | (widthCode(w) << 1) | (((len - 1) >> 8) & 1))
    out.write((len - 1) & 0xff)
    out.write(((bw - 1) << 5) | widthCode(pw))
    out.write(((pgw - 1) << 5) | entries.length)
    // base: big-endian sign-magnitude, MSB of the first byte
    val baseBits = mag | (if (neg) 1L << (bw * 8 - 1) else 0L)
    var b = bw - 1
    while (b >= 0) {
      out.write(((baseBits >>> (8 * b)) & 0xff).toInt); b -= 1
    }
    def packMsbTo(xs: Seq[Long], width: Int): Unit = {
      var acc = 0L; var bits = 0
      xs.foreach { x =>
        var left = width
        while (left > 0) {
          val take = math.min(8 - bits, left)
          val piece = (x >>> (left - take)) & ((1L << take) - 1)
          acc = (acc << take) | piece
          bits += take
          left -= take
          if (bits == 8) { out.write(acc.toInt & 0xff); acc = 0
            bits = 0 }
        }
      }
      if (bits > 0) out.write(((acc << (8 - bits)) & 0xff).toInt)
    }
    val mask = if (w == 64) -1L else (1L << w) - 1
    packMsbTo(deltas.toIndexedSeq.map(_ & mask), w)
    packMsbTo(entries.toIndexedSeq.map { case (g, pv) =>
      (g.toLong << pw) | pv }, entryW)
    Some(out.toByteArray)
  }

  /** Integer RLEv2 (the default orc-core encoding — ORCv1 spec
    * "Run Length Encoding version 2"): repeats of 3-10 as
    * SHORT_REPEAT, longer repeats as fixed-delta DELTA runs,
    * outlier-carrying segments as PATCHED_BASE (late r14), and
    * everything else as DIRECT groups of ≤ 512 values MSB-packed
    * at the closest table width. The reader twin is
    * [[OrcData]]'s `rleV2`. */
  private[graft] def intRleV2(vals: Seq[Long], signed: Boolean)
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length + 16)
    def enc(v: Long): Long = if (signed) Bytes.zigzag(v) else v
    def bitsNeeded(v: Long): Int =
      math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(v))
    def packMsb(xs: Seq[Long], w: Int): Unit = {
      var acc = 0L
      var bits = 0
      xs.foreach { x =>
        var left = w
        while (left > 0) {
          val take = math.min(8 - bits, left)
          val piece = (x >>> (left - take)) & ((1L << take) - 1)
          acc = (acc << take) | piece
          bits += take
          left -= take
          if (bits == 8) { out.write(acc.toInt & 0xff); acc = 0
            bits = 0 }
        }
      }
      if (bits > 0) out.write(((acc << (8 - bits)) & 0xff).toInt)
    }
    val n = vals.length
    var i = 0
    while (i < n) {
      // length of the repeat run starting here
      var j = i + 1
      while (j < n && vals(j) == vals(i)) j += 1
      val run = j - i
      if (run >= 3 && run <= 10) {
        // SHORT_REPEAT: 0b00 www lll, value big-endian w+1 bytes
        val v = enc(vals(i))
        val w = math.max(1, (bitsNeeded(v) + 7) / 8)
        out.write(((w - 1) << 3) | (run - 3))
        var k = w - 1
        while (k >= 0) { out.write(((v >>> (8 * k)) & 0xff).toInt)
          k -= 1 }
        i = j
      } else if (run > 10) {
        // fixed-delta DELTA runs (width code 0), ≤ 512 each; never
        // leave a length-1 tail (some readers require len ≥ 2)
        var left = run
        while (left > 0) {
          var len = math.min(512, left)
          if (left - len == 1) len -= 1
          out.write(0xc0 | (((len - 1) >> 8) & 1))
          out.write((len - 1) & 0xff)
          Bytes.putVarint(out, enc(vals(i))) // base (stream signedness)
          Bytes.putVarint(out, Bytes.zigzag(0L)) // delta base, always signed
          left -= len
        }
        i = j
      } else {
        // DIRECT: gather until 512 values or a run of > 10 starts
        var end = i
        var lim = math.min(n, i + 512)
        var stop = false
        while (end < lim && !stop) {
          var k = end + 1
          while (k < n && vals(k) == vals(end)) k += 1
          if (k - end > 10) { // a long run begins — cut before it
            if (end == i) { end = math.min(k, lim); stop = true }
            else stop = true
          } else end = math.min(k, lim)
        }
        patchedBaseSeg((i until end).map(vals)) match {
          case Some(pb) => out.write(pb, 0, pb.length)
          case None =>
            val seg = (i until end).map(p => enc(vals(p)))
            val w = closestFixedBits(seg.map(bitsNeeded).max)
            val len = seg.length
            out.write(0x40 | (widthCode(w) << 1) |
              (((len - 1) >> 8) & 1))
            out.write((len - 1) & 0xff)
            packMsb(seg, w)
        }
        i = end
      }
    }
    out.toByteArray
  }

  /** DATA/SECONDARY streams of a TIMESTAMP column from epoch
    * micros: orc-core's writer semantics — stored seconds truncate
    * toward zero from millis (the pre-1970 quirk the readers
    * compensate), nanos run forward from the floor second with the
    * trailing-decimal-zero packing. */
  private[graft] def timestampStreams(micros: Seq[Long])
      : (Seq[Long], Seq[Long]) = {
    val base = 1420070400L // 2015-01-01T00:00:00Z
    val secs = micros.map { m =>
      java.lang.Math.floorDiv(m, 1000L) / 1000L - base
    }
    val nanos = micros.map { m =>
      var v = java.lang.Math.floorMod(m, 1000000L) * 1000L
      if (v == 0) 0L
      else {
        var z = 0
        while (z < 8 && v % 10 == 0) { v /= 10; z += 1 }
        if (z >= 2) (v << 3) | (z - 1).toLong
        else {
          // fewer than 2 zeros: store undivided with flag 0
          var k = 0
          while (k < z) { v *= 10; k += 1 }
          v << 3
        }
      }
    }
    (secs, nanos)
  }

  // ---------------------------------------------------------------
  // Compression framing
  // ---------------------------------------------------------------

  private final val BlockSize = 256 * 1024

  /** A compressed section: 3-byte LE chunk headers, raw deflate
    * bodies (or the isOriginal escape when deflate grows). */
  private def section(codec: Int, raw: Array[Byte]): Array[Byte] = {
    if (codec == 0 || raw.isEmpty) return raw
    val out = new java.io.ByteArrayOutputStream(raw.length + 16)
    var i = 0
    while (i < raw.length) {
      val n = math.min(BlockSize, raw.length - i)
      val chunk = java.util.Arrays.copyOfRange(raw, i, i + n)
      val cb = codec match {
        case 1 =>
          val defl = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          defl.setInput(chunk); defl.finish()
          val comp = new java.io.ByteArrayOutputStream(n / 2 + 64)
          val tmp = new Array[Byte](8192)
          while (!defl.finished())
            comp.write(tmp, 0, defl.deflate(tmp))
          defl.end()
          comp.toByteArray
        case 2 => SnappyCodec.compress(chunk)
        case 5 => Zstd.encodeStore(chunk)
        case other => sys.error(s"unsupported orc codec $other")
      }
      val (body, original) =
        if (cb.length < n) (cb, false) else (chunk, true)
      val h = (body.length << 1) | (if (original) 1 else 0)
      out.write(h & 0xff)
      out.write((h >> 8) & 0xff)
      out.write((h >> 16) & 0xff)
      out.write(body, 0, body.length)
      i += n
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Protobuf messages (orc_proto.proto field numbers)
  // ---------------------------------------------------------------

  import Protobuf.{writeTag, writeLen}

  private def vfield(b: java.io.ByteArrayOutputStream, id: Int,
      v: Long): Unit = { writeTag(b, id, 0); Bytes.putVarint(b, v) }
  private def sfield(b: java.io.ByteArrayOutputStream, id: Int,
      s: Array[Byte]): Unit = writeLen(b, id, s)

  // ---------------------------------------------------------------
  // Build
  // ---------------------------------------------------------------

  /** One ORC file. `codec`: "none" | "zlib" | "snappy" | "zstd";
    * `rle`: "v1" (RLEv1 literal runs, DIRECT encodings — every
    * reader's lowest common denominator) or "v2" (integer RLEv2,
    * orc-core's default, with DIRECT_V2 encodings); `dict`: string
    * columns to DICTIONARY(_V2)-encode (sorted dictionary +
    * index runs). */
  def build(cols: Seq[AnyWCol], codec: String = "zlib",
      rowsPerStripe: Int = Int.MaxValue,
      rle: String = "v1",
      dict: Set[String] = Set.empty,
      // late r14: BLOOM_FILTER_UTF8 streams for the named flat
      // string/binary/int columns (orc-core's construction exactly)
      bloom: Set[String] = Set.empty): Array[Byte] = {
    require(cols.nonEmpty, "no columns")
    require(rle == "v1" || rle == "v2", s"unknown rle $rle")
    bloom.foreach { d =>
      cols.find(_.name == d) match {
        case Some(c: WCol) => require(Set("string", "binary", "i32",
          "i64", "date")(c.kind),
          s"bloom is for string/binary/int columns (${c.name})")
        case Some(_) =>
          sys.error(s"bloom on non-scalar column $d unsupported")
        case None => sys.error(s"bloom column $d not present")
      }
    }
    val v2 = rle == "v2"
    dict.foreach { d =>
      cols.find(_.name == d) match {
        case Some(c: WCol) => require(c.kind == "string",
          s"dictionary encoding is for string columns (${c.name})")
        case Some(l: WListCol) => require(l.elemKind == "string",
          s"dictionary encoding is for string columns (${l.name})")
        case Some(_) => sys.error(
          s"dictionary on struct/map column $d unsupported")
        case None => sys.error(s"dict column $d not present")
      }
    }
    val nRows = cols.head.rows
    require(cols.forall(_.rows == nRows), "ragged column lengths")
    cols.foreach {
      case c: WCol =>
        require(c.optional || c.values.forall(_.isDefined),
          s"null in required column ${c.name}")
        c.kind match {
          case DecimalKind(pStr, sStr) =>
            // the varint DATA stream here carries the unscaled
            // value as a LONG — bound precision up front instead
            // of an uncontrolled overflow mid-stripe
            require(pStr.toInt >= 1 && pStr.toInt <= 18 &&
              sStr.toInt >= 0 && sStr.toInt <= pStr.toInt,
              s"decimal precision 1..18 supported (${c.kind})")
          case _ => ()
        }
      case l: WListCol =>
        require(l.elemKind != "boolean",
          "boolean list elements unsupported")
        l.values.foreach {
          case None => require(l.optional,
            s"null list in required column ${l.name}")
          case Some(xs) => xs.foreach(e =>
            require(l.elemOptional || e.isDefined,
              s"null element in ${l.name}"))
        }
      case sc: WStructCol =>
        require(sc.fields.nonEmpty, "empty struct")
        sc.values.foreach {
          case None => require(sc.optional,
            s"null struct in required column ${sc.name}")
          case Some(fvs) =>
            require(fvs.length == sc.fields.length,
              s"struct arity drift in ${sc.name}")
            fvs.zip(sc.fields).foreach { case (v, (fn, _, fOpt)) =>
              require(fOpt || v.isDefined,
                s"null field $fn in ${sc.name}")
            }
        }
      case mc: WMapCol =>
        require(mc.keyKind != "boolean" &&
          mc.valueKind != "boolean",
          "boolean map keys/values unsupported")
        mc.values.foreach {
          case None => require(mc.optional,
            s"null map in required column ${mc.name}")
          case Some(kvs) => kvs.foreach { case (_, v) =>
            require(mc.valueOptional || v.isDefined,
              s"null value in ${mc.name}")
          }
        }
      case lsc: WListStructCol =>
        require(lsc.fields.nonEmpty, "empty struct element")
        lsc.values.foreach {
          case None => require(lsc.optional,
            s"null list in required column ${lsc.name}")
          case Some(es) => es.foreach {
            case None => require(lsc.elemOptional,
              s"null element in ${lsc.name}")
            case Some(fvs) =>
              require(fvs.length == lsc.fields.length,
                s"struct arity drift in ${lsc.name}")
              fvs.zip(lsc.fields).foreach {
                case (v, (fn, _, fOpt)) =>
                  require(fOpt || v.isDefined,
                    s"null field $fn in ${lsc.name}")
              }
          }
        }
    }
    require(rowsPerStripe > 0, "rowsPerStripe must be positive")
    // type-tree column ids: root 0, then depth-first (a list's
    // child follows its parent)
    val selfId = new Array[Int](cols.length)
    val childIds = new Array[Seq[Int]](cols.length)
    var nextId = 1
    cols.zipWithIndex.foreach { case (c, i) =>
      selfId(i) = nextId
      nextId += 1
      c match {
        case _: WListCol =>
          childIds(i) = Seq(nextId); nextId += 1
        case sc: WStructCol =>
          childIds(i) = sc.fields.indices.map(_ + nextId)
          nextId += sc.fields.length
        case _: WMapCol =>
          childIds(i) = Seq(nextId, nextId + 1); nextId += 2
        case lsc: WListStructCol =>
          // list child = the struct, then one id per field
          childIds(i) = (0 to lsc.fields.length).map(_ + nextId)
          nextId += 1 + lsc.fields.length
        case _ => childIds(i) = Nil
      }
    }
    val treeSize = nextId // root + every column + its children
    def intRun(vals: Seq[Long], signed: Boolean): Array[Byte] =
      if (v2) intRleV2(vals, signed) else intRleV1(vals, signed)
    val codecId = codec match {
      case "none" => 0
      case "zlib" => 1
      case "snappy" => 2
      case "zstd" => 5
      case c => sys.error(s"unsupported codec $c")
    }
    val buf = new java.io.ByteArrayOutputStream(4096)
    buf.write('O'); buf.write('R'); buf.write('C')

    final case class StripeMeta(offset: Long, indexLen: Long,
        dataLen: Long, footerLen: Long, nRows: Long)
    val ranges =
      if (nRows == 0) Seq.empty[(Int, Int)] // no stripes at all
      else (0 until nRows by math.min(rowsPerStripe, nRows))
        .map(s => (s, math.min(s + rowsPerStripe, nRows)))
    // ROW_INDEX streams (late r14) need one entry per 10k-row
    // group; this writer emits single-entry indexes, so they ship
    // only when every stripe fits one stride
    val withIndexes = ranges.forall { case (lo, hi) =>
      hi - lo <= 10000 }
    val stripes = ranges.map { case (lo, hi) =>
      val offset = buf.size().toLong
      // (streamKind, column, bytes) in column order
      val streams = Seq.newBuilder[(Int, Int, Array[Byte])]
      // per-type-tree-column (encodingKind, dictionarySize),
      // indexed by column id - 1
      val encodings = Array.fill(treeSize - 1)((0, 0))
      val direct = if (v2) 2 else 0 // DIRECT / DIRECT_V2
      // ROW_INDEX stats capture (late r14): scalar kinds + values
      // recorded by writeScalar, container counts at their
      // branches; root is the stripe row count
      val statKind = new Array[String](treeSize)
      val statVals = new Array[Seq[Any]](treeSize)
      val statCount = new Array[Long](treeSize)
      statCount(0) = (hi - lo).toLong
      /** Append one scalar column's streams (no PRESENT — the
        * caller owns presence) and record its encoding. */
      def writeScalar(col: Int, colName: String, kind: String,
          nn: Seq[Any], useDict: Boolean): Unit = {
        statKind(col) = kind
        statVals(col) = nn
        statCount(col) = nn.length.toLong
        kind match {
          case "boolean" =>
            streams += ((1, col, section(codecId,
              boolStream(nn.map(_.asInstanceOf[Boolean])))))
          case "i32" =>
            encodings(col - 1) = (direct, 0)
            streams += ((1, col, section(codecId, intRun(
              nn.map(_.asInstanceOf[Int].toLong), signed = true))))
          case "i64" =>
            encodings(col - 1) = (direct, 0)
            streams += ((1, col, section(codecId, intRun(
              nn.map(_.asInstanceOf[Long]), signed = true))))
          case "date" =>
            encodings(col - 1) = (direct, 0)
            streams += ((1, col, section(codecId, intRun(
              nn.map(_.asInstanceOf[Int].toLong), signed = true))))
          case "ts" =>
            encodings(col - 1) = (direct, 0)
            val (secs, nanos) = timestampStreams(
              nn.map(_.asInstanceOf[Long]))
            streams += ((1, col, section(codecId,
              intRun(secs, signed = true))))
            streams += ((5, col, section(codecId,
              intRun(nanos, signed = false))))
          case DecimalKind(_, sStr) =>
            encodings(col - 1) = (direct, 0)
            val scale = sStr.toInt
            val data = new java.io.ByteArrayOutputStream()
            nn.foreach { v =>
              val bd = v.asInstanceOf[java.math.BigDecimal]
              require(bd.scale == scale,
                s"decimal scale drift in $colName")
              Bytes.putVarint(data,
                Bytes.zigzag(bd.unscaledValue.longValueExact))
            }
            streams += ((1, col, section(codecId, data.toByteArray)))
            streams += ((5, col, section(codecId, intRun(
              nn.map(_ => scale.toLong), signed = true))))
          case "f32" =>
            val b = new java.io.ByteArrayOutputStream(nn.length * 4)
            nn.foreach { v =>
              val bits = java.lang.Float
                .floatToIntBits(v.asInstanceOf[Float])
              Bytes.putLe32(b, bits)
            }
            streams += ((1, col, section(codecId, b.toByteArray)))
          case "f64" =>
            val b = new java.io.ByteArrayOutputStream(nn.length * 8)
            nn.foreach { v =>
              val bits = java.lang.Double
                .doubleToLongBits(v.asInstanceOf[Double])
              Bytes.putLe64(b, bits)
            }
            streams += ((1, col, section(codecId, b.toByteArray)))
          case "string" if useDict =>
            // DICTIONARY(_V2): sorted dictionary + index runs
            val ss = nn.map(_.asInstanceOf[String])
            val sorted = ss.distinct.sorted
            val index = sorted.zipWithIndex.toMap
            encodings(col - 1) = (if (v2) 3 else 1, sorted.length)
            streams += ((1, col, section(codecId, intRun(
              ss.map(s => index(s).toLong), signed = false))))
            val dictData = new java.io.ByteArrayOutputStream()
            sorted.foreach { s =>
              val b = s.getBytes("UTF-8")
              dictData.write(b, 0, b.length)
            }
            streams += ((2, col, section(codecId, intRun(
              sorted.map(_.getBytes("UTF-8").length.toLong),
              signed = false))))
            streams += ((3, col, section(codecId,
              dictData.toByteArray)))
          case "string" | "binary" =>
            encodings(col - 1) = (direct, 0)
            val bs = nn.map {
              case s: String => s.getBytes("UTF-8")
              case b: Array[Byte] => b
              case other => sys.error(s"bad value $other")
            }
            val data = new java.io.ByteArrayOutputStream()
            bs.foreach(b => data.write(b, 0, b.length))
            streams += ((1, col, section(codecId, data.toByteArray)))
            streams += ((2, col, section(codecId, intRun(
              bs.map(_.length.toLong), signed = false))))
          case k => sys.error(s"unsupported column kind $k")
        }
      }
      cols.zipWithIndex.foreach { case (c, ci) =>
        val col = selfId(ci)
        c match {
          case fc: WCol =>
            val vals = fc.values.slice(lo, hi)
            if (fc.optional)
              streams += ((0, col, section(codecId,
                boolStream(vals.map(_.isDefined)))))
            writeScalar(col, fc.name, fc.kind, vals.flatten,
              dict(fc.name))
          case lc: WListCol =>
            // LIST column: PRESENT + LENGTH on the parent, the
            // element values on the child column
            val vals = lc.values.slice(lo, hi)
            statCount(col) = vals.count(_.isDefined).toLong
            encodings(col - 1) = (direct, 0)
            if (lc.optional)
              streams += ((0, col, section(codecId,
                boolStream(vals.map(_.isDefined)))))
            streams += ((2, col, section(codecId, intRun(
              vals.flatten.map(_.length.toLong), signed = false))))
            val child = childIds(ci).head
            val elems: Seq[Option[Any]] = vals.flatten.flatten
            if (lc.elemOptional)
              streams += ((0, child, section(codecId,
                boolStream(elems.map(_.isDefined)))))
            writeScalar(child, s"${lc.name}.elem", lc.elemKind,
              elems.flatten, dict(lc.name))
          case sc: WStructCol =>
            // STRUCT column: PRESENT on the parent; each child
            // carries one entry per non-null parent row behind
            // its own PRESENT stream
            val vals = sc.values.slice(lo, hi)
            statCount(col) = vals.count(_.isDefined).toLong
            encodings(col - 1) = (0, 0) // struct encoding: DIRECT
            if (sc.optional)
              streams += ((0, col, section(codecId,
                boolStream(vals.map(_.isDefined)))))
            val rowsNN = vals.flatten
            sc.fields.zipWithIndex.foreach {
              case ((fn, fk, fOpt), fi) =>
                val child = childIds(ci)(fi)
                val fvs = rowsNN.map(_(fi))
                if (fOpt)
                  streams += ((0, child, section(codecId,
                    boolStream(fvs.map(_.isDefined)))))
                writeScalar(child, s"${sc.name}.$fn", fk,
                  fvs.flatten, useDict = false)
            }
          case lsc: WListStructCol =>
            // LIST<STRUCT>: PRESENT + LENGTH on the list, PRESENT
            // on the struct child per element, field columns over
            // the non-null elements
            val vals = lsc.values.slice(lo, hi)
            statCount(col) = vals.count(_.isDefined).toLong
            encodings(col - 1) = (direct, 0)
            if (lsc.optional)
              streams += ((0, col, section(codecId,
                boolStream(vals.map(_.isDefined)))))
            streams += ((2, col, section(codecId, intRun(
              vals.flatten.map(_.length.toLong), signed = false))))
            val structId = childIds(ci).head
            encodings(structId - 1) = (0, 0) // struct: DIRECT
            val elems: Seq[Option[Seq[Option[Any]]]] =
              vals.flatten.flatten
            statCount(structId) = elems.count(_.isDefined).toLong
            if (lsc.elemOptional)
              streams += ((0, structId, section(codecId,
                boolStream(elems.map(_.isDefined)))))
            val rowsNN = elems.flatten
            lsc.fields.zipWithIndex.foreach {
              case ((fn, fk, fOpt), fi) =>
                val child = childIds(ci)(fi + 1)
                val fvs = rowsNN.map(_(fi))
                if (fOpt)
                  streams += ((0, child, section(codecId,
                    boolStream(fvs.map(_.isDefined)))))
                writeScalar(child, s"${lsc.name}.$fn", fk,
                  fvs.flatten, useDict = false)
            }
          case mc: WMapCol =>
            // MAP column: PRESENT + LENGTH on the parent, the
            // key/value children sized by the total entry count
            val vals = mc.values.slice(lo, hi)
            statCount(col) = vals.count(_.isDefined).toLong
            encodings(col - 1) = (direct, 0)
            if (mc.optional)
              streams += ((0, col, section(codecId,
                boolStream(vals.map(_.isDefined)))))
            streams += ((2, col, section(codecId, intRun(
              vals.flatten.map(_.length.toLong), signed = false))))
            val entries = vals.flatten.flatten
            val kidK = childIds(ci)(0)
            val kidV = childIds(ci)(1)
            writeScalar(kidK, s"${mc.name}.key", mc.keyKind,
              entries.map(_._1), useDict = false)
            val vops = entries.map(_._2)
            if (mc.valueOptional)
              streams += ((0, kidV, section(codecId,
                boolStream(vops.map(_.isDefined)))))
            writeScalar(kidV, s"${mc.name}.value", mc.valueKind,
              vops.flatten, useDict = false)
        }
      }
      val ss = streams.result()
      // ROW_INDEX streams (late r14): one RowIndexEntry per stripe
      // (stride >= stripe rows) carrying real per-column statistics
      // in orc-core's per-type families — the stripe-internal
      // pruning surface sargs evaluate. Positions stay empty: with
      // a single row group no reader ever seeks past entry 0.
      val indexStreams: Seq[(Int, Int, Array[Byte])] =
        if (!withIndexes) Seq.empty
        else (0 until treeSize).map { colId =>
          val cs = new java.io.ByteArrayOutputStream()
          vfield(cs, 1, statCount(colId)) // numberOfValues
          val kind = statKind(colId)
          val nn = statVals(colId)
          if (kind != null && nn != null && nn.nonEmpty) kind match {
            case "i32" | "i64" =>
              val vs = nn.map {
                case i: Int => i.toLong
                case l: Long => l
                case other => sys.error(s"bad int value $other")
              }
              val st = new java.io.ByteArrayOutputStream()
              def sint(id: Int, v: Long): Unit = {
                writeTag(st, id, 0)
                Bytes.putVarint(st, Bytes.zigzag(v))
              }
              sint(1, vs.min); sint(2, vs.max)
              try {
                var sum = 0L
                vs.foreach(v => sum = Math.addExact(sum, v))
                sint(3, sum)
              } catch { case _: ArithmeticException => () }
              sfield(cs, 2, st.toByteArray) // IntegerStatistics
            case "f32" | "f64" =>
              val vs = nn.map {
                case f: Float => f.toDouble
                case d: Double => d
                case other => sys.error(s"bad float value $other")
              }
              if (!vs.exists(_.isNaN)) {
                val st = new java.io.ByteArrayOutputStream()
                def dbl(id: Int, v: Double): Unit = {
                  writeTag(st, id, 1)
                  val bits = java.lang.Double.doubleToLongBits(v)
                  Bytes.putLe64(st, bits)
                }
                dbl(1, vs.min); dbl(2, vs.max); dbl(3, vs.sum)
                sfield(cs, 3, st.toByteArray) // DoubleStatistics
              }
            case "string" =>
              // bounds compare by UTF-8 BYTES (orc-core's Text
              // ordering) — Java String order diverges above the
              // BMP, where a surrogate pair sorts below \uFFFF
              // while its UTF-8 bytes sort above
              var mn: Array[Byte] = null
              var mx: Array[Byte] = null
              var sum = 0L
              nn.foreach { v =>
                val b = v.asInstanceOf[String].getBytes("UTF-8")
                sum += b.length
                if (mn == null ||
                  java.util.Arrays.compareUnsigned(b, mn) < 0) mn = b
                if (mx == null ||
                  java.util.Arrays.compareUnsigned(b, mx) > 0) mx = b
              }
              val st = new java.io.ByteArrayOutputStream()
              sfield(st, 1, mn)
              sfield(st, 2, mx)
              writeTag(st, 3, 0)
              Bytes.putVarint(st, Bytes.zigzag(sum))
              sfield(cs, 4, st.toByteArray) // StringStatistics
            case "boolean" =>
              val trues = nn.count(_.asInstanceOf[Boolean]).toLong
              val st = new java.io.ByteArrayOutputStream()
              val packed = new java.io.ByteArrayOutputStream()
              Bytes.putVarint(packed, trues)
              sfield(st, 1, packed.toByteArray) // packed uint64
              sfield(cs, 5, st.toByteArray) // BucketStatistics
            case DecimalKind(_, _) =>
              val vs = nn.map(_.asInstanceOf[java.math.BigDecimal])
              var mn = vs.head; var mx = vs.head
              vs.foreach { v =>
                if (v.compareTo(mn) < 0) mn = v
                if (v.compareTo(mx) > 0) mx = v
              }
              val st = new java.io.ByteArrayOutputStream()
              sfield(st, 1, mn.toPlainString.getBytes("UTF-8"))
              sfield(st, 2, mx.toPlainString.getBytes("UTF-8"))
              sfield(cs, 6, st.toByteArray) // DecimalStatistics
            case "date" =>
              val vs = nn.map(_.asInstanceOf[Int])
              val st = new java.io.ByteArrayOutputStream()
              def sint32(id: Int, v: Int): Unit = {
                writeTag(st, id, 0)
                Bytes.putVarint(st, Bytes.zigzag(v) & 0xffffffffL)
              }
              sint32(1, vs.min); sint32(2, vs.max)
              sfield(cs, 7, st.toByteArray) // DateStatistics
            case "binary" =>
              val sum = nn.map {
                case b: Array[Byte] => b.length.toLong
                case other => sys.error(s"bad binary value $other")
              }.sum
              val st = new java.io.ByteArrayOutputStream()
              writeTag(st, 1, 0)
              Bytes.putVarint(st, Bytes.zigzag(sum))
              sfield(cs, 8, st.toByteArray) // BinaryStatistics
            case "ts" =>
              val ms = nn.map(v => Math.floorDiv(
                v.asInstanceOf[Long], 1000L))
              val st = new java.io.ByteArrayOutputStream()
              def sint(id: Int, v: Long): Unit = {
                writeTag(st, id, 0)
                Bytes.putVarint(st, Bytes.zigzag(v))
              }
              sint(3, ms.min); sint(4, ms.max) // minimum/maximumUtc
              sfield(cs, 9, st.toByteArray) // TimestampStatistics
            case _ => ()
          }
          val colHasNull = ss.exists(st =>
            st._1 == 0 && st._2 == colId)
          writeTag(cs, 10, 0)
          Bytes.putVarint(cs, if (colHasNull) 1L else 0L)
          val entry = new java.io.ByteArrayOutputStream()
          sfield(entry, 2, cs.toByteArray) // RowIndexEntry.statistics
          val ri = new java.io.ByteArrayOutputStream()
          sfield(ri, 1, entry.toByteArray) // RowIndex.entry
          (6, colId, section(codecId, ri.toByteArray))
        }
      // BLOOM_FILTER_UTF8 streams (late r14): orc-core's sizing,
      // double-hashed probes, one BloomFilter message per stripe
      // (one row group). Values hash like orc-core's
      // BloomFilterUtf8: UTF-8/raw bytes through Murmur3 x64-64,
      // longs through the Thomas Wang mix.
      val bloomStreams: Seq[(Int, Int, Array[Byte])] =
        if (!withIndexes) Seq.empty
        else cols.zipWithIndex.flatMap {
          case (fc: WCol, ci) if bloom(fc.name) =>
            val nn = statVals(selfId(ci))
            if (nn == null || nn.isEmpty) Seq.empty
            else {
              val hashes = nn.map { v =>
                fc.kind match {
                  case "string" => OrcTail.murmur64(
                    v.asInstanceOf[String].getBytes("UTF-8"))
                  case "binary" => OrcTail.murmur64(
                    v.asInstanceOf[Array[Byte]])
                  case "i32" | "date" => OrcTail.orcLongHash(
                    v.asInstanceOf[Int].toLong)
                  case _ => OrcTail.orcLongHash(
                    v.asInstanceOf[Long])
                }
              }.distinct
              val (numBits, k) =
                OrcTail.bloomSizing(hashes.length, 0.05)
              val bits = new Array[Long](numBits / 64)
              hashes.foreach { h =>
                val h1 = h.toInt
                val h2 = (h >>> 32).toInt
                var i = 1
                while (i <= k) {
                  var combined = h1 + i * h2
                  if (combined < 0) combined = ~combined
                  val pos = combined % numBits
                  bits(pos >>> 6) |= 1L << (pos & 63)
                  i += 1
                }
              }
              // BloomFilter { 1: numHashFunctions, 3: utf8bitset }
              val bf = new java.io.ByteArrayOutputStream()
              vfield(bf, 1, k.toLong)
              val packed = new Array[Byte](bits.length * 8)
              var w = 0
              while (w < bits.length) {
                var j = 0
                while (j < 8) {
                  packed(w * 8 + j) =
                    ((bits(w) >>> (8 * j)) & 0xff).toByte
                  j += 1
                }
                w += 1
              }
              sfield(bf, 3, packed)
              val idx = new java.io.ByteArrayOutputStream()
              sfield(idx, 1, bf.toByteArray) // BloomFilterIndex.bloomFilter
              Seq((8, selfId(ci), section(codecId, idx.toByteArray)))
            }
          case _ => Seq.empty
        }
      (indexStreams ++ bloomStreams).foreach { case (_, _, b) =>
        buf.write(b, 0, b.length) }
      val indexLen = buf.size().toLong - offset
      ss.foreach { case (_, _, b) => buf.write(b, 0, b.length) }
      val dataLen = buf.size().toLong - offset - indexLen
      // stripe footer: index streams first, then data streams —
      // the file order
      val sf = new java.io.ByteArrayOutputStream()
      (indexStreams ++ bloomStreams ++ ss).foreach {
        case (kind, col, b) =>
        val st = new java.io.ByteArrayOutputStream()
        vfield(st, 1, kind.toLong)
        vfield(st, 2, col.toLong)
        vfield(st, 3, b.length.toLong)
        sfield(sf, 1, st.toByteArray)
      }
      locally { // root struct encoding
        val enc = new java.io.ByteArrayOutputStream()
        vfield(enc, 1, 0L) // DIRECT
        sfield(sf, 2, enc.toByteArray)
      }
      val bloomColIds: Set[Int] = cols.zipWithIndex.collect {
        case (fc: WCol, ci) if bloom(fc.name) => selfId(ci)
      }.toSet
      encodings.zipWithIndex.foreach { case ((kind, dictSize), i) =>
        val enc = new java.io.ByteArrayOutputStream()
        vfield(enc, 1, kind.toLong)
        if (dictSize > 0) vfield(enc, 2, dictSize.toLong)
        // bloomEncoding = UTF8 (1) on columns carrying kind-8 streams
        if (withIndexes && bloomColIds(i + 1))
          vfield(enc, 3, 1L)
        sfield(sf, 2, enc.toByteArray)
      }
      sfield(sf, 3, "UTC".getBytes("UTF-8"))
      val sfBytes = section(codecId, sf.toByteArray)
      buf.write(sfBytes, 0, sfBytes.length)
      StripeMeta(offset, indexLen, dataLen,
        sfBytes.length.toLong, (hi - lo).toLong)
    }

    val contentLength = buf.size().toLong
    // footer
    val f = new java.io.ByteArrayOutputStream()
    vfield(f, 1, 3L) // headerLength ("ORC")
    vfield(f, 2, contentLength)
    stripes.foreach { sm =>
      val s = new java.io.ByteArrayOutputStream()
      vfield(s, 1, sm.offset)
      vfield(s, 2, sm.indexLen)
      vfield(s, 3, sm.dataLen)
      vfield(s, 4, sm.footerLen)
      vfield(s, 5, sm.nRows)
      sfield(f, 3, s.toByteArray)
    }
    // types: root struct + one scalar per column
    locally {
      val root = new java.io.ByteArrayOutputStream()
      vfield(root, 1, 12L) // STRUCT
      cols.indices.foreach(i => vfield(root, 2, selfId(i).toLong))
      cols.foreach(c =>
        sfield(root, 3, c.name.getBytes("UTF-8")))
      sfield(f, 4, root.toByteArray)
      def scalarType(kind: String): Array[Byte] = {
        val t = new java.io.ByteArrayOutputStream()
        vfield(t, 1, orcKind(kind).toLong)
        kind match {
          case DecimalKind(pStr, sStr) =>
            vfield(t, 5, pStr.toLong) // precision
            vfield(t, 6, sStr.toLong) // scale
          case _ => ()
        }
        t.toByteArray
      }
      cols.zipWithIndex.foreach {
        case (c: WCol, _) => sfield(f, 4, scalarType(c.kind))
        case (l: WListCol, ci) =>
          val t = new java.io.ByteArrayOutputStream()
          vfield(t, 1, 10L) // LIST
          vfield(t, 2, childIds(ci).head.toLong)
          sfield(f, 4, t.toByteArray)
          sfield(f, 4, scalarType(l.elemKind))
        case (sc: WStructCol, ci) =>
          val t = new java.io.ByteArrayOutputStream()
          vfield(t, 1, 12L) // STRUCT
          childIds(ci).foreach(id => vfield(t, 2, id.toLong))
          sc.fields.foreach { case (fn, _, _) =>
            sfield(t, 3, fn.getBytes("UTF-8")) }
          sfield(f, 4, t.toByteArray)
          sc.fields.foreach { case (_, fk, _) =>
            sfield(f, 4, scalarType(fk)) }
        case (mc: WMapCol, ci) =>
          val t = new java.io.ByteArrayOutputStream()
          vfield(t, 1, 11L) // MAP
          childIds(ci).foreach(id => vfield(t, 2, id.toLong))
          sfield(f, 4, t.toByteArray)
          sfield(f, 4, scalarType(mc.keyKind))
          sfield(f, 4, scalarType(mc.valueKind))
        case (lsc: WListStructCol, ci) =>
          val t = new java.io.ByteArrayOutputStream()
          vfield(t, 1, 10L) // LIST
          vfield(t, 2, childIds(ci).head.toLong)
          sfield(f, 4, t.toByteArray)
          val st = new java.io.ByteArrayOutputStream()
          vfield(st, 1, 12L) // STRUCT element
          childIds(ci).drop(1).foreach(id =>
            vfield(st, 2, id.toLong))
          lsc.fields.foreach { case (fn, _, _) =>
            sfield(st, 3, fn.getBytes("UTF-8")) }
          sfield(f, 4, st.toByteArray)
          lsc.fields.foreach { case (_, fk, _) =>
            sfield(f, 4, scalarType(fk)) }
      }
    }
    vfield(f, 6, nRows.toLong)
    // stride 10000 when every stripe fits one index entry (the
    // emitted shape); 0 = no indexes otherwise
    vfield(f, 8, if (withIndexes) 10000L else 0L)
    val fBytes = section(codecId, f.toByteArray)
    buf.write(fBytes, 0, fBytes.length)

    // postscript (never compressed)
    val ps = new java.io.ByteArrayOutputStream()
    vfield(ps, 1, fBytes.length.toLong)
    vfield(ps, 2, codecId.toLong)
    vfield(ps, 3, BlockSize.toLong)
    writeTag(ps, 4, 0); Bytes.putVarint(ps, 0L) // version 0
    writeTag(ps, 4, 0); Bytes.putVarint(ps, 12L) // .12
    vfield(ps, 5, 0L) // metadataLength
    vfield(ps, 6, 1L) // writerVersion
    sfield(ps, 8000, "ORC".getBytes("UTF-8"))
    val psBytes = ps.toByteArray
    require(psBytes.length < 256, "postscript too large")
    buf.write(psBytes, 0, psBytes.length)
    buf.write(psBytes.length)
    buf.toByteArray
  }
}
