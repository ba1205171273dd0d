package graft.operators

/** Parquet FILE WRITER from scratch (the public parquet-format
  * spec: the Thrift compact footer layout, PageHeader framing,
  * PLAIN + dictionary encodings and the RLE/bit-packed level
  * hybrid) — the write half of the columnar audit surface:
  * [[ParquetFooter]] / [[ParquetData]] read parquet with no
  * parquet-mr on the path; this emits it, so the engine can
  * round-trip its flagship format from raw bytes in BOTH
  * directions and materialize audit fixtures without any library
  * writer.
  *
  * Scope (r14 — was flat-and-PLAIN in r13):
  *  - MULTIPLE row groups via `rowsPerGroup` (the unit a
  *    multi-executor read parallelizes on); one data page per
  *    column chunk — v1 or (late r14) DATA_PAGE_V2 framing via
  *    `pageVersion` (bare uncompressed level runs, values-only
  *    compression, null/row counts in the header) — plus a
  *    dictionary page (per group) for dictionary-encoded chunks.
  *  - DELTA_BINARY_PACKED (late r14, `delta` columns): 128-delta
  *    blocks in 4 miniblocks, zigzag min-delta + per-miniblock
  *    widths, modular arithmetic AT THE PHYSICAL WIDTH (INT32
  *    deltas wrap to 32 bits — Arrow C++ rejects widths past the
  *    type width; INT64 wraps at 64) — the sorted-id column
  *    layout real v2 writers emit.
  *  - DELTA_BYTE_ARRAY (late r14, `deltaStr` columns): shared-
  *    prefix lengths + DELTA_LENGTH suffixes, both delta-packed —
  *    and BYTE_STREAM_SPLIT (late r14, `split` columns) for
  *    FLOAT/DOUBLE byte planes; with these every value encoding
  *    [[ParquetData]] decodes is also writable.
  *  - Physical types BOOLEAN (LSB bit-packed), INT32, INT64,
  *    FLOAT, DOUBLE, BYTE_ARRAY (u32-length-prefixed; `string`
  *    kinds carry the UTF8 converted_type so Spark/DuckDB surface
  *    them as strings), plus the RICH logical kinds (late r14,
  *    symmetric with [[OrcWrite]]): `ts` (INT64 +
  *    TIMESTAMP_MICROS), `date` (INT32 + DATE) and
  *    `decimal(p≤18,s)` (INT64 + DECIMAL with scale/precision in
  *    the SchemaElement).
  *  - DICTIONARY encoding ([[WCol]] names passed in `dict`): a
  *    PLAIN_DICTIONARY dictionary page (first-occurrence order)
  *    + data-page indices as the 1-byte-width RLE/bit-packed
  *    hybrid — the corpus's dominant layout for low-cardinality
  *    strings.
  *  - NESTED 3-level LISTs ([[WListCol]]): `optional group
  *    (LIST) { repeated group list { element } }` with real
  *    repetition + definition level streams (null list / empty
  *    list / null element all distinguishable) — the
  *    list<int64> token-column shape.
  *  - Level streams are the true RLE + bit-packed hybrid
  *    (8-value groups, runs ≥ 8 collapse to RLE — the
  *    parquet-mr heuristic), not RLE-only.
  *  - Codecs: UNCOMPRESSED, SNAPPY, GZIP and ZSTD (stored-block
  *    frames via [[Zstd.encodeStore]] — valid zstd, no entropy
  *    coding) — verified on read by four independent readers
  *    (parquet-mr via Spark, DuckDB in the gate, [[ParquetData]],
  *    and the footer walk).
  *
  * The Thrift compact writer emits exactly the field set the spec
  * marks required (plus created_by), with delta field ids and
  * zigzag varints — the same wire layer [[ParquetFooter]]'s reader
  * walks, so a framing slip is caught by our own reader before any
  * external one. Validation: ParquetWriteSpec round-trips through
  * Spark's reader AND [[ParquetData.decodeFile]]/
  * [[ParquetData.decodeFileDeep]]; the `parquet_write_roundtrip`
  * and `parquet_write_nested` gates have Spark's parquet-mr read
  * OUR executor-written shard files under the documents oracle. */
object ParquetWrite {

  sealed trait AnyWCol {
    def name: String
    def rows: Int
  }

  /** One flat column: `kind` ∈ boolean/i32/i64/f32/f64/string/
    * binary/ts/date/decimal(p,s); one Option per row (None only
    * when `optional`). `ts` values are epoch MICROS (Long,
    * TIMESTAMP_MICROS annotation), `date` epoch days (Int, DATE),
    * `decimal` java.math.BigDecimal at exactly the declared scale
    * (INT64 + DECIMAL(p≤18,s)). */
  final case class WCol(name: String, kind: String,
      optional: Boolean, values: IndexedSeq[Option[Any]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One 3-level LIST column: outer None = null list (needs
    * `optional`), inner None = null element (needs
    * `elemOptional`); `elemKind` ∈ the [[WCol]] kinds minus
    * boolean. */
  final case class WListCol(name: String, elemKind: String,
      optional: Boolean, elemOptional: Boolean,
      values: IndexedSeq[Option[Seq[Option[Any]]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One flat STRUCT column (r14): `fields` = (name, kind,
    * optional) per field; a row is None (null struct, needs
    * `optional`) or the field values in order. */
  final case class WStructCol(name: String, optional: Boolean,
      fields: Seq[(String, String, Boolean)],
      values: IndexedSeq[Option[Seq[Option[Any]]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One LIST-OF-STRUCT column (late r14): `optional group (LIST)
    * { repeated group list { element { fields } } }` — one column
    * chunk per struct field, all sharing one repetition structure.
    * A row is None (null list), Some(Seq.empty) (empty list) or a
    * seq of elements, each None (null struct, needs
    * `elemOptional`) or the field values in order. */
  final case class WListStructCol(name: String, optional: Boolean,
      elemOptional: Boolean, fields: Seq[(String, String, Boolean)],
      values: IndexedSeq[Option[Seq[Option[Seq[Option[Any]]]]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  /** One MAP column (late r14 — symmetric with
    * [[OrcWrite.WMapCol]]): `optional group (MAP) { repeated group
    * key_value { required key; value } }` — the key and value
    * leaves are two column chunks sharing one repetition
    * structure. Keys are never null (the parquet/Spark map
    * contract); values may be None when `valueOptional`. Kinds
    * from the scalar [[WCol]] set minus boolean. */
  final case class WMapCol(name: String, keyKind: String,
      valueKind: String, optional: Boolean, valueOptional: Boolean,
      values: IndexedSeq[Option[Seq[(Any, Option[Any])]]])
      extends AnyWCol {
    def rows: Int = values.length
  }

  private[graft] val DecimalKind = """decimal\((\d+),(\d+)\)""".r

  private def physType(kind: String): Int = kind match {
    case "boolean" => 0
    case "i32" | "date" => 1
    case "i64" | "ts" => 2
    case "f32" => 4
    case "f64" => 5
    case "string" | "binary" => 6
    case DecimalKind(pStr, sStr) =>
      // the plain stream carries the unscaled value as an INT64 —
      // bound precision up front instead of overflowing mid-page
      require(pStr.toInt >= 1 && pStr.toInt <= 18 &&
        sStr.toInt >= 0 && sStr.toInt <= pStr.toInt,
        s"decimal precision 1..18 supported ($kind)")
      2
    case k => sys.error(s"unsupported column kind $k")
  }

  // ---------------------------------------------------------------
  // Thrift compact writer (the wire twin of ParquetFooter.TCompact)
  // ---------------------------------------------------------------

  private final class TWriter {
    val out = new java.io.ByteArrayOutputStream(256)
    private var stack: List[Int] = List(0)

    def varint(v0: Long): Unit = Bytes.putVarint(out, v0)
    private def zig(v: Long): Unit = varint(Bytes.zigzag(v))

    def fieldBegin(id: Int, tpe: Int): Unit = {
      val delta = id - stack.head
      if (delta >= 1 && delta <= 15) out.write((delta << 4) | tpe)
      else { out.write(tpe); zig(id.toLong) }
      stack = id :: stack.tail
    }
    def i32(id: Int, v: Long): Unit = { fieldBegin(id, 5); zig(v) }
    def i64(id: Int, v: Long): Unit = { fieldBegin(id, 6); zig(v) }
    def binary(id: Int, b: Array[Byte]): Unit = {
      fieldBegin(id, 8)
      varint(b.length.toLong)
      out.write(b, 0, b.length)
    }
    def str(id: Int, s: String): Unit =
      binary(id, s.getBytes("UTF-8"))
    /** Open a struct FIELD; every struct tracks its own last id. */
    def structBegin(id: Int): Unit = {
      fieldBegin(id, 12)
      stack = 0 :: stack
    }
    def structEnd(): Unit = {
      out.write(0)
      stack = stack.tail
    }
    /** Open a list FIELD of struct elements (or scalars). */
    def listBegin(id: Int, elemType: Int, size: Int): Unit = {
      fieldBegin(id, 9)
      if (size < 15) out.write((size << 4) | elemType)
      else { out.write(0xf0 | elemType); varint(size.toLong) }
    }
    /** A struct LIST ELEMENT (no field header). */
    def elemStructBegin(): Unit = { stack = 0 :: stack }
    def elemStructEnd(): Unit = { out.write(0); stack = stack.tail }
    def stop(): Unit = out.write(0)
    def bytes: Array[Byte] = out.toByteArray
  }

  // ---------------------------------------------------------------
  // Value + level encoders
  // ---------------------------------------------------------------

  /** The RLE / bit-packed hybrid (parquet-format Encodings.md):
    * values buffer in 8-value groups; a run of ≥ 8 identical
    * values ends the current bit-packed run and becomes an RLE
    * run `varint(count<<1) value-LE-bytes`; bit-packed runs are
    * `varint(groups<<1|1)` + groups×width bytes (LSB-first
    * packing), at most 63 groups per header (single-byte header
    * patch). The encoder used for level streams AND dictionary
    * indices. */
  private[graft] def rleHybrid(vals: IndexedSeq[Int], width: Int)
      : Array[Byte] = {
    require(width >= 1 && width <= 16, s"bad hybrid width $width")
    val out = new java.io.ByteArrayOutputStream()
    val valBytes = (width + 7) / 8
    val buffered = new Array[Int](8)
    var nBuf = 0
    var repeat = 0
    var prev = -1
    // current bit-packed run: packed group bytes accumulate in a
    // side buffer; the single-byte header lands when the run ends
    val bpBuf = new java.io.ByteArrayOutputStream()
    var bpGroups = 0
    def endBitPacked(): Unit = if (bpGroups > 0) {
      out.write((bpGroups << 1) | 1)
      val b = bpBuf.toByteArray
      out.write(b, 0, b.length)
      bpBuf.reset(); bpGroups = 0
    }
    def pack8(): Unit = {
      if (bpGroups >= 63) endBitPacked()
      var acc = 0L
      var bits = 0
      var i = 0
      while (i < 8) {
        acc |= (buffered(i).toLong & ((1L << width) - 1)) << bits
        bits += width
        while (bits >= 8) {
          bpBuf.write((acc & 0xff).toInt); acc >>>= 8; bits -= 8
        }
        i += 1
      }
      if (bits > 0) bpBuf.write((acc & 0xff).toInt)
      bpGroups += 1
      nBuf = 0
      repeat = 0
    }
    def writeRle(): Unit = {
      endBitPacked()
      Bytes.putVarint(out, repeat.toLong << 1)
      var i = 0
      while (i < valBytes) {
        out.write((prev >>> (8 * i)) & 0xff); i += 1
      }
      repeat = 0
      nBuf = 0
    }
    vals.foreach { value =>
      require(value >= 0 && (width == 16 || value < (1 << width)),
        s"value $value exceeds width $width")
      var skip = false
      if (value == prev) {
        repeat += 1
        if (repeat >= 8) skip = true // inside a growing RLE run
      } else {
        if (repeat >= 8) writeRle()
        repeat = 1
        prev = value
      }
      if (!skip) {
        buffered(nBuf) = value; nBuf += 1
        if (nBuf == 8) pack8()
      }
    }
    if (repeat >= 8) writeRle()
    else if (nBuf > 0) {
      // pad the final group with zeros — the reader stops at the
      // page's value count, padding is never surfaced
      java.util.Arrays.fill(buffered, nBuf, 8, 0)
      nBuf = 8
      pack8()
    }
    endBitPacked()
    out.toByteArray
  }

  /** DELTA_BINARY_PACKED (late r14): blocks of 128 deltas in 4
    * miniblocks of 32, zigzag-varint min-delta + per-miniblock
    * widths; the last block writes width bytes for ALL miniblocks
    * but data only for those carrying values (the parquet-mr
    * layout [[ParquetData]]'s decoder expects). Values as Longs —
    * INT32 columns reconstruct by 32-bit wrap per spec. */
  private[graft] def deltaBinaryPackedEnc(vals: Seq[Long],
      bits32: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(vals.length)
    def varint(v0: Long): Unit = Bytes.putVarint(out, v0)
    def zig(v: Long): Unit = varint(Bytes.zigzag(v))
    varint(128L); varint(4L); varint(vals.length.toLong)
    zig(if (vals.isEmpty) 0L else vals.head)
    var i = 1
    while (i < vals.length) {
      val n = math.min(128, vals.length - i)
      val deltas = new Array[Long](128)
      var minD = Long.MaxValue
      var k = 0
      while (k < n) {
        // the spec's MODULAR arithmetic at the physical width:
        // INT32 deltas wrap to 32 bits so miniblock widths never
        // exceed 32 (Arrow C++ rejects width > type width)
        val d = vals(i + k) - vals(i + k - 1)
        deltas(k) = if (bits32) d.toInt.toLong else d
        if (deltas(k) < minD) minD = deltas(k)
        k += 1
      }
      k = 0
      while (k < n) {
        val a = deltas(k) - minD
        deltas(k) = if (bits32) a.toInt.toLong & 0xffffffffL else a
        k += 1
      }
      zig(minD)
      val widths = new Array[Int](4)
      var mb = 0
      while (mb < 4) {
        var maxV = 0L
        var j = mb * 32
        val hi = math.min((mb + 1) * 32, n)
        while (j < hi) {
          // UNSIGNED: delta − minDelta wraps mod 2^64 (the spec's
          // modular arithmetic); a signed max under-sizes the width
          if (java.lang.Long.compareUnsigned(deltas(j), maxV) > 0)
            maxV = deltas(j)
          j += 1 }
        widths(mb) =
          if (hi <= mb * 32 || maxV == 0) 0
          else 64 - java.lang.Long.numberOfLeadingZeros(maxV)
        out.write(widths(mb))
        mb += 1
      }
      mb = 0
      while (mb < 4 && mb * 32 < n) {
        val bw = widths(mb)
        if (bw > 0) {
          // 32 values LSB-first at bw bits = 4*bw bytes; values
          // add in ≤32-bit pieces so the accumulator never
          // overflows at widths past 56
          var acc = 0L
          var bits = 0
          def addBits(v: Long, w: Int): Unit = {
            var rem = w
            var x = v
            while (rem > 0) {
              val take = math.min(32, rem)
              acc |= (x & ((1L << take) - 1)) << bits
              bits += take
              x >>>= take
              rem -= take
              while (bits >= 8) {
                out.write((acc & 0xff).toInt); acc >>>= 8
                bits -= 8
              }
            }
          }
          var j = mb * 32
          while (j < (mb + 1) * 32) {
            addBits(if (j < n) deltas(j) else 0L, bw)
            j += 1
          }
          if (bits > 0) out.write((acc & 0xff).toInt)
        }
        mb += 1
      }
      i += n
    }
    out.toByteArray
  }

  /** BYTE_STREAM_SPLIT (encoding 9, late r14): plane k holds byte
    * k of every value — the FLOAT/DOUBLE layout that makes general
    * compressors bite on similar exponents. `width` 4 or 8. */
  private[graft] def byteStreamSplitEnc(plain: Array[Byte],
      width: Int): Array[Byte] = {
    require(plain.length % width == 0, "ragged split plane")
    val n = plain.length / width
    val out = new Array[Byte](plain.length)
    var i = 0
    while (i < n) {
      var k = 0
      while (k < width) {
        out(k * n + i) = plain(i * width + k); k += 1
      }
      i += 1
    }
    out
  }

  /** DELTA_BYTE_ARRAY (encoding 7, late r14): delta-packed shared-
    * prefix lengths, then DELTA_LENGTH_BYTE_ARRAY suffixes
    * (delta-packed suffix lengths + concatenated suffix bytes) —
    * the sorted-string layout real v2 writers emit. */
  private[graft] def deltaByteArrayEnc(vals: Seq[Array[Byte]])
      : Array[Byte] = {
    val n = vals.length
    val prefixLens = new Array[Long](n)
    val suffixes = new Array[Array[Byte]](n)
    var prev: Array[Byte] = Array.emptyByteArray
    var i = 0
    while (i < n) {
      val v = vals(i)
      var p = 0
      val maxP = math.min(prev.length, v.length)
      while (p < maxP && prev(p) == v(p)) p += 1
      prefixLens(i) = p.toLong
      suffixes(i) = java.util.Arrays.copyOfRange(v, p, v.length)
      prev = v
      i += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    val a = deltaBinaryPackedEnc(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(prefixLens),
      bits32 = true)
    out.write(a, 0, a.length)
    val b = deltaBinaryPackedEnc(
      suffixes.map(_.length.toLong).toIndexedSeq, bits32 = true)
    out.write(b, 0, b.length)
    suffixes.foreach(s => out.write(s, 0, s.length))
    out.toByteArray
  }

  /** Split-block bloom bitset (BloomFilter.md, late r14 — the
    * write twin of [[ParquetFooter.parseBloom]]): 256-bit blocks of
    * eight 32-bit words, block picked by the fixed-point scaling of
    * the hash's high half, one salted bit per word from the low
    * half. Byte-exact against parquet-mr's BlockSplitBloomFilter
    * in the spec. */
  private[operators] def bloomBuild(hashes: Seq[Long],
      numBytes: Int): Array[Byte] = {
    require(numBytes >= 32 && (numBytes & (numBytes - 1)) == 0,
      s"bloom size $numBytes")
    val bits = new Array[Byte](numBytes)
    val numBlocks = numBytes / 32
    hashes.foreach { h =>
      val block = (((h >>> 32) * numBlocks.toLong) >>> 32).toInt
      val key = h.toInt
      var i = 0
      while (i < 8) {
        val bit = (key * ParquetFooter.BloomSalt(i)) >>> 27
        val at = block * 32 + i * 4 + (bit >> 3)
        bits(at) = (bits(at) | (1 << (bit & 7))).toByte
        i += 1
      }
    }
    bits
  }

  /** ~11 bits per distinct value (≈1% fpp), power-of-two bytes,
    * floor 32, cap 1 MiB. */
  private[operators] def bloomNumBytes(ndv: Int): Int = {
    var n = 32
    while (n < (1 << 20) && n.toLong * 8 < ndv.toLong * 11) n <<= 1
    n
  }

  /** xxHash64 over the value's bloom encoding (PLAIN bytes; raw
    * bytes for strings/binary). None for kinds blooms don't map
    * onto. */
  private def bloomHash(kind: String, v: Any): Option[Long] =
    kind match {
      case "i32" | "date" =>
        val b = new Array[Byte](4)
        val x = v.asInstanceOf[Int]
        Bytes.setLe32(b, 0, x)
        Some(Zstd.xxh64(b, 0, 4))
      case "i64" | "ts" =>
        Some(ParquetFooter.bloomHashLong(v.asInstanceOf[Long]))
      case DecimalKind(_, _) =>
        Some(ParquetFooter.bloomHashLong(
          v.asInstanceOf[java.math.BigDecimal]
            .unscaledValue.longValueExact))
      case "f32" =>
        // ±0.0 normalizes to +0.0 before hashing (the caller also
        // inserts the -0.0 pattern when any zero is present, so a
        // probe under EITHER convention hits)
        val f = v.asInstanceOf[Float]
        val b = new Array[Byte](4)
        val x = java.lang.Float.floatToIntBits(
          if (f == 0f) 0f else f)
        Bytes.setLe32(b, 0, x)
        Some(Zstd.xxh64(b, 0, 4))
      case "f64" =>
        val d = v.asInstanceOf[Double]
        Some(ParquetFooter.bloomHashLong(java.lang.Double
          .doubleToLongBits(if (d == 0d) 0d else d)))
      case "string" =>
        Some(ParquetFooter.bloomHashBinary(
          v.asInstanceOf[String].getBytes("UTF-8")))
      case "binary" =>
        Some(ParquetFooter.bloomHashBinary(
          v.asInstanceOf[Array[Byte]]))
      case _ => None
    }

  private def u32Prefixed(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length + 4)
    Bytes.putLe32(out, b.length.toLong)
    out.write(b, 0, b.length)
    out.toByteArray
  }

  private def bitsFor(maxValue: Int): Int = {
    var b = 1
    while ((1 << b) <= maxValue) b += 1
    b
  }

  private def plainValues(kind: String, vals: Seq[Any])
      : Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    kind match {
      case "boolean" =>
        var acc = 0
        var n = 0
        vals.foreach { v =>
          if (v.asInstanceOf[Boolean]) acc |= 1 << n
          n += 1
          if (n == 8) { b.write(acc); acc = 0; n = 0 }
        }
        if (n > 0) b.write(acc)
      case "i32" | "date" =>
        vals.foreach(v => Bytes.putLe32(b, v.asInstanceOf[Int].toLong))
      case "i64" | "ts" =>
        vals.foreach { v =>
          val l = v.asInstanceOf[Long]
          Bytes.putLe64(b, l)
        }
      case DecimalKind(_, sStr) =>
        val scale = sStr.toInt
        vals.foreach { v =>
          val bd = v.asInstanceOf[java.math.BigDecimal]
          require(bd.scale == scale, s"decimal scale drift: $bd")
          val l = bd.unscaledValue.longValueExact
          Bytes.putLe64(b, l)
        }
      case "f32" =>
        vals.foreach(v => Bytes.putLe32(b,
          java.lang.Float.floatToIntBits(v.asInstanceOf[Float])
            .toLong & 0xffffffffL))
      case "f64" =>
        vals.foreach { v =>
          val l = java.lang.Double
            .doubleToLongBits(v.asInstanceOf[Double])
          Bytes.putLe64(b, l)
        }
      case "string" =>
        vals.foreach { v =>
          val s = v.asInstanceOf[String].getBytes("UTF-8")
          Bytes.putLe32(b, s.length.toLong); b.write(s, 0, s.length)
        }
      case "binary" =>
        vals.foreach { v =>
          val s = v.asInstanceOf[Array[Byte]]
          Bytes.putLe32(b, s.length.toLong); b.write(s, 0, s.length)
        }
      case k => sys.error(s"unsupported column kind $k")
    }
    b.toByteArray
  }

  private def codecIdOf(codec: String): Int = codec match {
    case "uncompressed" => 0
    case "snappy" => 1
    case "gzip" => 2
    case "zstd" => 6
    case c => sys.error(s"unsupported codec $c")
  }

  private def compress(codec: String, raw: Array[Byte])
      : (Int, Array[Byte]) = codec match {
    case "uncompressed" => (0, raw)
    case "snappy" => (1, SnappyCodec.compress(raw))
    case "gzip" =>
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close()
      (2, bos.toByteArray)
    case "zstd" => // stored-block frames: valid zstd, no entropy
      (6, Zstd.encodeStore(raw))
    case c => sys.error(s"unsupported codec $c")
  }

  // ---------------------------------------------------------------
  // Per-column preparation (levels + present values + schema path)
  // ---------------------------------------------------------------

  private final case class PreparedCol(
      col: AnyWCol,
      kind: String, // the LEAF kind
      path: Seq[String],
      maxRep: Int, maxDef: Int,
      reps: IndexedSeq[Int], defs: IndexedSeq[Int],
      present: IndexedSeq[Any],
      numValues: Int)

  /** Per-chunk (min, max, nullCount) for the ColumnIndex —
    * PLAIN-encoded bounds per the page-index spec (raw value
    * bytes, NO length prefix on byte arrays). None where an index
    * doesn't apply: nested paths, booleans (a 1-bit domain prunes
    * nothing) and float chunks carrying NaN (whose ordering the
    * spec leaves to writers — omission is the safe choice). An
    * all-null chunk gets empty bounds + nullPages=true. */
  private def chunkStats(pc: PreparedCol)
      : Option[(Array[Byte], Array[Byte], Long)] = {
    if (pc.maxRep != 0 || pc.path.length != 1) return None
    val nulls = pc.col.rows.toLong - pc.present.length
    def le(put: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream(8); put(o); o.toByteArray
    }
    def le32(v: Int): Array[Byte] = le(Bytes.putLe32(_, v))
    def le64(v: Long): Array[Byte] = le(Bytes.putLe64(_, v))
    if (pc.present.isEmpty)
      return Some((Array.emptyByteArray, Array.emptyByteArray, nulls))
    pc.kind match {
      case "boolean" => None
      case "i32" | "date" =>
        val vs = pc.present.map(_.asInstanceOf[Int])
        Some((le32(vs.min), le32(vs.max), nulls))
      case "i64" | "ts" =>
        val vs = pc.present.map(_.asInstanceOf[Long])
        Some((le64(vs.min), le64(vs.max), nulls))
      case DecimalKind(_, _) =>
        var mn = pc.present.head.asInstanceOf[java.math.BigDecimal]
        var mx = mn
        pc.present.foreach { v =>
          val bd = v.asInstanceOf[java.math.BigDecimal]
          if (bd.compareTo(mn) < 0) mn = bd
          if (bd.compareTo(mx) > 0) mx = bd
        }
        Some((le64(mn.unscaledValue.longValueExact),
          le64(mx.unscaledValue.longValueExact), nulls))
      case "f32" =>
        val vs = pc.present.map(_.asInstanceOf[Float])
        if (vs.exists(_.isNaN)) None
        else {
          // the page-index spec's zero rule: a zero min publishes
          // as -0.0 and a zero max as +0.0, so byte-order consumers
          // can never prune the numerically-equal other zero
          var mn = vs.min
          var mx = vs.max
          if (mn == 0f) mn = -0f
          if (mx == 0f) mx = 0f
          Some((le32(java.lang.Float.floatToIntBits(mn)),
            le32(java.lang.Float.floatToIntBits(mx)), nulls))
        }
      case "f64" =>
        val vs = pc.present.map(_.asInstanceOf[Double])
        if (vs.exists(_.isNaN)) None
        else {
          var mn = vs.min
          var mx = vs.max
          if (mn == 0d) mn = -0d
          if (mx == 0d) mx = 0d
          Some((le64(java.lang.Double.doubleToLongBits(mn)),
            le64(java.lang.Double.doubleToLongBits(mx)), nulls))
        }
      case "string" | "binary" =>
        var mn: Array[Byte] = null
        var mx: Array[Byte] = null
        pc.present.foreach { v =>
          val b = v match {
            case s: String => s.getBytes("UTF-8")
            case a: Array[Byte] => a
            case other => sys.error(s"bad byte-array value $other")
          }
          if (mn == null ||
            java.util.Arrays.compareUnsigned(b, mn) < 0) mn = b
          if (mx == null ||
            java.util.Arrays.compareUnsigned(b, mx) > 0) mx = b
        }
        Some((mn, mx, nulls))
      case _ => None
    }
  }

  private def prepare(c: AnyWCol): PreparedCol = c match {
    case fc: WCol =>
      fc.values.foreach(v => require(fc.optional || v.isDefined,
        s"null in required column ${fc.name}"))
      val maxDef = if (fc.optional) 1 else 0
      PreparedCol(fc, fc.kind, Seq(fc.name), 0, maxDef,
        IndexedSeq.empty,
        if (fc.optional) fc.values.map(v => if (v.isDefined) 1 else 0)
        else IndexedSeq.empty,
        fc.values.flatten, fc.values.length)
    case _: WStructCol | _: WMapCol | _: WListStructCol =>
      sys.error("multi-chunk columns expand via prepareAll")
    case lc: WListCol =>
      require(lc.elemKind != "boolean",
        "boolean list elements unsupported")
      val dOuter = if (lc.optional) 1 else 0
      val maxDef = dOuter + 1 + (if (lc.elemOptional) 1 else 0)
      val reps = IndexedSeq.newBuilder[Int]
      val defs = IndexedSeq.newBuilder[Int]
      val present = IndexedSeq.newBuilder[Any]
      var n = 0
      lc.values.foreach {
        case None =>
          require(lc.optional,
            s"null list in required column ${lc.name}")
          reps += 0; defs += dOuter - 1; n += 1
        case Some(xs) if xs.isEmpty =>
          reps += 0; defs += dOuter; n += 1
        case Some(xs) =>
          xs.zipWithIndex.foreach { case (e, i) =>
            reps += (if (i == 0) 0 else 1)
            e match {
              case Some(v) => defs += maxDef; present += v
              case None =>
                require(lc.elemOptional,
                  s"null element in ${lc.name}")
                defs += maxDef - 1
            }
            n += 1
          }
      }
      PreparedCol(lc, lc.elemKind,
        Seq(lc.name, "list", "element"), 1, maxDef,
        reps.result(), defs.result(), present.result(), n)
  }

  /** One column → its column CHUNKS (structs expand to one chunk
    * per field, maps to a key chunk + a value chunk; everything
    * else is 1:1). */
  private def prepareAll(c: AnyWCol): Seq[PreparedCol] = c match {
    case lsc: WListStructCol =>
      require(lsc.fields.nonEmpty, "empty struct element")
      val dOuter = if (lsc.optional) 1 else 0
      // element-group level: an element slot exists; +1 when the
      // element group itself is optional (null structs in the list)
      val dElem = dOuter + 1 + (if (lsc.elemOptional) 1 else 0)
      val reps = IndexedSeq.newBuilder[Int]
      val fDefs = lsc.fields.map(_ => IndexedSeq.newBuilder[Int])
      val fVals = lsc.fields.map(_ => IndexedSeq.newBuilder[Any])
      var n = 0
      def slot(rep: Int, def0: Int): Unit = {
        reps += rep
        fDefs.foreach(_ += def0)
        n += 1
      }
      lsc.values.foreach {
        case None =>
          require(lsc.optional,
            s"null list in required column ${lsc.name}")
          slot(0, dOuter - 1)
        case Some(es) if es.isEmpty => slot(0, dOuter)
        case Some(es) =>
          es.zipWithIndex.foreach { case (e, i) =>
            val rep = if (i == 0) 0 else 1
            e match {
              case None =>
                require(lsc.elemOptional,
                  s"null element in ${lsc.name}")
                slot(rep, dElem - 1)
              case Some(fvs) =>
                require(fvs.length == lsc.fields.length,
                  s"struct arity drift in ${lsc.name}")
                reps += rep
                n += 1
                fvs.zip(lsc.fields).zipWithIndex.foreach {
                  case ((v, (fn, _, fOpt)), fi) =>
                    val maxDef = dElem + (if (fOpt) 1 else 0)
                    v match {
                      case Some(x) =>
                        fDefs(fi) += maxDef
                        fVals(fi) += x
                      case None =>
                        require(fOpt,
                          s"null field $fn in ${lsc.name}")
                        fDefs(fi) += maxDef - 1
                    }
                }
            }
          }
      }
      val r = reps.result()
      lsc.fields.zipWithIndex.map { case ((fn, fk, fOpt), fi) =>
        PreparedCol(lsc, fk,
          Seq(lsc.name, "list", "element", fn), 1,
          dElem + (if (fOpt) 1 else 0),
          r, fDefs(fi).result(), fVals(fi).result(), n)
      }
    case mc: WMapCol =>
      require(mc.keyKind != "boolean" && mc.valueKind != "boolean",
        "boolean map keys/values unsupported")
      val dOuter = if (mc.optional) 1 else 0
      // key leaf: dOuter + 1 (repeated group); value adds one more
      // when optional. Both leaves share the repetition structure.
      val kMaxDef = dOuter + 1
      val vMaxDef = kMaxDef + (if (mc.valueOptional) 1 else 0)
      val reps = IndexedSeq.newBuilder[Int]
      val kDefs = IndexedSeq.newBuilder[Int]
      val vDefs = IndexedSeq.newBuilder[Int]
      val keys = IndexedSeq.newBuilder[Any]
      val vals = IndexedSeq.newBuilder[Any]
      var n = 0
      mc.values.foreach {
        case None =>
          require(mc.optional,
            s"null map in required column ${mc.name}")
          reps += 0; kDefs += dOuter - 1; vDefs += dOuter - 1
          n += 1
        case Some(kvs) if kvs.isEmpty =>
          reps += 0; kDefs += dOuter; vDefs += dOuter; n += 1
        case Some(kvs) =>
          kvs.zipWithIndex.foreach { case ((k, v), i) =>
            reps += (if (i == 0) 0 else 1)
            kDefs += kMaxDef
            keys += k
            v match {
              case Some(x) => vDefs += vMaxDef; vals += x
              case None =>
                require(mc.valueOptional,
                  s"null value in ${mc.name}")
                vDefs += vMaxDef - 1
            }
            n += 1
          }
      }
      val r = reps.result()
      Seq(
        PreparedCol(mc, mc.keyKind,
          Seq(mc.name, "key_value", "key"), 1, kMaxDef,
          r, kDefs.result(), keys.result(), n),
        PreparedCol(mc, mc.valueKind,
          Seq(mc.name, "key_value", "value"), 1, vMaxDef,
          r, vDefs.result(), vals.result(), n))
    case sc: WStructCol =>
      require(sc.fields.nonEmpty, "empty struct")
      val oGroup = if (sc.optional) 1 else 0
      sc.fields.zipWithIndex.map { case ((fn, fk, fOpt), fi) =>
        val maxDef = oGroup + (if (fOpt) 1 else 0)
        val defs = IndexedSeq.newBuilder[Int]
        val present = IndexedSeq.newBuilder[Any]
        sc.values.foreach {
          case None =>
            require(sc.optional,
              s"null struct in required column ${sc.name}")
            defs += oGroup - 1
          case Some(fvs) =>
            require(fvs.length == sc.fields.length,
              s"struct arity drift in ${sc.name}")
            fvs(fi) match {
              case Some(v) => defs += maxDef; present += v
              case None =>
                require(fOpt, s"null field $fn in ${sc.name}")
                defs += maxDef - 1
            }
        }
        PreparedCol(sc, fk, Seq(sc.name, fn), 0, maxDef,
          IndexedSeq.empty, defs.result(), present.result(),
          sc.values.length)
      }
    case other => Seq(prepare(other))
  }

  // ---------------------------------------------------------------
  // Build
  // ---------------------------------------------------------------

  /** One parquet file: PAR1, one row group, one v1 data page per
    * column chunk (a PLAIN_DICTIONARY dictionary page first for
    * columns named in `dict`), Thrift-compact footer, length,
    * PAR1. */
  def build(cols: Seq[AnyWCol], codec: String = "snappy",
      // the parquet-mr VersionParser form "app version v (build b)":
      // an UNPARSEABLE created_by makes parquet-mr flag
      // DELTA_BYTE_ARRAY files as PARQUET-246-corrupt (the bug was
      // parquet-mr-specific; parsable non-parquet-mr apps are exempt)
      createdBy: String = "graft version 1.0.0 (build graft)",
      dict: Set[String] = Set.empty,
      // r14: multiple row groups — the unit a multi-executor read
      // parallelizes on, and what bounds reader memory per task
      rowsPerGroup: Int = Int.MaxValue,
      // late r14: DATA_PAGE_V2 framing (bare uncompressed levels,
      // values-only compression) and DELTA_BINARY_PACKED for the
      // named int-physical WCols
      pageVersion: Int = 1,
      delta: Set[String] = Set.empty,
      // late r14: BYTE_STREAM_SPLIT for the named FLOAT/DOUBLE
      // WCols and DELTA_BYTE_ARRAY for the named string/binary
      // WCols — completing value-encoding symmetry with the reader
      split: Set[String] = Set.empty,
      deltaStr: Set[String] = Set.empty,
      // late r14: split-block bloom filters for the named flat
      // columns (equality-pruning for what min/max can't exclude)
      bloom: Set[String] = Set.empty): Array[Byte] = {
    require(cols.nonEmpty, "no columns")
    require(rowsPerGroup > 0, "rowsPerGroup must be positive")
    require(pageVersion == 1 || pageVersion == 2,
      s"pageVersion 1 or 2, got $pageVersion")
    delta.foreach { d =>
      require(!dict(d), s"column $d cannot be both dict and delta")
      cols.find(_.name == d) match {
        case Some(c: WCol) => require(physType(c.kind) == 1 ||
          physType(c.kind) == 2,
          s"DELTA_BINARY_PACKED is for int columns (${c.name})")
        case Some(_) =>
          sys.error(s"delta on non-scalar column $d unsupported")
        case None => sys.error(s"delta column $d not present")
      }
    }
    split.foreach { d =>
      require(!dict(d) && !delta(d) && !deltaStr(d),
        s"column $d: conflicting encodings")
      cols.find(_.name == d) match {
        case Some(c: WCol) => require(physType(c.kind) == 4 ||
          physType(c.kind) == 5,
          s"BYTE_STREAM_SPLIT is for float columns (${c.name})")
        case Some(_) =>
          sys.error(s"split on non-scalar column $d unsupported")
        case None => sys.error(s"split column $d not present")
      }
    }
    deltaStr.foreach { d =>
      require(!dict(d) && !delta(d),
        s"column $d: conflicting encodings")
      cols.find(_.name == d) match {
        case Some(c: WCol) => require(physType(c.kind) == 6,
          s"DELTA_BYTE_ARRAY is for string/binary columns (${c.name})")
        case Some(_) =>
          sys.error(s"deltaStr on non-scalar column $d unsupported")
        case None => sys.error(s"deltaStr column $d not present")
      }
    }
    bloom.foreach { d =>
      cols.find(_.name == d) match {
        case Some(c: WCol) => require(c.kind != "boolean",
          s"a boolean bloom filter prunes nothing (${c.name})")
        case Some(_) =>
          sys.error(s"bloom on non-scalar column $d unsupported")
        case None => sys.error(s"bloom column $d not present")
      }
    }
    val nRows = cols.head.rows
    require(cols.forall(_.rows == nRows), "ragged column lengths")
    dict.foreach { d =>
      val c = cols.find(_.name == d).getOrElse(
        sys.error(s"dict column $d not present"))
      val k = c match {
        case fc: WCol => fc.kind
        case lc: WListCol => lc.elemKind
        case _ =>
          sys.error(s"dictionary on struct/map column $d unsupported")
      }
      require(k != "boolean", "boolean dictionaries unsupported")
    }
    val buf = new java.io.ByteArrayOutputStream(4096)
    buf.write('P'); buf.write('A'); buf.write('R'); buf.write('1')

    def sliceCol(c: AnyWCol, lo: Int, hi: Int): AnyWCol = c match {
      case fc: WCol => fc.copy(values = fc.values.slice(lo, hi))
      case lc: WListCol => lc.copy(values = lc.values.slice(lo, hi))
      case sc: WStructCol =>
        sc.copy(values = sc.values.slice(lo, hi))
      case mc: WMapCol => mc.copy(values = mc.values.slice(lo, hi))
      case lsc: WListStructCol =>
        lsc.copy(values = lsc.values.slice(lo, hi))
    }
    val groupRanges: Seq[(Int, Int)] =
      if (nRows == 0) Seq((0, 0))
      else (0 until nRows by math.min(rowsPerGroup, nRows))
        .map(g => (g, math.min(g + rowsPerGroup, nRows)))

    final case class ChunkMeta(pc: PreparedCol, codecId: Int,
        chunkOffset: Long, dataPageOffset: Long,
        dictPageOffset: Option[Long], comp: Long, uncomp: Long,
        useDict: Boolean, valueEnc: Long, dataPageSize: Int,
        stats: Option[(Array[Byte], Array[Byte], Long)],
        bloomHashes: Option[Seq[Long]])
    def emitChunk(pc: PreparedCol): ChunkMeta = {
      // dictionary keys: byte arrays compare by value, not identity
      def key(v: Any): Any = v match {
        case b: Array[Byte] => b.toSeq
        case x => x
      }
      // oversized dictionaries fall back to PLAIN (the hybrid
      // index width caps at 16 bits; real writers spill the same
      // way when a dictionary stops paying)
      val useDict = dict(pc.col.name) && {
        val distinct = scala.collection.mutable.HashSet[Any]()
        var ok = true
        val it = pc.present.iterator
        while (ok && it.hasNext) {
          distinct += key(it.next())
          if (distinct.size > (1 << 16)) ok = false
        }
        ok
      }
      val chunkOffset = buf.size().toLong
      var comp = 0L
      var uncomp = 0L
      // optional dictionary page
      val (dictOff, dictIndex) =
        if (!useDict) (None, null)
        else {
          val order = IndexedSeq.newBuilder[Any]
          val idx = new java.util.LinkedHashMap[Any, Integer]()
          pc.present.foreach { v =>
            if (!idx.containsKey(key(v))) {
              idx.put(key(v), idx.size()); order += v
            }
          }
          val entries = order.result()
          val raw = plainValues(pc.kind, entries)
          val (codecId, body) = compress(codec, raw)
          val h = new TWriter
          h.i32(1, 2L) // DICTIONARY_PAGE
          h.i32(2, raw.length.toLong)
          h.i32(3, body.length.toLong)
          h.structBegin(7) // DictionaryPageHeader
          h.i32(1, entries.length.toLong)
          h.i32(2, 2L) // PLAIN_DICTIONARY
          h.structEnd()
          h.stop()
          val hb = h.bytes
          buf.write(hb, 0, hb.length)
          buf.write(body, 0, body.length)
          comp += hb.length.toLong + body.length
          uncomp += hb.length.toLong + raw.length
          (Some(chunkOffset), idx)
        }
      // the value bytes (dict indices / DELTA / SPLIT / PLAIN)
      val useDelta = !useDict && delta(pc.col.name)
      val useSplit = !useDict && split(pc.col.name)
      val useDeltaStr = !useDict && deltaStr(pc.col.name)
      val valueBytes: Array[Byte] =
        if (useDict) {
          val width = math.max(1,
            bitsFor(math.max(0, dictIndex.size() - 1)))
          val b = new java.io.ByteArrayOutputStream()
          b.write(width)
          val idxs = pc.present.map(v => dictIndex.get(key(v)).toInt)
          val hb = rleHybrid(idxs, width)
          b.write(hb, 0, hb.length)
          b.toByteArray
        } else if (useDelta) {
          deltaBinaryPackedEnc(pc.present.map {
            case i: Int => i.toLong
            case l: Long => l
            case bd: java.math.BigDecimal =>
              bd.unscaledValue.longValueExact
            case other => sys.error(s"bad delta value $other")
          }, bits32 = physType(pc.kind) == 1)
        } else if (useSplit) {
          byteStreamSplitEnc(plainValues(pc.kind, pc.present),
            if (physType(pc.kind) == 4) 4 else 8)
        } else if (useDeltaStr) {
          deltaByteArrayEnc(pc.present.map {
            case s: String => s.getBytes("UTF-8")
            case b: Array[Byte] => b
            case other => sys.error(s"bad deltaStr value $other")
          })
        } else plainValues(pc.kind, pc.present)
      val valueEnc: Long =
        if (useDict) { if (pageVersion == 2) 8L else 2L }
        else if (useDelta) 5L // DELTA_BINARY_PACKED
        else if (useSplit) 9L // BYTE_STREAM_SPLIT
        else if (useDeltaStr) 7L // DELTA_BYTE_ARRAY
        else 0L // PLAIN
      val repBytes = if (pc.maxRep > 0)
        rleHybrid(pc.reps, bitsFor(pc.maxRep))
      else Array.emptyByteArray
      val defBytes = if (pc.maxDef > 0)
        rleHybrid(pc.defs, bitsFor(pc.maxDef))
      else Array.emptyByteArray
      val (hb, body, rawTotal) = if (pageVersion == 1) {
        // v1: [u32+rep][u32+def][values], all compressed together
        val sections = new java.io.ByteArrayOutputStream()
        if (pc.maxRep > 0) {
          val b = u32Prefixed(repBytes); sections.write(b, 0, b.length)
        }
        if (pc.maxDef > 0) {
          val b = u32Prefixed(defBytes); sections.write(b, 0, b.length)
        }
        sections.write(valueBytes, 0, valueBytes.length)
        val raw = sections.toByteArray
        val (_, comp0) = compress(codec, raw)
        val h = new TWriter
        h.i32(1, 0L) // DATA_PAGE
        h.i32(2, raw.length.toLong)
        h.i32(3, comp0.length.toLong)
        h.structBegin(5) // DataPageHeader
        h.i32(1, pc.numValues.toLong)
        h.i32(2, valueEnc)
        h.i32(3, 3L) // def levels: RLE
        h.i32(4, 3L) // rep levels: RLE
        h.structEnd()
        h.stop()
        (h.bytes, comp0, raw.length)
      } else {
        // v2: bare UNCOMPRESSED rep + def level runs, then the
        // values (only they compress); null/row counts in the
        // header instead of level prefixes
        val (_, compVals) = compress(codec, valueBytes)
        val numNulls = pc.numValues - pc.present.length
        val numRows =
          if (pc.maxRep == 0) pc.numValues
          else pc.reps.count(_ == 0)
        val raw = repBytes.length + defBytes.length +
          valueBytes.length
        val h = new TWriter
        h.i32(1, 3L) // DATA_PAGE_V2
        h.i32(2, raw.toLong)
        h.i32(3, (repBytes.length + defBytes.length +
          compVals.length).toLong)
        h.structBegin(8) // DataPageHeaderV2
        h.i32(1, pc.numValues.toLong)
        h.i32(2, numNulls.toLong)
        h.i32(3, numRows.toLong)
        h.i32(4, valueEnc)
        h.i32(5, defBytes.length.toLong)
        h.i32(6, repBytes.length.toLong)
        h.structEnd()
        h.stop()
        val payload = new java.io.ByteArrayOutputStream()
        payload.write(repBytes, 0, repBytes.length)
        payload.write(defBytes, 0, defBytes.length)
        payload.write(compVals, 0, compVals.length)
        (h.bytes, payload.toByteArray, raw)
      }
      val codecId = codecIdOf(codec)
      val dataOff = buf.size().toLong
      buf.write(hb, 0, hb.length)
      buf.write(body, 0, body.length)
      comp += hb.length.toLong + body.length
      uncomp += hb.length.toLong + rawTotal
      // distinct-value hashes for the bloom (late r14): built on
      // the byte key so binary values dedupe by content
      val bloomHashes: Option[Seq[Long]] =
        if (!bloom(pc.col.name) || pc.maxRep != 0 ||
          pc.path.length != 1) None
        else {
          val hs = scala.collection.mutable.LinkedHashSet.empty[Long]
          var ok = true
          pc.present.foreach { v =>
            bloomHash(pc.kind, v) match {
              case Some(h) =>
                hs += h
                // zero-safety: when a float zero is present, the
                // -0.0 bit pattern goes in too, so raw-bit probes
                // from either convention hit
                v match {
                  case f: Float if f == 0f =>
                    val b = new Array[Byte](4)
                    val x = java.lang.Float.floatToIntBits(-0f)
                    Bytes.setLe32(b, 0, x)
                    hs += Zstd.xxh64(b, 0, 4)
                  case d: Double if d == 0d =>
                    hs += ParquetFooter.bloomHashLong(
                      java.lang.Double.doubleToLongBits(-0d))
                  case _ => ()
                }
              case None => ok = false
            }
          }
          if (ok) Some(hs.toSeq) else None
        }
      ChunkMeta(pc, codecId, chunkOffset, dataOff, dictOff,
        comp, uncomp, useDict, valueEnc, hb.length + body.length,
        chunkStats(pc), bloomHashes)
    }
    val groups0: Seq[(Int, Seq[ChunkMeta])] =
      groupRanges.map { case (lo, hi) =>
        (hi - lo, cols.flatMap(c =>
          prepareAll(sliceCol(c, lo, hi)).map(emitChunk)))
      }
    // PAGE INDEX (late r14 — the write twin of ParquetFooter's
    // parseColumnIndex/parseOffsetIndex): all ColumnIndexes, then
    // all OffsetIndexes, between the data section and the footer
    // (the parquet-mr layout); ColumnChunk fields 4-7 carry the
    // refs. One page per chunk here, so each index is one entry —
    // the structures page-skipping readers prune on.
    final case class IndexedChunk(cm: ChunkMeta,
        ci: Option[(Long, Int)], oi: (Long, Int),
        bloomRef: Option[(Long, Int)])
    val groups: Seq[(Int, Seq[IndexedChunk])] = {
      // bloom filters first (header + bitset per flagged chunk)
      val withBloom = groups0.map { case (n, chunks) =>
        (n, chunks.map { cm =>
          val ref = cm.bloomHashes.map { hs =>
            val bits = bloomBuild(hs, bloomNumBytes(hs.length))
            val h = new TWriter
            h.i32(1, bits.length.toLong) // numBytes
            h.structBegin(2); h.structBegin(1); h.structEnd()
            h.structEnd() // algorithm = BLOCK
            h.structBegin(3); h.structBegin(1); h.structEnd()
            h.structEnd() // hash = XXHASH
            h.structBegin(4); h.structBegin(1); h.structEnd()
            h.structEnd() // compression = UNCOMPRESSED
            h.stop()
            val hb2 = h.bytes
            val off = buf.size().toLong
            buf.write(hb2, 0, hb2.length)
            buf.write(bits, 0, bits.length)
            (off, hb2.length + bits.length)
          }
          (cm, ref)
        })
      }
      val withCi = withBloom.map { case (n, chunks) =>
        (n, chunks.map { case (cm, bloomRef) =>
          val ci = cm.stats.map { case (mn, mx, nullCount) =>
            val w = new TWriter
            w.listBegin(1, 1, 1) // null_pages (bool elements)
            w.out.write(if (cm.pc.present.isEmpty) 1 else 2)
            w.listBegin(2, 8, 1) // min_values
            w.varint(mn.length.toLong); w.out.write(mn, 0, mn.length)
            w.listBegin(3, 8, 1) // max_values
            w.varint(mx.length.toLong); w.out.write(mx, 0, mx.length)
            w.i32(4, 0L) // boundary_order UNORDERED
            w.listBegin(5, 6, 1) // null_counts (i64 elements)
            w.varint(Bytes.zigzag(nullCount))
            w.stop()
            val bytes = w.bytes
            val off = buf.size().toLong
            buf.write(bytes, 0, bytes.length)
            (off, bytes.length)
          }
          (cm, ci, bloomRef)
        })
      }
      withCi.map { case (n, chunks) =>
        (n, chunks.map { case (cm, ci, bloomRef) =>
          val w = new TWriter
          w.listBegin(1, 12, 1) // page_locations
          w.elemStructBegin()
          w.i64(1, cm.dataPageOffset)
          w.i32(2, cm.dataPageSize.toLong)
          w.i64(3, 0L) // first_row_index
          w.elemStructEnd()
          w.stop()
          val bytes = w.bytes
          val off = buf.size().toLong
          buf.write(bytes, 0, bytes.length)
          IndexedChunk(cm, ci, (off, bytes.length), bloomRef)
        })
      }
    }

    // footer
    val f = new TWriter
    f.i32(1, 1L) // version
    /** SchemaElement logical annotations past the physical type:
      * converted_type (6), and scale/precision (7/8) for DECIMAL —
      * the legacy annotation set every reader generation resolves
      * (parquet-mr maps TIMESTAMP_MICROS/DATE/DECIMAL to the same
      * logical types the new union would carry). */
    def leafExtras(kind: String): Unit = kind match {
      case "string" => f.i32(6, 0L) // UTF8
      case "date" => f.i32(6, 6L) // DATE
      case "ts" => f.i32(6, 10L) // TIMESTAMP_MICROS
      case DecimalKind(pStr, sStr) =>
        f.i32(6, 5L) // DECIMAL
        f.i32(7, sStr.toLong) // scale
        f.i32(8, pStr.toLong) // precision
      case _ => ()
    }
    val schemaElemCount = 1 + cols.map {
      case _: WCol => 1
      case _: WListCol => 3
      case sc: WStructCol => 1 + sc.fields.length
      case _: WMapCol => 4
      case lsc: WListStructCol => 3 + lsc.fields.length
    }.sum
    f.listBegin(2, 12, schemaElemCount) // schema
    f.elemStructBegin() // root
    f.str(4, "schema")
    f.i32(5, cols.length.toLong) // num_children
    f.elemStructEnd()
    cols.foreach {
      case c: WCol =>
        f.elemStructBegin()
        f.i32(1, physType(c.kind).toLong)
        f.i32(3, if (c.optional) 1L else 0L) // repetition
        f.str(4, c.name)
        leafExtras(c.kind)
        f.elemStructEnd()
      case c: WStructCol =>
        f.elemStructBegin() // plain group
        f.i32(3, if (c.optional) 1L else 0L)
        f.str(4, c.name)
        f.i32(5, c.fields.length.toLong)
        f.elemStructEnd()
        c.fields.foreach { case (fn, fk, fOpt) =>
          f.elemStructBegin()
          f.i32(1, physType(fk).toLong)
          f.i32(3, if (fOpt) 1L else 0L)
          f.str(4, fn)
          leafExtras(fk)
          f.elemStructEnd()
        }
      case c: WListStructCol =>
        f.elemStructBegin() // outer group, converted LIST
        f.i32(3, if (c.optional) 1L else 0L)
        f.str(4, c.name)
        f.i32(5, 1L)
        f.i32(6, 3L) // converted_type LIST
        f.elemStructEnd()
        f.elemStructBegin() // repeated group "list"
        f.i32(3, 2L)
        f.str(4, "list")
        f.i32(5, 1L)
        f.elemStructEnd()
        f.elemStructBegin() // element: the struct group
        f.i32(3, if (c.elemOptional) 1L else 0L)
        f.str(4, "element")
        f.i32(5, c.fields.length.toLong)
        f.elemStructEnd()
        c.fields.foreach { case (fn, fk, fOpt) =>
          f.elemStructBegin()
          f.i32(1, physType(fk).toLong)
          f.i32(3, if (fOpt) 1L else 0L)
          f.str(4, fn)
          leafExtras(fk)
          f.elemStructEnd()
        }
      case c: WMapCol =>
        f.elemStructBegin() // outer group, converted MAP
        f.i32(3, if (c.optional) 1L else 0L)
        f.str(4, c.name)
        f.i32(5, 1L)
        f.i32(6, 1L) // converted_type MAP
        f.elemStructEnd()
        f.elemStructBegin() // repeated group "key_value"
        f.i32(3, 2L)
        f.str(4, "key_value")
        f.i32(5, 2L)
        f.elemStructEnd()
        f.elemStructBegin() // key leaf (required)
        f.i32(1, physType(c.keyKind).toLong)
        f.i32(3, 0L)
        f.str(4, "key")
        leafExtras(c.keyKind)
        f.elemStructEnd()
        f.elemStructBegin() // value leaf
        f.i32(1, physType(c.valueKind).toLong)
        f.i32(3, if (c.valueOptional) 1L else 0L)
        f.str(4, "value")
        leafExtras(c.valueKind)
        f.elemStructEnd()
      case c: WListCol =>
        f.elemStructBegin() // outer group, converted LIST
        f.i32(3, if (c.optional) 1L else 0L)
        f.str(4, c.name)
        f.i32(5, 1L)
        f.i32(6, 3L) // converted_type LIST
        f.elemStructEnd()
        f.elemStructBegin() // repeated group "list"
        f.i32(3, 2L)
        f.str(4, "list")
        f.i32(5, 1L)
        f.elemStructEnd()
        f.elemStructBegin() // element leaf
        f.i32(1, physType(c.elemKind).toLong)
        f.i32(3, if (c.elemOptional) 1L else 0L)
        f.str(4, "element")
        leafExtras(c.elemKind)
        f.elemStructEnd()
    }
    f.i64(3, nRows.toLong)
    f.listBegin(4, 12, groups.length) // row_groups
    groups.foreach { case (gRows, chunks) =>
      f.elemStructBegin()
      f.listBegin(1, 12, chunks.length) // columns
      chunks.foreach { ic =>
        val cm = ic.cm
        f.elemStructBegin() // ColumnChunk
        f.i64(2, cm.chunkOffset) // file_offset
        f.structBegin(3) // ColumnMetaData
        f.i32(1, physType(cm.pc.kind).toLong)
        f.listBegin(2, 5, 2) // encodings
        f.varint(cm.valueEnc << 1) // value encoding, zigzagged
        f.varint(3L << 1) // zigzag(RLE = 3) for levels
        f.listBegin(3, 8, cm.pc.path.length) // path_in_schema
        cm.pc.path.foreach { seg =>
          val nb = seg.getBytes("UTF-8")
          f.varint(nb.length.toLong); f.out.write(nb, 0, nb.length)
        }
        f.i32(4, cm.codecId.toLong)
        f.i64(5, cm.pc.numValues.toLong)
        f.i64(6, cm.uncomp)
        f.i64(7, cm.comp)
        f.i64(9, cm.dataPageOffset) // data_page_offset
        cm.dictPageOffset.foreach(o => f.i64(11, o))
        ic.bloomRef.foreach { case (o, l) =>
          f.i64(14, o) // bloom_filter_offset
          f.i32(15, l.toLong)
        }
        f.structEnd()
        // page-index refs (fields 4-7, late r14)
        f.i64(4, ic.oi._1) // offset_index_offset
        f.i32(5, ic.oi._2.toLong)
        ic.ci.foreach { case (o, l) =>
          f.i64(6, o) // column_index_offset
          f.i32(7, l.toLong)
        }
        f.elemStructEnd()
      }
      f.i64(2, chunks.map(_.cm.comp).sum) // total_byte_size
      f.i64(3, gRows.toLong)
      f.elemStructEnd()
    }
    f.str(6, createdBy)
    f.stop()
    val fb = f.bytes
    buf.write(fb, 0, fb.length)
    Bytes.putLe32(buf, fb.length.toLong)
    buf.write('P'); buf.write('A'); buf.write('R'); buf.write('1')
    buf.toByteArray
  }
}
