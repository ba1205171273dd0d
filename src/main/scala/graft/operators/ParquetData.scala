package graft.operators

/** Parquet DATA PAGE decode (the public parquet-format spec:
  * Encodings.md + the PageHeader Thrift layout) — the last layer of
  * the columnar audit surface: after the footer
  * ([[ParquetFooter]]), page index and bloom filters, this decodes
  * the VALUES themselves, pure-JVM, no parquet-mr on the read path.
  * With it the engine can read the pipeline's flagship format from
  * raw bytes end to end — the independent cross-check that what
  * Spark's vectorized reader returns is what the file actually
  * says, and a from-scratch recovery path for torn files.
  *
  * Scope — the shapes corpus tables and dataset shards actually
  * use: flat fields, one-level LIST columns (repetition levels +
  * record assembly) and flat STRUCTS of primitives via the
  * fast-path entry points, and ARBITRARY nesting depth
  * (list<struct>, struct<struct>, list<list>, maps of nested
  * values) via [[decodeFileDeep]]'s full Dremel record assembly;
  * only the legacy 2-level list shape rejects. Specifically:
  *  - Page types: DATA_PAGE (v1), DATA_PAGE_V2, DICTIONARY_PAGE;
  *    INDEX_PAGE skipped.
  *  - Encodings: PLAIN (0) for all seven physical types (BOOLEAN is
  *    LSB bit-packed; BYTE_ARRAY is u32-length-prefixed; INT96 and
  *    FIXED_LEN_BYTE_ARRAY surface as raw bytes),
  *    PLAIN_DICTIONARY (2) / RLE_DICTIONARY (8) via a
  *    DICTIONARY_PAGE + the RLE/bit-packed hybrid with a leading
  *    bit-width byte (per-page dictionary FALLBACK to PLAIN — what
  *    parquet-cpp does when a dict outgrows its cap — just works,
  *    encodings are per page), RLE (3) for BOOLEAN, and the DELTA
  *    family the v2 writer emits for non-dictionary columns:
  *    DELTA_BINARY_PACKED (5, int32 wrap arithmetic per spec),
  *    DELTA_LENGTH_BYTE_ARRAY (6) and DELTA_BYTE_ARRAY (7,
  *    shared-prefix reconstruction), and BYTE_STREAM_SPLIT (9) for
  *    FLOAT/DOUBLE (byte-plane transposition).
  *  - Definition levels: the RLE/bit-packed hybrid (u32
  *    length-prefixed in v1 pages, bare and always-uncompressed in
  *    v2 pages); max definition level 1 (optional) or 0 (required).
  *  - Codecs: UNCOMPRESSED, SNAPPY, GZIP, ZSTD, LZ4_RAW, and the
  *    legacy Hadoop-framed LZ4 (codec 5 — what "lz4" still means
  *    to parquet-mr) — all through this repo's own decoders,
  *    decoded lengths verified against the header. LZO/BROTLI
  *    reject honestly.
  *
  * Every size is bounds-checked (2^26 values / 2^28 bytes caps);
  * None on any malformation — truncated pages, codec failures,
  * dictionary indices out of range, level/value count disagreements
  * all reject, never invent.
  *
  * Scale: one column chunk decodes independently of every other —
  * at 100 TB this is a per-file (or per-chunk) flatMap like every
  * other container walk here; the gate query decodes the driver's
  * own parquet tables (written by parquet-cpp) and must reproduce
  * DuckDB's aggregates from raw bytes. Validation: ParquetDataSpec
  * differentials REAL Spark-written files (all types, nulls,
  * dictionary + fallback, all four codecs, both page versions)
  * against Spark's own reader, plus mutation fuzz. */
object ParquetData {

  import ParquetFooter.{Footer, ColumnMeta, TCompact, struct}

  private final val MaxValues = 1 << 26
  private final val MaxBytes = 1 << 28

  /** One flat-schema leaf: physical type id (parquet.thrift Type),
    * FLBA length, nullability. */
  final case class LeafInfo(name: String, typeId: Int,
      typeLength: Int, optional: Boolean)

  /** INT96 (the legacy Hive/Impala timestamp physical type —
    * 8-byte LE nanos-of-day + 4-byte LE Julian day) → epoch micros.
    * None when the 12 bytes are not a plausible timestamp (nanos
    * outside a day, Julian day outside ±10k years — raw INT96 that
    * is NOT a timestamp should stay raw). */
  def int96ToMicros(b: Array[Byte]): Option[Long] = {
    if (b.length != 12) return None
    val nanos = Bytes.le64(b, 0)
    val julian = Bytes.le32(b, 8)
    if (nanos < 0 || nanos >= 86400L * 1000000000L) return None
    if (julian < 2440588 - 4000000 || julian > 2440588 + 4000000)
      return None
    Some((julian - 2440588L) * 86400000000L + nanos / 1000L)
  }

  /** The leaves of a FLAT schema (root + leaf fields only); None if
    * any field is a group or repeated (nested — honest rejection).
    * A filtered view over [[fileShapes]] — one schema walk. */
  def flatLeaves(f: Footer): Option[Seq[LeafInfo]] =
    fileShapes(f).flatMap { shapes =>
      val leaves = shapes.collect {
        case cs: ColShape if !cs.isList => cs.leaf
      }
      if (leaves.length == shapes.length) Some(leaves) else None
    }

  /** One column of a schema that may mix flat fields and
    * 3-level LIST fields (the shape Spark/parquet-mr/parquet-cpp
    * write for array columns — HuggingFace token columns are
    * `list<int64>`). For lists, `path` is the full dotted column
    * path and the def-level thresholds encode the spec's meaning:
    * def < defPresent → null list, def == defPresent → empty list,
    * def == maxDef → element present (== maxDef-1 → null element
    * when elements are optional). */
  sealed trait Shape { def name: String }

  final case class ColShape(name: String, path: String, typeId: Int,
      typeLength: Int, isList: Boolean, maxRep: Int, maxDef: Int,
      defPresent: Int, leaf: LeafInfo) extends Shape

  /** A flat STRUCT of primitive fields (no repetition): each field
    * is its own column chunk whose def levels carry both the
    * group's and the field's nullability; a row's struct is null
    * iff def < defPresent on every field (they agree by
    * construction). */
  final case class StructShape(name: String, optional: Boolean,
      fields: Seq[ColShape]) extends Shape

  /** A MAP of primitive key/value (the 3-level
    * group > repeated key_value > (key, value) shape): two leaf
    * chunks sharing the repetition structure, zipped per row. */
  final case class MapShape(name: String, optional: Boolean,
      key: ColShape, value: ColShape) extends Shape

  /** Shapes for schemas mixing flat fields, one-level lists and
    * flat STRUCTS of primitives; None on anything deeper. */
  def fileShapes(f: Footer): Option[Seq[Shape]] = {
    val es = f.schemaElems
    if (es.length < 2) return None
    val root = es.head
    val out = Seq.newBuilder[Shape]
    var i = 1
    var fields = 0
    def leafShape(e: ParquetFooter.SchemaElem, path: String,
        extraDef: Int): Option[ColShape] = {
      if (e.typeId < 0 || e.typeId > 7 || e.repetition == 2)
        return None
      if (e.typeId == 7 && e.typeLength <= 0) return None
      val opt = e.repetition == 1
      val maxDef = extraDef + (if (opt) 1 else 0)
      Some(ColShape(e.name, path, e.typeId, e.typeLength,
        isList = false, maxRep = 0, maxDef = maxDef,
        defPresent = extraDef,
        LeafInfo(e.name, e.typeId, e.typeLength, opt)))
    }
    while (i < es.length) {
      val e = es(i)
      fields += 1
      if (e.numChildren == 0) {
        out += leafShape(e, e.name, 0).getOrElse(return None)
        i += 1
      } else if (e.numChildren == 1 && i + 2 < es.length &&
        es(i + 1).repetition == 2 && es(i + 1).numChildren == 1 &&
        es(i + 2).numChildren == 0) {
        // the 3-level LIST pattern: group > repeated group > leaf
        val rep = es(i + 1)
        val el = es(i + 2)
        if (el.typeId < 0 || el.typeId > 7 || el.repetition == 2)
          return None
        if (el.typeId == 7 && el.typeLength <= 0) return None
        val fieldOpt = e.repetition == 1
        val elemOpt = el.repetition == 1
        val dPresent = if (fieldOpt) 1 else 0
        val maxDef = dPresent + 1 + (if (elemOpt) 1 else 0)
        out += ColShape(e.name,
          s"${e.name}.${rep.name}.${el.name}", el.typeId,
          el.typeLength, isList = true, maxRep = 1, maxDef = maxDef,
          defPresent = dPresent,
          LeafInfo(el.name, el.typeId, el.typeLength, elemOpt))
        i += 3
      } else if (e.numChildren == 1 && i + 3 < es.length &&
        es(i + 1).repetition == 2 && es(i + 1).numChildren == 2 &&
        es(i + 2).numChildren == 0 && es(i + 3).numChildren == 0 &&
        es(i + 2).repetition != 2 && es(i + 3).repetition != 2) {
        // the MAP pattern: group > repeated key_value > (key, value)
        val rep = es(i + 1)
        val ke = es(i + 2)
        val ve = es(i + 3)
        val fieldOpt = e.repetition == 1
        val dPresent = if (fieldOpt) 1 else 0
        def entryLeaf(el: ParquetFooter.SchemaElem)
            : Option[ColShape] = {
          if (el.typeId < 0 || el.typeId > 7) return None
          if (el.typeId == 7 && el.typeLength <= 0) return None
          val elemOpt = el.repetition == 1
          val maxDef = dPresent + 1 + (if (elemOpt) 1 else 0)
          Some(ColShape(el.name,
            s"${e.name}.${rep.name}.${el.name}", el.typeId,
            el.typeLength, isList = true, maxRep = 1,
            maxDef = maxDef, defPresent = dPresent,
            LeafInfo(el.name, el.typeId, el.typeLength, elemOpt)))
        }
        val k = entryLeaf(ke).getOrElse(return None)
        val v = entryLeaf(ve).getOrElse(return None)
        out += MapShape(e.name, fieldOpt, k, v)
        i += 4
      } else if (e.repetition != 2 && e.numChildren >= 1 &&
        i + e.numChildren < es.length &&
        (1 to e.numChildren).forall(k =>
          es(i + k).numChildren == 0 && es(i + k).repetition != 2)) {
        // flat STRUCT of primitives
        val groupOpt = e.repetition == 1
        val dGroup = if (groupOpt) 1 else 0
        val kids = (1 to e.numChildren).map { k =>
          leafShape(es(i + k), s"${e.name}.${es(i + k).name}",
            dGroup).getOrElse(return None)
        }
        out += StructShape(e.name, groupOpt, kids)
        i += 1 + e.numChildren
      } else return None
    }
    if (fields != root.numChildren) return None
    Some(out.result())
  }

  // ---------------------------------------------------------------
  // PageHeader (Thrift compact)
  // ---------------------------------------------------------------

  private final case class PageHdr(tpe: Int, uncomp: Int, comp: Int,
      numValues: Int, encoding: Int,
      // v2 extras: numNulls, defLen, repLen, isCompressed
      numNulls: Int, defLen: Int, repLen: Int, v2Compressed: Boolean,
      headerLen: Int,
      // v1 level encodings (DataPageHeader fields 3/4). parquet-mr
      // records BIT_PACKED(4) when the max level is 0 (zero level
      // bytes on the wire) and RLE(3) otherwise; walkChunk only
      // parses levels when the max level is > 0, so the gate lives
      // there, not here.
      defEnc: Int, repEnc: Int)

  private def pageHeader(data: Array[Byte], off: Long)
      : Option[PageHdr] = {
    if (off < 0 || off >= data.length) return None
    val c = new TCompact(data, off.toInt, data.length)
    var tpe = -1
    var uncomp = -1
    var comp = -1
    var nv = -1
    var enc = -1
    var nNulls = 0
    var defLen = 0
    var repLen = 0
    var v2comp = true
    var defEnc = 3 // RLE unless the v1 header says otherwise
    var repEnc = 3
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 => tpe = c.zigzag().toInt; true
        case 2 => uncomp = c.zigzag().toInt; true
        case 3 => comp = c.zigzag().toInt; true
        case 5 if t == 12 => // DataPageHeader (v1)
          struct(c, 1) { (sf, _) =>
            sf match {
              case 1 => nv = c.zigzag().toInt; true
              case 2 => enc = c.zigzag().toInt; true
              // walkChunk parses v1 levels as the u32-length-
              // prefixed RLE hybrid unconditionally; a legacy
              // BIT_PACKED(4) level encoding would be MISparsed
              // (its first bytes consumed as a bogus length), so
              // anything but RLE(3) must reject at the header.
              case 3 => defEnc = c.zigzag().toInt; true
              case 4 => repEnc = c.zigzag().toInt; true
              case _ => false
            }
          }
          true
        case 7 if t == 12 => // DictionaryPageHeader
          struct(c, 1) { (sf, _) =>
            sf match {
              case 1 => nv = c.zigzag().toInt; true
              case 2 => enc = c.zigzag().toInt; true
              case _ => false
            }
          }
          true
        case 8 if t == 12 => // DataPageHeaderV2
          struct(c, 1) { (sf, st) =>
            sf match {
              case 1 => nv = c.zigzag().toInt; true
              case 2 => nNulls = c.zigzag().toInt; true
              case 4 => enc = c.zigzag().toInt; true
              case 5 => defLen = c.zigzag().toInt; true
              case 6 => repLen = c.zigzag().toInt; true
              case 7 => v2comp = st == 1; true // bool true/false
              case _ => false
            }
          }
          true
        case _ => false
      }
    }
    if (!c.ok || tpe < 0 || uncomp < 0 || comp < 0) return None
    if (comp > MaxBytes || uncomp > MaxBytes) return None
    if (off + (c.p - off.toInt) + comp > data.length) return None
    Some(PageHdr(tpe, uncomp, comp, nv, enc, nNulls, defLen, repLen,
      v2comp, c.p - off.toInt, defEnc, repEnc))
  }

  // ---------------------------------------------------------------
  // Codecs (parquet.thrift CompressionCodec ids)
  // ---------------------------------------------------------------

  private def decompress(codecId: Int, raw: Array[Byte],
      uncomp: Int): Option[Array[Byte]] =
    if (uncomp < 0 || uncomp > MaxBytes) None
    else codecId match {
      case 0 => if (raw.length == uncomp) Some(raw) else None
      case 1 => SnappyCodec.decompress(raw)
        .filter(_.length == uncomp)
      case 2 => Tar.gunzip(raw).filter(_.length == uncomp)
      case 6 => Zstd.decode(raw, MaxBytes)
        .filter(_.length == uncomp)
      case 5 => // legacy LZ4: the Hadoop block framing parquet-mr
        // writes — [u32 BE originalLen][u32 BE chunkLen + raw LZ4
        // block]* per block, blocks repeated until the page ends
        val out = new Array[Byte](uncomp)
        var p = 0
        var d = 0
        while (p < raw.length) {
          if (p + 4 > raw.length) return None
          val orig = Bytes.be32(raw, p); p += 4
          if (orig < 0 || d + orig > uncomp) return None
          var produced = 0
          while (produced < orig) {
            if (p + 4 > raw.length) return None
            val clen = Bytes.be32(raw, p); p += 4
            if (clen <= 0 || p + clen > raw.length) return None
            val tmp = new Array[Byte](orig - produced)
            val n = Lz4.decompressBlock(raw, p, clen, tmp)
            if (n <= 0) return None
            System.arraycopy(tmp, 0, out, d, n)
            d += n
            produced += n
            p += clen
          }
        }
        if (d == uncomp) Some(out) else None
      case 7 => // LZ4_RAW: one raw LZ4 block
        val dst = new Array[Byte](uncomp)
        val n = Lz4.decompressBlock(raw, 0, raw.length, dst)
        if (n == uncomp) Some(dst) else None
      case _ => None // LZO / BROTLI
    }

  // ---------------------------------------------------------------
  // RLE / bit-packed hybrid (Encodings.md §RLE)
  // ---------------------------------------------------------------

  /** Decode `count` values from the hybrid stream in
    * [off, off+len); trailing bit-packed padding is legal. None on
    * any overrun. */
  private def rleHybrid(b: Array[Byte], off: Int, len: Int,
      bitWidth: Int, count: Int): Option[Array[Int]] = {
    if (bitWidth < 0 || bitWidth > 32 || count < 0 ||
      count > MaxValues) return None
    val out = new Array[Int](count)
    if (bitWidth == 0) return Some(out) // all zero
    val end = off + len
    if (end > b.length) return None
    val c = new Bytes.Cursor(b, off, end)
    var n = 0
    val byteW = (bitWidth + 7) / 8
    while (n < count) {
      val hdr = c.varint(6)
      if (!c.ok) return None
      val p = c.p
      if ((hdr & 1) == 0) { // RLE run
        val run = hdr >>> 1
        if (run <= 0 || run > MaxValues || p + byteW > end)
          return None
        var v = 0
        var i = 0
        while (i < byteW) { v |= (b(p + i) & 0xff) << (8 * i); i += 1 }
        c.p += byteW
        if (n + run > count) return None
        var k = 0L
        while (k < run) { out(n) = v; n += 1; k += 1 }
      } else { // bit-packed groups of 8
        val groups = hdr >>> 1
        if (groups <= 0 || groups > (MaxValues >> 3)) return None
        val nbytes = (groups * 8 * bitWidth / 8).toInt
        if (p + nbytes > end) return None
        var k = 0L
        val total = groups * 8
        var bitPos = p.toLong * 8
        while (k < total && n < count) {
          var v = 0L
          var got = 0
          while (got < bitWidth) {
            val byteI = (bitPos >> 3).toInt
            val bitI = (bitPos & 7).toInt
            val take = math.min(8 - bitI, bitWidth - got)
            v |= (((b(byteI) >> bitI) & ((1 << take) - 1)).toLong
              << got)
            got += take
            bitPos += take
          }
          out(n) = v.toInt
          n += 1
          k += 1
        }
        c.p += nbytes
      }
    }
    Some(out)
  }

  // ---------------------------------------------------------------
  // DELTA encodings (Encodings.md) — what the v2 writer emits when
  // a column is not (or no longer) dictionary-encoded.
  // ---------------------------------------------------------------

  /** DELTA_BINARY_PACKED: (values, bytesConsumed) or None. The
    * last block's unused miniblocks carry width bytes but no data
    * (the parquet-mr layout the spec describes). */
  private def deltaBinaryPacked(b: Array[Byte], off: Int, limit: Int,
      expect: Int): Option[(Array[Long], Int)] = {
    val c = new Bytes.Cursor(b, off, limit)
    val blockSize = c.varint()
    val numMini = c.varint()
    val total = c.varint()
    val first = Bytes.unzigzag(c.varint())
    if (!c.ok || blockSize <= 0 || blockSize > (1 << 20) ||
      numMini <= 0 || numMini > 512 ||
      blockSize % (numMini * 32) != 0) return None
    if (total != expect || total > MaxValues) return None
    val miniSize = (blockSize / numMini).toInt
    val out = new Array[Long](total.toInt)
    if (total == 0) return Some((out, c.p - off))
    out(0) = first
    var n = 1
    var prev = first
    while (n < total) {
      val minDelta = Bytes.unzigzag(c.varint())
      if (!c.ok || c.p + numMini > limit) return None
      val widths = new Array[Int](numMini.toInt)
      var w = 0
      while (w < numMini) {
        widths(w) = b(c.p) & 0xff
        if (widths(w) > 64) return None
        c.p += 1
        w += 1
      }
      var mb = 0
      while (mb < numMini && n < total) {
        val bw = widths(mb)
        val nbytes = miniSize * bw / 8
        if (c.p + nbytes > limit) return None
        var bitPos = c.p.toLong * 8
        var i = 0
        while (i < miniSize && n < total) {
          var v = 0L
          var got = 0
          while (got < bw) {
            val byteI = (bitPos >> 3).toInt
            val bitI = (bitPos & 7).toInt
            val take = math.min(8 - bitI, bw - got)
            v |= (((b(byteI) >> bitI) & ((1 << take) - 1)).toLong
              << got)
            got += take
            bitPos += take
          }
          prev = prev + minDelta + v
          out(n) = prev
          n += 1
          i += 1
        }
        c.p += nbytes
        mb += 1
      }
    }
    Some((out, c.p - off))
  }

  /** DELTA_LENGTH_BYTE_ARRAY: delta-packed lengths + concatenated
    * bytes; (values, bytesConsumed) or None. */
  private def deltaLengthByteArray(b: Array[Byte], off: Int,
      limit: Int, n: Int): Option[(IndexedSeq[Array[Byte]], Int)] = {
    val (lens, used) = deltaBinaryPacked(b, off, limit, n)
      .getOrElse(return None)
    var p = off + used
    val out = IndexedSeq.newBuilder[Array[Byte]]
    var i = 0
    while (i < n) {
      val len = lens(i)
      if (len < 0 || len > MaxBytes || p + len > limit) return None
      out += java.util.Arrays.copyOfRange(b, p, p + len.toInt)
      p += len.toInt
      i += 1
    }
    Some((out.result(), p - off))
  }

  /** DELTA_BYTE_ARRAY: delta-packed shared-prefix lengths +
    * DELTA_LENGTH suffixes. */
  private def deltaByteArray(b: Array[Byte], off: Int, limit: Int,
      n: Int): Option[IndexedSeq[Array[Byte]]] = {
    val (prefixes, used) = deltaBinaryPacked(b, off, limit, n)
      .getOrElse(return None)
    val (suffixes, _) = deltaLengthByteArray(b, off + used, limit, n)
      .getOrElse(return None)
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val pre = prefixes(i)
      if (pre < 0 || (i == 0 && pre != 0) ||
        (i > 0 && pre > out(i - 1).length)) return None
      out(i) =
        if (pre == 0) suffixes(i)
        else java.util.Arrays.copyOfRange(out(i - 1), 0,
          pre.toInt) ++ suffixes(i)
      i += 1
    }
    Some(out.toIndexedSeq)
  }

  // ---------------------------------------------------------------
  // PLAIN decoding per physical type
  // ---------------------------------------------------------------

  /** Decode `n` PLAIN values of `typeId` from [off, limit);
    * (values, bytesConsumed) or None. */
  private def plainValues(b: Array[Byte], off: Int, limit: Int,
      typeId: Int, typeLength: Int, n: Int)
      : Option[(IndexedSeq[Any], Int)] = {
    if (n < 0 || n > MaxValues || limit > b.length) return None
    typeId match {
      case 0 => // BOOLEAN: LSB bit-packed
        val nbytes = (n + 7) / 8
        if (off + nbytes > limit) return None
        val out = (0 until n).map(i =>
          ((b(off + (i >> 3)) >> (i & 7)) & 1) != 0)
        Some((out, nbytes))
      case 1 => // INT32
        if (off + 4L * n > limit) return None
        Some(((0 until n).map(i => Bytes.le32(b, off + 4 * i)), 4 * n))
      case 2 => // INT64
        if (off + 8L * n > limit) return None
        Some(((0 until n).map(i => Bytes.le64(b, off + 8 * i)), 8 * n))
      case 3 => // INT96 (legacy timestamps): raw 12 bytes
        if (off + 12L * n > limit) return None
        Some(((0 until n).map(i => java.util.Arrays.copyOfRange(
          b, off + 12 * i, off + 12 * (i + 1))), 12 * n))
      case 4 => // FLOAT
        if (off + 4L * n > limit) return None
        Some(((0 until n).map(i =>
          java.lang.Float.intBitsToFloat(Bytes.le32(b, off + 4 * i))),
          4 * n))
      case 5 => // DOUBLE
        if (off + 8L * n > limit) return None
        Some(((0 until n).map(i =>
          java.lang.Double.longBitsToDouble(Bytes.le64(b, off + 8 * i))),
          8 * n))
      case 6 => // BYTE_ARRAY: u32 length + bytes
        var p = off
        val out = IndexedSeq.newBuilder[Any]
        var i = 0
        while (i < n) {
          if (p + 4 > limit) return None
          val len = Bytes.le32(b, p)
          p += 4
          // Long compare: a crafted huge length must not wrap the
          // Int bounds check into a copyOfRange throw
          if (len < 0 || p.toLong + len > limit) return None
          out += java.util.Arrays.copyOfRange(b, p, p + len)
          p += len
          i += 1
        }
        Some((out.result(), p - off))
      case 7 => // FIXED_LEN_BYTE_ARRAY
        val w = typeLength
        if (w <= 0 || off + w.toLong * n > limit) return None
        Some(((0 until n).map(i => java.util.Arrays.copyOfRange(
          b, off + w * i, off + w * (i + 1))), w * n))
      case _ => None
    }
  }

  // ---------------------------------------------------------------
  // Column chunk decode
  // ---------------------------------------------------------------

  /** Column chunks walked since JVM start — a test hook proving
    * projection pushdown never touches unprojected columns' pages
    * (local mode shares the JVM, so the counter sees executors). */
  private[graft] val chunksDecoded =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private def bitsFor(maxLevel: Int): Int = {
    var b = 0
    while ((1 << b) <= maxLevel) b += 1
    b
  }

  /** Walk one column chunk's pages into level + value streams:
    * (reps — null when maxRep == 0, defs — null when maxDef == 0,
    * values for the def == maxDef slots). Cross-page accumulation,
    * so list rows may span page boundaries. */
  private def walkChunk(data: Array[Byte], col: ColumnMeta,
      leaf: LeafInfo, maxRep: Int, maxDef: Int)
      : Option[(Array[Int], Array[Int], IndexedSeq[Any])] = {
    chunksDecoded.incrementAndGet(): Unit
    if (col.numValues < 0 || col.numValues > MaxValues) return None
    val total = col.numValues.toInt
    val reps = if (maxRep > 0) new Array[Int](total) else null
    val defs = if (maxDef > 0) new Array[Int](total) else null
    val repW = bitsFor(maxRep)
    val defW = bitsFor(maxDef)
    val valsOut = IndexedSeq.newBuilder[Any]
    var filled = 0 // level entries consumed so far
    var dict: IndexedSeq[Any] = null
    var off = col.dictPageOffset
      .map(d => math.min(d, col.dataPageOffset))
      .getOrElse(col.dataPageOffset)
    var remaining = col.numValues

    def decodeValues(bytes: Array[Byte], pos0: Int, limit: Int,
        enc: Int, pageDefs: Array[Int], nv: Int): Boolean = {
      val nNonNull =
        if (maxDef == 0) nv else pageDefs.count(_ == maxDef)
      val vals: IndexedSeq[Any] = enc match {
        case 0 => // PLAIN
          plainValues(bytes, pos0, limit, leaf.typeId,
            leaf.typeLength, nNonNull) match {
            case Some((vs, _)) => vs
            case None => return false
          }
        case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY
          if (dict == null || pos0 >= limit) return false
          val bw = bytes(pos0) & 0xff
          if (bw > 32) return false
          val idx = rleHybrid(bytes, pos0 + 1, limit - pos0 - 1,
            bw, nNonNull).getOrElse(return false)
          if (idx.exists(i => i < 0 || i >= dict.length))
            return false
          idx.toIndexedSeq.map(dict)
        case 3 => // RLE (booleans): u32 length prefix
          if (leaf.typeId != 0 || pos0 + 4 > limit) return false
          val len = Bytes.le32(bytes, pos0)
          if (len < 0 || pos0 + 4 + len > limit) return false
          val bits = rleHybrid(bytes, pos0 + 4, len, 1, nNonNull)
            .getOrElse(return false)
          bits.toIndexedSeq.map(_ != 0)
        case 5 => // DELTA_BINARY_PACKED (INT32/INT64)
          val longs = deltaBinaryPacked(bytes, pos0, limit, nNonNull)
            .getOrElse(return false)._1
          leaf.typeId match {
            // int32 delta arithmetic wraps mod 2^32 by spec — the
            // low 32 bits ARE the value, no range check
            case 1 => longs.toIndexedSeq.map(_.toInt)
            case 2 => longs.toIndexedSeq
            case _ => return false
          }
        case 6 => // DELTA_LENGTH_BYTE_ARRAY
          if (leaf.typeId != 6) return false
          deltaLengthByteArray(bytes, pos0, limit, nNonNull)
            .getOrElse(return false)._1
        case 7 => // DELTA_BYTE_ARRAY
          if (leaf.typeId != 6) return false
          deltaByteArray(bytes, pos0, limit, nNonNull)
            .getOrElse(return false)
        case 9 => // BYTE_STREAM_SPLIT (FLOAT/DOUBLE): byte plane k
          // of value i lives at plane*n + i
          val w = leaf.typeId match {
            case 4 => 4
            case 5 => 8
            case _ => return false
          }
          if (pos0 + w.toLong * nNonNull > limit) return false
          val n = nNonNull
          (0 until n).map { i =>
            var v = 0L
            var k = 0
            while (k < w) {
              v |= (bytes(pos0 + k * n + i) & 0xffL) << (8 * k)
              k += 1
            }
            if (w == 4) java.lang.Float.intBitsToFloat(v.toInt)
            else java.lang.Double.longBitsToDouble(v)
          }
        case _ => return false // unknown encodings
      }
      if (vals.length != nNonNull) return false
      valsOut ++= vals
      true
    }

    while (remaining > 0) {
      val h = pageHeader(data, off).getOrElse(return None)
      val bodyOff = off.toInt + h.headerLen
      val raw = java.util.Arrays.copyOfRange(data, bodyOff,
        bodyOff + h.comp)
      h.tpe match {
        case 2 => // DICTIONARY_PAGE (PLAIN / PLAIN_DICTIONARY)
          if (dict != null) return None // one dict per chunk
          if (h.encoding != 0 && h.encoding != 2) return None
          if (h.numValues < 0 || h.numValues > MaxValues) return None
          val bytes = decompress(col.codecId, raw, h.uncomp)
            .getOrElse(return None)
          dict = plainValues(bytes, 0, bytes.length, leaf.typeId,
            leaf.typeLength, h.numValues)
            .getOrElse(return None)._1
        case 0 => // DATA_PAGE v1
          if (h.numValues < 0 || h.numValues > remaining) return None
          // levels() below parses the u32-length-prefixed RLE
          // hybrid; a legacy BIT_PACKED level run would be
          // MISparsed (its first bytes read as a bogus length), so
          // reject any non-RLE level encoding that will actually
          // be consumed. With max level 0 there are no level bytes
          // and the recorded encoding is irrelevant.
          if (reps != null && h.repEnc != 3) return None
          if (defs != null && h.defEnc != 3) return None
          val bytes = decompress(col.codecId, raw, h.uncomp)
            .getOrElse(return None)
          var pos = 0
          def levels(width: Int, into: Array[Int]): Boolean = {
            if (pos + 4 > bytes.length) return false
            val len = Bytes.le32(bytes, pos)
            pos += 4
            if (len < 0 || pos + len > bytes.length) return false
            val d = rleHybrid(bytes, pos, len, width, h.numValues)
              .getOrElse(return false)
            pos += len
            System.arraycopy(d, 0, into, filled, h.numValues)
            true
          }
          if (reps != null && !levels(repW, reps)) return None
          val pageDefs: Array[Int] =
            if (defs == null) null
            else {
              if (!levels(defW, defs)) return None
              java.util.Arrays.copyOfRange(defs, filled,
                filled + h.numValues)
            }
          if (!decodeValues(bytes, pos, bytes.length, h.encoding,
            pageDefs, h.numValues)) return None
          filled += h.numValues
          remaining -= h.numValues
        case 3 => // DATA_PAGE_V2: levels uncompressed + unprefixed
          if (h.numValues < 0 || h.numValues > remaining) return None
          if (h.repLen < 0 || h.defLen < 0 ||
            h.repLen + h.defLen > raw.length) return None
          if (maxRep == 0 && h.repLen != 0) return None
          if (maxDef == 0 && h.defLen != 0) return None
          if (reps != null) {
            val r = rleHybrid(raw, 0, h.repLen, repW, h.numValues)
              .getOrElse(return None)
            System.arraycopy(r, 0, reps, filled, h.numValues)
          }
          val pageDefs: Array[Int] =
            if (defs == null) null
            else {
              val d = rleHybrid(raw, h.repLen, h.defLen, defW,
                h.numValues).getOrElse(return None)
              System.arraycopy(d, 0, defs, filled, h.numValues)
              d
            }
          val valRaw = java.util.Arrays.copyOfRange(raw,
            h.repLen + h.defLen, raw.length)
          val valBytes =
            if (h.v2Compressed)
              decompress(col.codecId, valRaw,
                h.uncomp - h.defLen - h.repLen)
                .getOrElse(return None)
            else valRaw
          if (!decodeValues(valBytes, 0, valBytes.length,
            h.encoding, pageDefs, h.numValues)) return None
          filled += h.numValues
          remaining -= h.numValues
        case 1 => // INDEX_PAGE: skip
        case _ => return None
      }
      off += h.headerLen + h.comp
    }
    if (filled != total) return None
    Some((reps, defs, valsOut.result()))
  }

  /** Decode one FLAT column chunk's values in row order;
    * None = null (maxDef ≤ 1, no repetition). */
  def decodeColumn(data: Array[Byte], col: ColumnMeta,
      leaf: LeafInfo): Option[IndexedSeq[Option[Any]]] = {
    val maxDef = if (leaf.optional) 1 else 0
    val (_, defs, vals) = walkChunk(data, col, leaf, 0, maxDef)
      .getOrElse(return None)
    if (defs == null) Some(vals.map(Some(_)))
    else {
      var vi = 0
      val out = IndexedSeq.newBuilder[Option[Any]]
      var i = 0
      while (i < defs.length) {
        if (defs(i) == maxDef) { out += Some(vals(vi)); vi += 1 }
        else out += None
        i += 1
      }
      if (vi != vals.length) None else Some(out.result())
    }
  }

  /** Decode one LIST column chunk into rows: None = null list,
    * Some(elements) with None = null element. One repeated level
    * (the 3-level list shape); rows may span pages. */
  def decodeListColumn(data: Array[Byte], col: ColumnMeta,
      shape: ColShape): Option[IndexedSeq[Option[Seq[Option[Any]]]]] = {
    require(shape.isList, "not a list column")
    val (reps, defs, vals) = walkChunk(data, col, shape.leaf,
      shape.maxRep, shape.maxDef).getOrElse(return None)
    if (reps == null || defs == null) return None
    val dNonEmpty = shape.defPresent + 1
    val out = IndexedSeq.newBuilder[Option[Seq[Option[Any]]]]
    var vi = 0
    var cur: scala.collection.mutable.Builder[Option[Any],
      Seq[Option[Any]]] = null
    var curNull = false
    def flush(): Unit =
      if (cur != null) out += Some(cur.result())
      else if (curNull) out += None
    var i = 0
    var started = false
    while (i < reps.length) {
      val r = reps(i)
      val d = defs(i)
      if (r == 0) {
        if (started) flush()
        started = true
        if (d < shape.defPresent) { cur = null; curNull = true }
        else {
          curNull = false
          cur = Seq.newBuilder[Option[Any]]
          if (d >= dNonEmpty) {
            if (d == shape.maxDef) { cur += Some(vals(vi)); vi += 1 }
            else cur += None // null element
          } // d == defPresent: empty list
        }
      } else { // r == 1: next element of the current list
        if (cur == null) return None // continuation without a list
        if (d == shape.maxDef) { cur += Some(vals(vi)); vi += 1 }
        else if (d >= dNonEmpty) cur += None
        else return None // an element entry below the element level
      }
      i += 1
    }
    if (started) flush()
    if (vi != vals.length) None else Some(out.result())
  }

  /** Decode one row group's STRUCT column: every field chunk's def
    * levels carry group presence (they must agree row by row). */
  private def decodeStructColumn(data: Array[Byte],
      rg: ParquetFooter.RowGroupMeta, shape: StructShape)
      : Option[IndexedSeq[Option[Any]]] = {
    val dGroup = if (shape.optional) 1 else 0
    val fieldVals = shape.fields.map { fs =>
      val cm = rg.columns.find(_.path == fs.path)
        .getOrElse(return None)
      if (cm.numValues != rg.numRows) return None
      val (_, defs, vals) = walkChunk(data, cm, fs.leaf, 0,
        fs.maxDef).getOrElse(return None)
      (fs, defs, vals)
    }
    val n = rg.numRows.toInt
    val vis = new Array[Int](shape.fields.length)
    val out = IndexedSeq.newBuilder[Option[Any]]
    var i = 0
    while (i < n) {
      val present = !shape.optional || {
        val d0 = fieldVals.head._2
        (if (d0 == null) fieldVals.head._1.maxDef else d0(i)) >=
          dGroup
      }
      // group presence must AGREE across fields
      if (shape.optional && fieldVals.exists { case (fs, ds, _) =>
        ((if (ds == null) fs.maxDef else ds(i)) >= dGroup) != present
      }) return None
      if (!present) {
        // value indices don't advance (no entries below the group)
        out += None
      } else {
        val row = fieldVals.zipWithIndex.map {
          case ((fs, ds, vals), fi) =>
            val d = if (ds == null) fs.maxDef else ds(i)
            if (d == fs.maxDef) {
              val v = vals(vis(fi)); vis(fi) += 1; Some(v)
            } else None
        }
        out += Some(row: Seq[Option[Any]])
      }
      i += 1
    }
    if (fieldVals.zipWithIndex.exists { case ((_, _, vals), fi) =>
      vis(fi) != vals.length
    }) return None
    Some(out.result())
  }

  /** Decode a file whose schema mixes flat fields, one-level LIST
    * columns (rows of Option[Seq[Option[Any]]]) and flat STRUCT
    * columns (rows of Option[Seq[Option[Any]]] in field order). */
  def decodeFileNested(data: Array[Byte])
      : Option[(Seq[Shape], Seq[IndexedSeq[Option[Any]]])] = {
    val footer = ParquetFooter.parse(data).getOrElse(return None)
    val shapes = fileShapes(footer).getOrElse(return None)
    val cols = shapes.map { sh =>
      val parts = footer.rowGroups.map { rg =>
        sh match {
          case st: StructShape =>
            decodeStructColumn(data, rg, st).getOrElse(return None)
          case mp: MapShape =>
            def side(cs: ColShape)
                : Option[IndexedSeq[Option[Seq[Option[Any]]]]] =
              rg.columns.find(_.path == cs.path)
                .flatMap(cm => decodeListColumn(data, cm, cs))
            val ks = side(mp.key).getOrElse(return None)
            val vs = side(mp.value).getOrElse(return None)
            if (ks.length != vs.length) return None
            ks.indices.map { r =>
              (ks(r), vs(r)) match {
                case (None, None) => None
                case (Some(k), Some(v)) if k.length == v.length =>
                  // arrow-style entry rows: Some(Seq(key, value))
                  Some(k.indices.map(e =>
                    Some(Seq(k(e), v(e)): Seq[Option[Any]]))
                    : Seq[Option[Any]]): Option[Any]
                case _ => return None // sides disagree: corrupt
              }
            }
          case cs: ColShape =>
            val cm = rg.columns.find(_.path == cs.path)
              .getOrElse(return None)
            if (cs.isList)
              decodeListColumn(data, cm, cs).getOrElse(return None)
                .map(x => x: Option[Any])
            else decodeColumn(data, cm, cs.leaf)
              .getOrElse(return None)
        }
      }
      if (parts.map(_.length.toLong).sum > MaxValues) return None
      parts.flatten.toIndexedSeq
    }
    if (cols.exists(_.length != footer.numRows)) return None
    Some((shapes, cols))
  }

  // ---------------------------------------------------------------
  // Recursive nested decode (round 13): arbitrary nesting depth —
  // list<struct<...>>, struct<struct>, list<list>, struct<list>,
  // maps of nested values — via full Dremel record assembly over
  // each leaf's (repetition, definition) level streams. The flat /
  // one-level entry points above stay as the fast paths; this is
  // the general one.
  // ---------------------------------------------------------------

  /** Recursive schema node. Definition levels follow the spec: +1
    * for every optional node, +1 for every repeated node along the
    * path; repetition levels: +1 per repeated node. */
  sealed trait DeepNode {
    def name: String
    def optional: Boolean
  }

  /** A primitive leaf: `defLvl` = the level meaning "value
    * present", `repLvl` = the number of repeated ancestors, `path`
    * = the dotted column-chunk path. */
  final case class DeepLeaf(name: String, optional: Boolean,
      typeId: Int, typeLength: Int, path: String,
      defLvl: Int, repLvl: Int, conv: Int = -1) extends DeepNode

  /** A group (struct): null iff def < defLvl on every descendant
    * leaf (they agree by construction). */
  final case class DeepStruct(name: String, optional: Boolean,
      defLvl: Int, fields: Seq[DeepNode]) extends DeepNode

  /** A 3-level LIST (or MAP when `isMap` — the element is then the
    * key_value struct): `outerDefLvl` = the outer group present
    * (def below ⇒ null list, equal ⇒ empty list), `defLvl` =
    * outerDefLvl + 1 = an element slot exists, `repLvl` = the
    * repeated group's repetition level. */
  final case class DeepList(name: String, optional: Boolean,
      outerDefLvl: Int, defLvl: Int, repLvl: Int,
      elem: DeepNode, isMap: Boolean) extends DeepNode

  /** The full recursive schema; None on shapes that are not plain
    * Spark/parquet-mr output (bare repeated fields — the legacy
    * 2-level list — reject honestly). */
  def deepSchema(f: Footer): Option[Seq[DeepNode]] = {
    val es = f.schemaElems
    if (es.length < 2) return None
    // (node, nextIndex) over the preorder element list
    def parse(i: Int, d0: Int, r0: Int, prefix: String, depth: Int)
        : Option[(DeepNode, Int)] = {
      if (i >= es.length || depth > 32) return None
      val e = es(i)
      if (e.repetition == 2) return None // legacy 2-level repeated
      val opt = e.repetition == 1
      val d1 = d0 + (if (opt) 1 else 0)
      val path = if (prefix.isEmpty) e.name else s"$prefix.${e.name}"
      if (e.numChildren == 0) {
        if (e.typeId < 0 || e.typeId > 7) return None
        if (e.typeId == 7 && e.typeLength <= 0) return None
        Some((DeepLeaf(e.name, opt, e.typeId, e.typeLength, path,
          d1, r0, e.convertedType), i + 1))
      } else if (e.numChildren == 1 && i + 1 < es.length &&
        es(i + 1).repetition == 2 && es(i + 1).numChildren >= 1) {
        // 3-level LIST (repeated group, 1 child) / MAP (2 children)
        val rg = es(i + 1)
        val dRep = d1 + 1
        val rep = r0 + 1
        val rpath = s"$path.${rg.name}"
        if (rg.numChildren == 1) {
          val (elem, next) = parse(i + 2, dRep, rep, rpath,
            depth + 1).getOrElse(return None)
          Some((DeepList(e.name, opt, d1, dRep, rep, elem,
            isMap = false), next))
        } else {
          // key_value (MAP) or a legacy repeated record: either
          // way, a list whose element is the repeated group itself
          var j = i + 2
          val fs = Seq.newBuilder[DeepNode]
          var k = 0
          while (k < rg.numChildren) {
            val (n, nx) = parse(j, dRep, rep, rpath, depth + 1)
              .getOrElse(return None)
            fs += n; j = nx; k += 1
          }
          val st = DeepStruct(rg.name, optional = false, dRep,
            fs.result())
          Some((DeepList(e.name, opt, d1, dRep, rep, st,
            isMap = rg.numChildren == 2), j))
        }
      } else {
        // plain struct group
        var j = i + 1
        val fs = Seq.newBuilder[DeepNode]
        var k = 0
        while (k < e.numChildren) {
          val (n, nx) = parse(j, d1, r0, path, depth + 1)
            .getOrElse(return None)
          fs += n; j = nx; k += 1
        }
        Some((DeepStruct(e.name, opt, d1, fs.result()), j))
      }
    }
    var i = 1
    val out = Seq.newBuilder[DeepNode]
    var fields = 0
    while (i < es.length) {
      val (n, nx) = parse(i, 0, 0, "", 0).getOrElse(return None)
      out += n
      fields += 1
      i = nx
    }
    if (fields != es.head.numChildren) return None
    Some(out.result())
  }

  private def deepLeaves(n: DeepNode): Seq[DeepLeaf] = n match {
    case l: DeepLeaf => Seq(l)
    case s: DeepStruct => s.fields.flatMap(deepLeaves)
    case l: DeepList => deepLeaves(l.elem)
  }

  /** One leaf's decoded streams with a read position: `p` indexes
    * the (rep, def) entries, `vi` the present values. */
  private final class LeafCur(val leaf: DeepLeaf,
      reps: Array[Int], defs: Array[Int],
      val vals: IndexedSeq[Any]) {
    var p = 0
    var vi = 0
    val n: Int = if (defs != null) defs.length
      else if (reps != null) reps.length else vals.length
    def hasNext: Boolean = p < n
    def rep: Int = if (reps == null) 0 else reps(p)
    def dfn: Int = if (defs == null) leaf.defLvl else defs(p)
  }

  /** Dremel record assembly: one `value(node)` call consumes
    * exactly one instance slot of `node` — including every nested
    * entry below it — from all of the node's leaf cursors. `ok`
    * latches false on any malformation (level disagreements,
    * stream exhaustion, values out of step); never invents. */
  private final class DeepAsm(curs: Map[String, LeafCur]) {
    var ok = true

    private def cursorsOf(n: DeepNode): Seq[LeafCur] =
      deepLeaves(n).map(l => curs(l.path))

    /** Consume one entry from every leaf below `n` — a null/empty
      * marker slot; every def must equal the peeked `d`. */
    private def consumeMarker(n: DeepNode, d: Int): Unit =
      cursorsOf(n).foreach { c =>
        if (!c.hasNext || c.dfn != d) ok = false
        else c.p += 1
      }

    def value(node: DeepNode): Option[Any] = {
      if (!ok) return None
      node match {
        case l: DeepLeaf =>
          val c = curs(l.path)
          if (!c.hasNext) { ok = false; return None }
          val d = c.dfn
          c.p += 1
          if (d == l.defLvl) {
            if (c.vi >= c.vals.length) { ok = false; None }
            else { val v = c.vals(c.vi); c.vi += 1; Some(v) }
          } else if (l.optional && d == l.defLvl - 1) None
          else { ok = false; None }
        case s: DeepStruct =>
          val cs = cursorsOf(s)
          if (cs.isEmpty || !cs.head.hasNext) {
            ok = false; return None
          }
          val d = cs.head.dfn
          if (s.optional && d < s.defLvl) {
            if (d != s.defLvl - 1) { ok = false; return None }
            consumeMarker(s, d)
            None
          } else {
            val row = s.fields.map(value)
            if (!ok) None else Some(row: Seq[Option[Any]])
          }
        case l: DeepList =>
          val cs = cursorsOf(l)
          if (cs.isEmpty || !cs.head.hasNext) {
            ok = false; return None
          }
          val d = cs.head.dfn
          if (d < l.outerDefLvl) {
            if (!(l.optional && d == l.outerDefLvl - 1)) {
              ok = false; return None
            }
            consumeMarker(l, d)
            None // null list
          } else if (d == l.outerDefLvl) {
            consumeMarker(l, d)
            Some(Seq.empty[Option[Any]]) // empty list
          } else {
            val out = Seq.newBuilder[Option[Any]]
            out += value(l.elem)
            var more = ok && cs.head.hasNext &&
              cs.head.rep == l.repLvl
            while (ok && more) {
              // every leaf must agree this list continues
              if (cs.exists(c => !c.hasNext || c.rep != l.repLvl))
                ok = false
              else {
                out += value(l.elem)
                more = ok && cs.head.hasNext &&
                  cs.head.rep == l.repLvl
              }
            }
            if (!ok) None
            else Some(out.result(): Seq[Option[Any]])
          }
      }
    }
  }

  /** Decode a file of ANY supported nesting depth. Column-major:
    * one value per row per top-level field — structs are
    * Seq[Option[Any]] in field order, lists (and maps, as
    * key_value entry structs) are Seq[Option[Any]] of elements,
    * nulls are None at every depth. */
  def decodeFileDeep(data: Array[Byte])
      : Option[(Seq[DeepNode], Seq[IndexedSeq[Option[Any]]])] =
    decodeFileDeep(data, None)

  /** As above, but decoding ONLY the named top-level columns (in
    * schema order) — the other columns' chunks are never touched,
    * the projection pushdown a recovery scan needs. Unknown names
    * reject. `None` = all columns. */
  def decodeFileDeep(data: Array[Byte], project: Option[Set[String]])
      : Option[(Seq[DeepNode], Seq[IndexedSeq[Option[Any]]])] = {
    val footer = ParquetFooter.parse(data).getOrElse(return None)
    val all = deepSchema(footer).getOrElse(return None)
    val nodes = project match {
      case None => all
      case Some(keep) =>
        if (!keep.subsetOf(all.map(_.name).toSet)) return None
        all.filter(n => keep(n.name))
    }
    val cols = nodes.map { node =>
      val leaves = deepLeaves(node)
      if (leaves.isEmpty) return None
      val parts = footer.rowGroups.map { rg =>
        if (rg.numRows < 0 || rg.numRows > MaxValues) return None
        val curs = leaves.map { lf =>
          val cm = rg.columns.find(_.path == lf.path)
            .getOrElse(return None)
          val li = LeafInfo(lf.name, lf.typeId, lf.typeLength,
            lf.optional)
          val (reps, defs, vals) =
            walkChunk(data, cm, li, lf.repLvl, lf.defLvl)
              .getOrElse(return None)
          lf.path -> new LeafCur(lf, reps, defs, vals)
        }.toMap
        val asm = new DeepAsm(curs)
        val n = rg.numRows.toInt
        val out = IndexedSeq.newBuilder[Option[Any]]
        var r = 0
        while (r < n) {
          // every leaf's next entry must start a record
          if (curs.values.exists(c => !c.hasNext || c.rep != 0))
            return None
          out += asm.value(node)
          if (!asm.ok) return None
          r += 1
        }
        // nothing left over: levels and values fully consumed
        if (curs.values.exists(c =>
          c.p != c.n || c.vi != c.vals.length)) return None
        out.result()
      }
      if (parts.map(_.length.toLong).sum > MaxValues) return None
      parts.flatten.toIndexedSeq
    }
    if (cols.exists(_.length != footer.numRows)) return None
    Some((nodes, cols))
  }

  /** Decode a whole flat-schema file: (leaves, column-major values
    * with all row groups concatenated). */
  def decodeFile(data: Array[Byte])
      : Option[(Seq[LeafInfo], Seq[IndexedSeq[Option[Any]]])] = {
    val footer = ParquetFooter.parse(data).getOrElse(return None)
    val leaves = flatLeaves(footer).getOrElse(return None)
    val cols = leaves.indices.map { i =>
      val parts = footer.rowGroups.map { rg =>
        val cm = rg.columns.find(_.path == leaves(i).name)
          .getOrElse(return None)
        decodeColumn(data, cm, leaves(i)).getOrElse(return None)
      }
      if (parts.map(_.length.toLong).sum > MaxValues) return None
      parts.flatten.toIndexedSeq
    }
    if (cols.exists(_.length != footer.numRows)) return None
    Some((leaves, cols))
  }
}
