package graft.operators

/** Parquet FOOTER metadata (the public parquet-format spec:
  * Thrift `FileMetaData` serialized with the Thrift COMPACT
  * protocol, framed `…[metadata][u32 LE length]["PAR1"]`) — read
  * from scratch, no parquet-mr and no Spark internals. This is the
  * storage-layout AUDIT surface a 100 TB engine needs: row-group
  * sizes, per-column codecs/encodings, value counts and page
  * offsets tell you whether a table's physical layout matches its
  * access pattern (row groups too small → listing overhead; a
  * column uncompressed → scan amplification) without decoding any
  * data pages.
  *
  * The compact-protocol reader is generic ([[TCompact]] — field
  * headers with delta-encoded ids, zigzag varints, the 15-escape
  * list header, nested structs) with the schema walk on top:
  * `FileMetaData(version, schema, num_rows, row_groups,
  * created_by)` → `SchemaElement(type, name, num_children)` →
  * `RowGroup(columns, total_byte_size, num_rows)` →
  * `ColumnChunk.meta_data = ColumnMetaData(type, encodings,
  * path_in_schema, codec, num_values, sizes, offsets)`. Unknown
  * fields skip by type (schema evolution); malformed framing,
  * truncated varints, out-of-range lengths and recursion beyond
  * depth 32 reject. None on any malformation — drop, never
  * invent.
  *
  * Round 12 adds the PAGE INDEX (OffsetIndex page locations +
  * ColumnIndex per-page min/max/null stats — the structures page-
  * level pruning reads without touching data pages) and the
  * SPLIT-BLOCK BLOOM FILTER (BloomFilter.md: 256-bit blocks, eight
  * salted 32-bit lanes, xxHash64 over the PLAIN value encoding —
  * the hash reuses [[Zstd.xxh64]]); both located by the ColumnChunk
  * / ColumnMetaData offset fields and parsed with the same compact
  * reader.
  *
  * Validation: ParquetFooterSpec parses REAL files written by
  * Spark's parquet writer (a live differential against parquet-mr's
  * thrift serializer on every assertion) plus truncation/garbage
  * fuzz — the bloom probe is differential-tested BIT-EXACTLY
  * against parquet-mr's own BlockSplitBloomFilter over shared
  * bitsets and hashes; the `parquet_footer` / `parquet_page_index`
  * / `parquet_bloom_probe` gate queries audit deterministic
  * lineitem fixtures under the DuckDB oracle. */
object ParquetFooter {

  /** (file offset, byte length) of an out-of-footer structure —
    * page indexes sit between the last data page and the footer. */
  final case class IndexRef(offset: Long, length: Int)

  final case class ColumnMeta(path: String, typeId: Int,
      codecId: Int, encodings: Seq[Int], numValues: Long,
      totalCompressed: Long, totalUncompressed: Long,
      dataPageOffset: Long,
      offsetIndex: Option[IndexRef] = None,
      columnIndex: Option[IndexRef] = None,
      bloomOffset: Option[Long] = None,
      bloomLength: Option[Int] = None,
      dictPageOffset: Option[Long] = None)
  final case class RowGroupMeta(numRows: Long, totalByteSize: Long,
      columns: Seq[ColumnMeta])
  /** One SchemaElement row (flattened depth-first, root included):
    * `typeId` -1 for group nodes, `typeLength` for FLBA,
    * `repetition` 0=required 1=optional 2=repeated. */
  final case class SchemaElem(name: String, typeId: Int,
      typeLength: Int, repetition: Int, numChildren: Int,
      /** parquet.thrift ConvertedType ordinal (-1 = absent):
        * 0 UTF8, 6 DATE, 9/10 TIMESTAMP_MILLIS/_MICROS, 5 DECIMAL
        * — what turns a physical BYTE_ARRAY into a string etc. */
      convertedType: Int = -1)
  final case class Footer(version: Int, numRows: Long,
      createdBy: String, schemaLeaves: Seq[String],
      rowGroups: Seq[RowGroupMeta],
      schemaElems: Seq[SchemaElem] = Seq.empty)

  /** OffsetIndex.page_locations entry: where a data page starts,
    * its size including the page header, and the row-group-relative
    * index of its first row. */
  final case class PageLoc(offset: Long, compressedSize: Int,
      firstRow: Long)

  /** ColumnIndex: per-page min/max bounds (PLAIN-encoded value
    * bytes), null-only flags and optional null counts — the
    * page-level pruning surface. */
  final case class ColumnIdx(nullPages: Seq[Boolean],
      minValues: Seq[Array[Byte]], maxValues: Seq[Array[Byte]],
      boundaryOrder: Int, nullCounts: Option[Seq[Long]])

  /** parquet.thrift CompressionCodec enum. */
  val CodecNames: Map[Int, String] = Map(
    0 -> "UNCOMPRESSED", 1 -> "SNAPPY", 2 -> "GZIP", 3 -> "LZO",
    4 -> "BROTLI", 5 -> "LZ4", 6 -> "ZSTD", 7 -> "LZ4_RAW")

  /** parquet.thrift Type enum. */
  val TypeNames: Map[Int, String] = Map(
    0 -> "BOOLEAN", 1 -> "INT32", 2 -> "INT64", 3 -> "INT96",
    4 -> "FLOAT", 5 -> "DOUBLE", 6 -> "BYTE_ARRAY",
    7 -> "FIXED_LEN_BYTE_ARRAY")

  // ---------------------------------------------------------------
  // Thrift compact protocol (read side)
  // ---------------------------------------------------------------

  private final val MaxDepth = 32
  private final val MaxItems = 1 << 20

  private[operators] final class TCompact(bytes: Array[Byte],
      start: Int, limit: Int) extends Bytes.Cursor(bytes, start, limit) {
    def zigzag(): Long = Bytes.unzigzag(varint())

    def binary(): Array[Byte] = {
      val n = varint()
      if (!ok || n < 0 || n > end - p) { fail(); Array.emptyByteArray }
      else {
        val r = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
        p += n.toInt; r
      }
    }

    def string(): String = {
      val raw = binary()
      if (!ok) return ""
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      try dec.decode(java.nio.ByteBuffer.wrap(raw)).toString
      catch { case _: java.nio.charset.CharacterCodingException =>
        fail(); "" }
    }

    /** Skip one value of compact type `t`. */
    def skip(t: Int, depth: Int): Unit = {
      if (depth > MaxDepth) { fail(); return }
      t match {
        case 1 | 2 => () // bool packed in the header
        case 3 => u8(): Unit
        case 4 | 5 | 6 => zigzag(): Unit
        case 7 => var i = 0; while (i < 8 && ok) { u8(); i += 1 }
        case 8 => binary(): Unit
        case 9 | 10 =>
          val (n, et) = listHeader()
          var i = 0L
          while (ok && i < n) { skipElem(et, depth + 1); i += 1 }
        case 11 =>
          val n = varint()
          if (n != 0) {
            val kv = u8()
            val kt = (kv >> 4) & 0xf
            val vt = kv & 0xf
            var i = 0L
            while (ok && i < n) {
              skipElem(kt, depth + 1); skipElem(vt, depth + 1)
              i += 1 }
          }
        case 12 => skipStruct(depth + 1)
        case _ => fail()
      }
    }

    /** Skip one LIST/MAP ELEMENT of compact type `t` — unlike a
      * struct field, a bool element occupies a real byte (the
      * header-packed encoding only applies to field values). */
    def skipElem(t: Int, depth: Int): Unit =
      if (t == 1 || t == 2) { u8(): Unit } else skip(t, depth)

    def skipStruct(depth: Int): Unit = {
      if (depth > MaxDepth) { fail(); return }
      var done = false
      while (ok && !done) {
        val h = u8()
        if (h == 0) done = true
        else {
          val t = h & 0xf
          if ((h >> 4) == 0) zigzag(): Unit // long-form field id
          skip(t, depth)
        }
      }
    }

    /** (size, elemType) for list/set. */
    def listHeader(): (Long, Int) = {
      val h = u8()
      val et = h & 0xf
      val short = (h >> 4) & 0xf
      val n = if (short == 15) varint() else short.toLong
      if (n < 0 || n > MaxItems) { fail(); (0L, et) }
      else (n, et)
    }
  }

  /** Walk one compact struct, dispatching absolute field ids to
    * `onField(id, type)`; unhandled fields are skipped by the
    * CALLER returning false. */
  private[operators] def struct(c: TCompact, depth: Int)(
      onField: (Int, Int) => Boolean): Unit = {
    if (depth > MaxDepth) { c.fail(); return }
    var fid = 0
    var done = false
    while (c.ok && !done) {
      val h = c.u8()
      if (h == 0) done = true
      else {
        val t = h & 0xf
        val delta = (h >> 4) & 0xf
        fid = if (delta == 0) c.zigzag().toInt else fid + delta
        if (!onField(fid, t)) c.skip(t, depth + 1)
      }
    }
  }

  // ---------------------------------------------------------------
  // Schema walk
  // ---------------------------------------------------------------

  private def columnMeta(c: TCompact): Option[ColumnMeta] = {
    var typeId = -1
    var codec = -1
    val encodings = Seq.newBuilder[Int]
    val path = Seq.newBuilder[String]
    var numValues = 0L
    var comp = 0L
    var uncomp = 0L
    var dataOff = 0L
    var dictOff: Option[Long] = None
    var bloomOff: Option[Long] = None
    var bloomLen: Option[Int] = None
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 => typeId = c.zigzag().toInt; true
        case 2 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 5) encodings += c.zigzag().toInt
            else c.skipElem(et, 1)
            i += 1
          }
          true
        case 3 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 8) path += c.string()
            else c.skipElem(et, 1)
            i += 1
          }
          true
        case 4 => codec = c.zigzag().toInt; true
        case 5 => numValues = c.zigzag(); true
        case 6 => uncomp = c.zigzag(); true
        case 7 => comp = c.zigzag(); true
        case 9 => dataOff = c.zigzag(); true
        case 11 => dictOff = Some(c.zigzag()); true
        case 14 => bloomOff = Some(c.zigzag()); true
        case 15 => bloomLen = Some(c.zigzag().toInt); true
        case _ => false
      }
    }
    if (!c.ok || typeId < 0 || codec < 0) return None
    Some(ColumnMeta(path.result().mkString("."), typeId, codec,
      encodings.result(), numValues, comp, uncomp, dataOff,
      bloomOffset = bloomOff, bloomLength = bloomLen,
      dictPageOffset = dictOff))
  }

  private def columnChunk(c: TCompact): Option[ColumnMeta] = {
    var meta: Option[ColumnMeta] = None
    var oiOff = -1L; var oiLen = -1
    var ciOff = -1L; var ciLen = -1
    struct(c, 0) { (fid, t) =>
      fid match {
        case 3 if t == 12 => meta = columnMeta(c); true
        case 4 => oiOff = c.zigzag(); true
        case 5 => oiLen = c.zigzag().toInt; true
        case 6 => ciOff = c.zigzag(); true
        case 7 => ciLen = c.zigzag().toInt; true
        case _ => false
      }
    }
    if (!c.ok) None
    else meta.map(_.copy(
      offsetIndex = if (oiOff >= 0 && oiLen > 0)
        Some(IndexRef(oiOff, oiLen)) else None,
      columnIndex = if (ciOff >= 0 && ciLen > 0)
        Some(IndexRef(ciOff, ciLen)) else None))
  }

  private def rowGroup(c: TCompact): Option[RowGroupMeta] = {
    val cols = Seq.newBuilder[ColumnMeta]
    var rows = 0L
    var bytes = 0L
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 12) cols += columnChunk(c)
              .getOrElse { c.fail(); return None }
            else c.skipElem(et, 1)
            i += 1
          }
          true
        case 2 => bytes = c.zigzag(); true
        case 3 => rows = c.zigzag(); true
        case _ => false
      }
    }
    if (!c.ok) None else Some(RowGroupMeta(rows, bytes,
      cols.result()))
  }

  /** Parse a whole parquet FILE's footer (bytes = the full file or
    * at least its tail). */
  def parse(data: Array[Byte]): Option[Footer] = {
    if (data.length < 12) return None
    def magicAt(o: Int): Boolean =
      data(o) == 'P' && data(o + 1) == 'A' && data(o + 2) == 'R' &&
        data(o + 3) == '1'
    if (!magicAt(0) || !magicAt(data.length - 4)) return None
    val len = Bytes.le32(data, data.length - 8)
    if (len <= 0 || len > data.length - 12) return None
    val start = data.length - 8 - len
    val c = new TCompact(data, start, start + len)

    var version = 0
    var numRows = 0L
    var createdBy = ""
    val leaves = Seq.newBuilder[String]
    val elems = Seq.newBuilder[SchemaElem]
    val groups = Seq.newBuilder[RowGroupMeta]
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 => version = c.zigzag().toInt; true
        case 2 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 12) {
              // SchemaElement: 1 = type, 2 = type_length,
              // 3 = repetition_type, 4 = name, 5 = num_children,
              // 6 = converted_type
              var name = ""
              var children = 0L
              var tpe = -1
              var tlen = 0
              var rep = 0
              var conv = -1
              struct(c, 1) { (sf, st) =>
                sf match {
                  case 1 => tpe = c.zigzag().toInt; true
                  case 2 => tlen = c.zigzag().toInt; true
                  case 3 => rep = c.zigzag().toInt; true
                  case 4 => name = c.string(); true
                  case 5 => children = c.zigzag(); true
                  case 6 => conv = c.zigzag().toInt; true
                  case _ => false
                }
              }
              if (children == 0L && i > 0) leaves += name
              elems += SchemaElem(name, tpe, tlen, rep,
                children.toInt, conv)
            } else c.skipElem(et, 1)
            i += 1
          }
          true
        case 3 => numRows = c.zigzag(); true
        case 4 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 12) groups += rowGroup(c)
              .getOrElse { c.fail(); return None }
            else c.skipElem(et, 1)
            i += 1
          }
          true
        case 6 => createdBy = c.string(); true
        case _ => false
      }
    }
    if (!c.ok) return None
    Some(Footer(version, numRows, createdBy, leaves.result(),
      groups.result(), elems.result()))
  }

  // ---------------------------------------------------------------
  // Page index (OffsetIndex / ColumnIndex) — stored between the
  // last data page and the footer, located by the ColumnChunk refs.
  // ---------------------------------------------------------------

  private def sliceFor(data: Array[Byte], ref: IndexRef)
      : Option[TCompact] =
    if (ref.offset < 0 || ref.length <= 0 ||
      ref.offset > data.length.toLong - ref.length) None
    else Some(new TCompact(data, ref.offset.toInt,
      ref.offset.toInt + ref.length))

  /** OffsetIndex at `ref`: page locations ordered by offset with
    * strictly increasing first-row indexes (spec invariants —
    * violations reject). */
  def parseOffsetIndex(data: Array[Byte], ref: IndexRef)
      : Option[Seq[PageLoc]] = {
    val c = sliceFor(data, ref).getOrElse(return None)
    val pages = Seq.newBuilder[PageLoc]
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 12) {
              var off = -1L; var sz = -1; var row = -1L
              struct(c, 1) { (pf, _) =>
                pf match {
                  case 1 => off = c.zigzag(); true
                  case 2 => sz = c.zigzag().toInt; true
                  case 3 => row = c.zigzag(); true
                  case _ => false
                }
              }
              if (off < 0 || sz <= 0 || row < 0) c.fail()
              else pages += PageLoc(off, sz, row)
            } else c.skipElem(et, 1)
            i += 1
          }
          true
        case _ => false
      }
    }
    if (!c.ok) return None
    val ps = pages.result()
    if (ps.isEmpty) return None
    val ordered = ps.sliding(2).forall {
      case Seq(a, b) => a.offset < b.offset && a.firstRow < b.firstRow
      case _ => true
    }
    if (!ordered || ps.head.firstRow != 0L) None else Some(ps)
  }

  /** ColumnIndex at `ref`: the three per-page lists must agree in
    * length, and a null page's bounds must be empty per spec. */
  def parseColumnIndex(data: Array[Byte], ref: IndexRef)
      : Option[ColumnIdx] = {
    val c = sliceFor(data, ref).getOrElse(return None)
    val nulls = Seq.newBuilder[Boolean]
    val mins = Seq.newBuilder[Array[Byte]]
    val maxs = Seq.newBuilder[Array[Byte]]
    var order = -1
    var counts: Option[Seq[Long]] = None
    def binList(into: collection.mutable.Builder[Array[Byte], _])
        : Unit = {
      val (n, et) = c.listHeader()
      var i = 0L
      while (c.ok && i < n) {
        if (et == 8) into += c.binary() else c.skipElem(et, 1)
        i += 1
      }
    }
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 =>
          val (n, et) = c.listHeader()
          var i = 0L
          while (c.ok && i < n) {
            if (et == 1 || et == 2) c.u8() match {
              case 1 => nulls += true
              case 2 => nulls += false
              case _ => c.fail()
            } else c.skipElem(et, 1)
            i += 1
          }
          true
        case 2 => binList(mins); true
        case 3 => binList(maxs); true
        case 4 => order = c.zigzag().toInt; true
        case 5 =>
          val (n, et) = c.listHeader()
          val vs = Seq.newBuilder[Long]
          var i = 0L
          while (c.ok && i < n) {
            if (et == 6) vs += c.zigzag() else c.skipElem(et, 1)
            i += 1
          }
          counts = Some(vs.result())
          true
        case _ => false
      }
    }
    if (!c.ok || order < 0 || order > 2) return None
    val (np, mn, mx) = (nulls.result(), mins.result(), maxs.result())
    if (np.isEmpty || np.length != mn.length ||
      np.length != mx.length) return None
    if (counts.exists(_.length != np.length)) return None
    val nullBoundsEmpty = np.lazyZip(mn).lazyZip(mx).forall {
      (isNull, lo, hi) => !isNull || (lo.isEmpty && hi.isEmpty)
    }
    if (!nullBoundsEmpty) None
    else Some(ColumnIdx(np, mn, mx, order, counts))
  }

  /** PLAIN-encoded INT64 page bound → value (LE, 8 bytes). */
  def boundI64(b: Array[Byte]): Option[Long] =
    if (b.length != 8) None
    else Some(Bytes.le64(b, 0))

  /** PLAIN-encoded DOUBLE page bound → value. */
  def boundF64(b: Array[Byte]): Option[Double] =
    boundI64(b).map(java.lang.Double.longBitsToDouble)

  // ---------------------------------------------------------------
  // Split-block bloom filter (parquet-format BloomFilter.md):
  // 256-bit blocks of eight 32-bit words; a value sets one bit per
  // word, lane i's position picked by (low32(h) · SALT[i]) >>> 27;
  // the block is picked by the fixed-point scaling
  // (high32(h) · numBlocks) >>> 32. Values hash with xxHash64
  // (seed 0) over their PLAIN encoding — we reuse Zstd.xxh64.
  // ---------------------------------------------------------------

  private[operators] final val BloomSalt: Array[Int] = Array(
    0x47b6137b, 0x44974d91, 0x8824ad5b, 0xa2b7289d,
    0x705495c7, 0x2df1424b, 0x9efc4947, 0x5c6bfb31)

  /** A parsed filter: the raw bitset (a multiple of 32 bytes). */
  final case class BloomBits(bits: Array[Byte]) {
    private def numBlocks: Int = bits.length / 32
    def mightContain(hash: Long): Boolean = {
      if (numBlocks == 0) return false
      val block =
        (((hash >>> 32) * numBlocks.toLong) >>> 32).toInt
      val key = hash.toInt
      var i = 0
      while (i < 8) {
        val base = block * 32 + i * 4
        val w = Bytes.le32(bits, base)
        val bit = (key * BloomSalt(i)) >>> 27
        if ((w & (1 << bit)) == 0) return false
        i += 1
      }
      true
    }
  }

  /** Hash an INT64 value the way parquet-mr's writer does (PLAIN
    * little-endian bytes through xxHash64 seed 0). */
  def bloomHashLong(v: Long): Long = {
    val b = new Array[Byte](8)
    Bytes.setLe64(b, 0, v)
    Zstd.xxh64(b, 0, 8)
  }

  def bloomHashBinary(v: Array[Byte]): Long =
    Zstd.xxh64(v, 0, v.length)

  /** Parse the BloomFilterHeader + bitset at `off` (ColumnMetaData
    * field 14). Only the spec's single algorithm/hash/compression
    * choices exist; anything else rejects. */
  def parseBloom(data: Array[Byte], off: Long): Option[BloomBits] = {
    if (off < 0 || off >= data.length) return None
    val c = new TCompact(data, off.toInt, data.length)
    var numBytes = -1
    var algo = false; var hashFn = false; var compr = false
    struct(c, 0) { (fid, t) =>
      fid match {
        case 1 => numBytes = c.zigzag().toInt; true
        case 2 => // union { 1: SplitBlockAlgorithm BLOCK }
          algo = true; false
        case 3 => hashFn = true; false
        case 4 => compr = true; false
        case _ => false
      }
    }
    if (!c.ok || numBytes <= 0 || numBytes % 32 != 0 ||
      !algo || !hashFn || !compr) return None
    if (numBytes > data.length - c.p) return None
    Some(BloomBits(java.util.Arrays.copyOfRange(
      data, c.p, c.p + numBytes)))
  }
}
