package graft.operators

/** ORC file TAIL metadata (the public ORCv1 specification,
  * orc.apache.org/specification — protobuf messages whose field
  * numbers are differential-pinned against the descriptor shipped
  * inside Spark's own orc-format jar) — read from scratch, no
  * orc-core: the columnar-storage AUDIT surface that complements
  * [[ParquetFooter]]. A 100 TB lakehouse holds both formats; the
  * same plan-before-read questions (row-group sizes, codecs, stats
  * coverage, index granularity) need answering for ORC without
  * instantiating a reader stack.
  *
  * Layout (tail-first, like parquet): `…stripes… [metadata]
  * [footer] [postscript] [u8 postscript_length]`. The PostScript is
  * NEVER compressed and carries the codec + footer/metadata
  * lengths; footer, metadata, stripe footers and row indexes are
  * "compressed streams" — runs of chunks, each with a 3-byte LE
  * header `(len << 1) | isOriginal`, decoded per-chunk with the
  * file codec (NONE/ZLIB-raw-deflate/SNAPPY/LZ4/ZSTD — all
  * in-repo decoders; LZO/BROTLI reject honestly).
  *
  * Decoded surface:
  *  - PostScript → Footer: stripe list (offset/index/data/footer
  *    lengths, rows), the TYPE TREE (kinds, subtypes, struct field
  *    names), file-level ColumnStatistics (int/double/string
  *    min-max-sum, hasNull), row-index stride, user metadata,
  *    writer version.
  *  - Metadata → per-stripe ColumnStatistics (the stripe-skip
  *    surface).
  *  - StripeFooter → stream directory (kind/column/length) +
  *    column encodings (DIRECT/DICTIONARY ×v1/v2).
  *  - ROW_INDEX streams → per-row-group (stride rows)
  *    RowIndexEntry positions + statistics — ORC's page-index
  *    analogue, the sub-stripe pruning grain.
  *
  * None on any malformation — truncation, bad magic, chunk
  * overruns, codec failures, stats/type disagreements all reject;
  * bomb guards cap every decompressed stream at 64 MiB.
  *
  * Validation: OrcTailSpec differentials REAL Spark-written ORC
  * files (zstd/snappy/zlib/none) against orc-core's own Reader on
  * every footer fact, pins the row-index grain analytically on a
  * sorted unique key, and mutation-fuzzes the tail; the
  * `orc_footer` / `orc_row_index` gate queries put both under the
  * DuckDB oracle. */
object OrcTail {

  final case class OrcType(kind: Int, subtypes: Seq[Int],
      fieldNames: Seq[String])
  final case class IntStats(min: Option[Long], max: Option[Long],
      sum: Option[Long])
  final case class DblStats(min: Option[Double], max: Option[Double],
      sum: Option[Double])
  final case class StrStats(min: Option[String], max: Option[String],
      sumLen: Option[Long])
  final case class ColStats(numValues: Long, hasNull: Option[Boolean],
      ints: Option[IntStats], dbls: Option[DblStats],
      strs: Option[StrStats])
  final case class StripeInfo(offset: Long, indexLength: Long,
      dataLength: Long, footerLength: Long, numRows: Long)
  final case class OrcStream(kind: Int, column: Int, length: Long)
  final case class ColumnEnc(kind: Int, dictionarySize: Int)
  final case class StripeFooter(streams: Seq[OrcStream],
      encodings: Seq[ColumnEnc], timezone: String)
  final case class RowIndexEntry(positions: Seq[Long],
      stats: Option[ColStats])
  final case class Tail(compression: Int, blockSize: Long,
      version: Seq[Int], writerVersion: Int, numRows: Long,
      rowIndexStride: Int, contentLength: Long,
      types: Seq[OrcType], stripes: Seq[StripeInfo],
      fileStats: Seq[ColStats], stripeStats: Seq[Seq[ColStats]],
      userMeta: Seq[(String, Array[Byte])], softwareVersion: String) {
    def compressionName: String =
      CompressionNames.getOrElse(compression, s"#$compression")
  }

  /** orc_proto.proto CompressionKind. */
  val CompressionNames: Map[Int, String] = Map(
    0 -> "NONE", 1 -> "ZLIB", 2 -> "SNAPPY", 3 -> "LZO",
    4 -> "LZ4", 5 -> "ZSTD", 6 -> "BROTLI")

  /** Type.Kind (the scalar + nested kinds Spark writes). */
  val TypeKindNames: Map[Int, String] = Map(
    0 -> "BOOLEAN", 1 -> "BYTE", 2 -> "SHORT", 3 -> "INT",
    4 -> "LONG", 5 -> "FLOAT", 6 -> "DOUBLE", 7 -> "STRING",
    8 -> "BINARY", 9 -> "TIMESTAMP", 10 -> "LIST", 11 -> "MAP",
    12 -> "STRUCT", 13 -> "UNION", 14 -> "DECIMAL", 15 -> "DATE",
    16 -> "VARCHAR", 17 -> "CHAR", 18 -> "TIMESTAMP_INSTANT")

  /** Stream.Kind. */
  val StreamKindNames: Map[Int, String] = Map(
    0 -> "PRESENT", 1 -> "DATA", 2 -> "LENGTH",
    3 -> "DICTIONARY_DATA", 4 -> "DICTIONARY_COUNT",
    5 -> "SECONDARY", 6 -> "ROW_INDEX", 7 -> "BLOOM_FILTER",
    8 -> "BLOOM_FILTER_UTF8")

  /** ColumnEncoding.Kind. */
  val EncodingNames: Map[Int, String] = Map(
    0 -> "DIRECT", 1 -> "DICTIONARY", 2 -> "DIRECT_V2",
    3 -> "DICTIONARY_V2")

  private final val RowIndexKind = 6
  private final val MaxStream = 1 << 26
  private final val MaxItems = 1 << 20

  // ---------------------------------------------------------------
  // Compressed-stream framing
  // ---------------------------------------------------------------

  /** Decode an ORC compressed stream at `[off, off+len)`:
    * NONE copies; otherwise walk 3-byte-headed chunks, inflating
    * non-original ones with the file codec. */
  def decodeStream(data: Array[Byte], off: Long, len: Long,
      compression: Int, blockSize: Long): Option[Array[Byte]] = {
    if (off < 0 || len < 0 || off + len > data.length) return None
    if (len > MaxStream) return None
    val start = off.toInt
    val n = len.toInt
    if (compression == 0)
      return Some(java.util.Arrays.copyOfRange(data, start, start + n))
    if (blockSize <= 0 || blockSize > MaxStream) return None
    val out = new java.io.ByteArrayOutputStream(math.min(n * 2, 1 << 16))
    var p = start
    val end = start + n
    while (p < end) {
      if (end - p < 3) return None
      val h = (data(p) & 0xff) | ((data(p + 1) & 0xff) << 8) |
        ((data(p + 2) & 0xff) << 16)
      p += 3
      val original = (h & 1) == 1
      val clen = h >>> 1
      if (clen <= 0 || clen > end - p || clen > blockSize) return None
      if (original) out.write(data, p, clen)
      else {
        val chunk = compression match {
          case 1 => // ZLIB: raw deflate, no zlib wrapper
            val inf = new java.util.zip.Inflater(true)
            inf.setInput(data, p, clen)
            val buf = new Array[Byte](8192)
            val acc = new java.io.ByteArrayOutputStream(clen * 2)
            var ok = true
            try {
              while (ok && !inf.finished()) {
                val k = inf.inflate(buf)
                if (k > 0) acc.write(buf, 0, k)
                else if (inf.needsInput() || inf.needsDictionary())
                  ok = false
                if (acc.size() > MaxStream) ok = false
              }
            } catch {
              case _: java.util.zip.DataFormatException => ok = false
            } finally inf.end()
            if (ok) Some(acc.toByteArray) else None
          case 2 =>
            SnappyCodec.decompress(
              java.util.Arrays.copyOfRange(data, p, p + clen))
          case 4 =>
            val dst = new Array[Byte](blockSize.toInt)
            val k = Lz4.decompressBlock(data, p, clen, dst)
            if (k < 0) None
            else Some(java.util.Arrays.copyOf(dst, k))
          case 5 =>
            Zstd.decode(java.util.Arrays.copyOfRange(data, p, p + clen))
          case _ => None // LZO/BROTLI: honest rejection
        }
        chunk match {
          case Some(c) =>
            if (out.size().toLong + c.length > MaxStream) return None
            out.write(c, 0, c.length)
          case None => return None
        }
      }
      p += clen
    }
    Some(out.toByteArray)
  }

  // ---------------------------------------------------------------
  // Protobuf message walks (field ids pinned in OrcTailSpec against
  // the orc-format descriptor)
  // ---------------------------------------------------------------

  private def utf8(b: Array[Byte]): Option[String] = {
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try Some(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
    catch { case _: java.nio.charset.CharacterCodingException => None }
  }

  /** Read a repeated uint field that may arrive packed (LEN of
    * varints) or unpacked (single varint). */
  private def repUints(c: Protobuf.Cursor, wire: Int,
      into: collection.mutable.Builder[Long, _]): Unit = wire match {
    case 0 => into += c.varint()
    case 2 =>
      val s = c.lenSlice()
      var k = 0
      while (s.hasMore && k < MaxItems) { into += s.varint(); k += 1 }
      if (s.hasMore) c.fail()
    case _ => c.fail()
  }

  private def colStats(c: Protobuf.Cursor): Option[ColStats] = {
    var nv = 0L
    var hasNull: Option[Boolean] = None
    var ints: Option[IntStats] = None
    var dbls: Option[DblStats] = None
    var strs: Option[StrStats] = None
    while (c.hasMore) {
      val tag = c.varint()
      val fid = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      (fid, wire) match {
        case (1, 0) => nv = c.varint()
        case (2, 2) =>
          val s = c.lenSlice()
          var mn: Option[Long] = None; var mx: Option[Long] = None
          var sm: Option[Long] = None
          while (s.hasMore) {
            val t = s.varint()
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 0) => mn = Some(Bytes.unzigzag(s.varint()))
              case (2, 0) => mx = Some(Bytes.unzigzag(s.varint()))
              case (3, 0) => sm = Some(Bytes.unzigzag(s.varint()))
              case (_, w) => s.skip(w)
            }
          }
          if (!s.ok) c.fail() else ints = Some(IntStats(mn, mx, sm))
        case (3, 2) =>
          val s = c.lenSlice()
          var mn: Option[Double] = None; var mx: Option[Double] = None
          var sm: Option[Double] = None
          while (s.hasMore) {
            val t = s.varint()
            def d(): Double =
              java.lang.Double.longBitsToDouble(s.le64())
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 1) => mn = Some(d())
              case (2, 1) => mx = Some(d())
              case (3, 1) => sm = Some(d())
              case (_, w) => s.skip(w)
            }
          }
          if (!s.ok) c.fail() else dbls = Some(DblStats(mn, mx, sm))
        case (4, 2) =>
          val s = c.lenSlice()
          var mn: Option[String] = None; var mx: Option[String] = None
          var sm: Option[Long] = None
          while (s.hasMore) {
            val t = s.varint()
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 2) =>
                mn = utf8(slice(s)); if (mn.isEmpty) s.fail()
              case (2, 2) =>
                mx = utf8(slice(s)); if (mx.isEmpty) s.fail()
              case (3, 0) => sm = Some(Bytes.unzigzag(s.varint()))
              case (_, w) => s.skip(w)
            }
          }
          if (!s.ok) c.fail() else strs = Some(StrStats(mn, mx, sm))
        case (10, 0) => hasNull = Some(c.varint() != 0L)
        case (_, w) => c.skip(w)
      }
    }
    if (!c.ok) None
    else Some(ColStats(nv, hasNull, ints, dbls, strs))
  }

  private def slice(c: Protobuf.Cursor): Array[Byte] = {
    val s = c.lenSlice()
    if (!c.ok) Array.emptyByteArray
    else java.util.Arrays.copyOfRange(s.b, s.p, s.end)
  }

  private def statsList(bytes: Array[Byte]): Option[Seq[ColStats]] = {
    val c = new Protobuf.Cursor(bytes, 0, bytes.length)
    val out = Seq.newBuilder[ColStats]
    while (c.hasMore) {
      val tag = c.varint()
      if ((tag >>> 3).toInt == 1 && (tag & 7).toInt == 2) {
        val s = c.lenSlice()
        if (c.ok) colStats(s) match {
          case Some(st) => out += st
          case None => c.fail()
        }
      } else c.skip((tag & 7).toInt)
    }
    if (!c.ok) None else Some(out.result())
  }

  /** Parse the whole tail from the full file bytes. */
  def parseTail(data: Array[Byte]): Option[Tail] = {
    if (data.length < 8) return None
    if (!(data(0) == 'O' && data(1) == 'R' && data(2) == 'C'))
      return None
    val psLen = data(data.length - 1) & 0xff
    if (psLen <= 0 || psLen > data.length - 4) return None
    val psStart = data.length - 1 - psLen

    // PostScript — never compressed
    var footerLen = -1L
    var compression = 0
    var blockSize = 256L * 1024
    val versions = Seq.newBuilder[Long]
    var metadataLen = 0L
    var writerVersion = 0
    var magicOk = false
    locally {
      val c = new Protobuf.Cursor(data, psStart, data.length - 1)
      while (c.hasMore) {
        val tag = c.varint()
        val fid = (tag >>> 3).toInt
        val wire = (tag & 7).toInt
        (fid, wire) match {
          case (1, 0) => footerLen = c.varint()
          case (2, 0) => compression = c.varint().toInt
          case (3, 0) => blockSize = c.varint()
          case (4, _) => repUints(c, wire, versions)
          case (5, 0) => metadataLen = c.varint()
          case (6, 0) => writerVersion = c.varint().toInt
          case (8000, 2) =>
            magicOk = utf8(slice(c)).contains("ORC")
          case (_, w) => c.skip(w)
        }
      }
      if (!c.ok) return None
    }
    if (!magicOk || footerLen <= 0 || compression < 0 ||
      compression > 6) return None
    val footerStart = psStart.toLong - footerLen
    if (footerStart < 3) return None
    val metaStart = footerStart - metadataLen
    if (metaStart < 3) return None

    val footerBytes = decodeStream(data, footerStart, footerLen,
      compression, blockSize).getOrElse(return None)

    var contentLength = 0L
    var numRows = 0L
    var stride = 0
    var software = ""
    val types = Seq.newBuilder[OrcType]
    val stripes = Seq.newBuilder[StripeInfo]
    val userMeta = Seq.newBuilder[(String, Array[Byte])]
    var fileStats: Seq[ColStats] = Seq.empty
    locally {
      val c = new Protobuf.Cursor(footerBytes, 0, footerBytes.length)
      val statsBytes = Seq.newBuilder[Array[Byte]]
      while (c.hasMore) {
        val tag = c.varint()
        val fid = (tag >>> 3).toInt
        val wire = (tag & 7).toInt
        (fid, wire) match {
          case (2, 0) => contentLength = c.varint()
          case (3, 2) =>
            val s = c.lenSlice()
            var off = -1L; var il = 0L; var dl = 0L; var fl = -1L
            var nr = -1L
            while (s.hasMore) {
              val t = s.varint()
              ((t >>> 3).toInt, (t & 7).toInt) match {
                case (1, 0) => off = s.varint()
                case (2, 0) => il = s.varint()
                case (3, 0) => dl = s.varint()
                case (4, 0) => fl = s.varint()
                case (5, 0) => nr = s.varint()
                case (_, w) => s.skip(w)
              }
            }
            if (!s.ok || off < 0 || fl < 0 || nr < 0) c.fail()
            else stripes += StripeInfo(off, il, dl, fl, nr)
          case (4, 2) =>
            val s = c.lenSlice()
            var kind = -1
            val subs = Seq.newBuilder[Long]
            val names = Seq.newBuilder[String]
            while (s.hasMore) {
              val t = s.varint()
              ((t >>> 3).toInt, (t & 7).toInt) match {
                case (1, 0) => kind = s.varint().toInt
                case (2, w) => repUints(s, w, subs)
                case (3, 2) =>
                  utf8(slice(s)) match {
                    case Some(nm) => names += nm
                    case None => s.fail()
                  }
                case (_, w) => s.skip(w)
              }
            }
            if (!s.ok || kind < 0) c.fail()
            else types += OrcType(kind, subs.result().map(_.toInt),
              names.result())
          case (5, 2) =>
            val s = c.lenSlice()
            var nm = ""; var v = Array.emptyByteArray
            while (s.hasMore) {
              val t = s.varint()
              ((t >>> 3).toInt, (t & 7).toInt) match {
                case (1, 2) => nm = utf8(slice(s)).getOrElse {
                  s.fail(); "" }
                case (2, 2) => v = slice(s)
                case (_, w) => s.skip(w)
              }
            }
            if (!s.ok) c.fail() else userMeta += ((nm, v))
          case (6, 0) => numRows = c.varint()
          case (7, 2) => statsBytes += slice(c)
          case (8, 0) => stride = c.varint().toInt
          case (12, 2) => software = utf8(slice(c)).getOrElse {
            c.fail(); "" }
          case (_, w) => c.skip(w)
        }
      }
      if (!c.ok) return None
      val parsed = statsBytes.result().map { b =>
        colStats(new Protobuf.Cursor(b, 0, b.length))
          .getOrElse(return None)
      }
      fileStats = parsed
    }
    val typeSeq = types.result()
    if (typeSeq.isEmpty) return None
    // the type tree must be internally consistent: subtypes in range
    if (typeSeq.exists(_.subtypes.exists(s =>
      s < 0 || s >= typeSeq.length))) return None
    if (fileStats.nonEmpty && fileStats.length != typeSeq.length)
      return None

    // Metadata (per-stripe stats)
    val stripeStats: Seq[Seq[ColStats]] =
      if (metadataLen <= 0) Seq.empty
      else {
        val mb = decodeStream(data, metaStart, metadataLen,
          compression, blockSize).getOrElse(return None)
        val c = new Protobuf.Cursor(mb, 0, mb.length)
        val out = Seq.newBuilder[Seq[ColStats]]
        while (c.hasMore) {
          val tag = c.varint()
          if ((tag >>> 3).toInt == 1 && (tag & 7).toInt == 2) {
            val b = slice(c)
            if (c.ok) statsList(b) match {
              case Some(ss) => out += ss
              case None => c.fail()
            }
          } else c.skip((tag & 7).toInt)
        }
        if (!c.ok) return None
        out.result()
      }

    Some(Tail(compression, blockSize, versions.result().map(_.toInt),
      writerVersion, numRows, stride, contentLength, typeSeq,
      stripes.result(), fileStats, stripeStats, userMeta.result(),
      software))
  }

  /** Parse one stripe's footer (stream directory + encodings). */
  def parseStripeFooter(data: Array[Byte], stripe: StripeInfo,
      compression: Int, blockSize: Long): Option[StripeFooter] = {
    val sfOff = stripe.offset + stripe.indexLength + stripe.dataLength
    val bytes = decodeStream(data, sfOff, stripe.footerLength,
      compression, blockSize).getOrElse(return None)
    val c = new Protobuf.Cursor(bytes, 0, bytes.length)
    val streams = Seq.newBuilder[OrcStream]
    val encs = Seq.newBuilder[ColumnEnc]
    var tz = ""
    while (c.hasMore) {
      val tag = c.varint()
      val fid = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      (fid, wire) match {
        case (1, 2) =>
          val s = c.lenSlice()
          var kind = 0; var column = -1; var len = -1L
          while (s.hasMore) {
            val t = s.varint()
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 0) => kind = s.varint().toInt
              case (2, 0) => column = s.varint().toInt
              case (3, 0) => len = s.varint()
              case (_, w) => s.skip(w)
            }
          }
          if (!s.ok || column < 0 || len < 0) c.fail()
          else streams += OrcStream(kind, column, len)
        case (2, 2) =>
          val s = c.lenSlice()
          var kind = 0; var dict = 0
          while (s.hasMore) {
            val t = s.varint()
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 0) => kind = s.varint().toInt
              case (2, 0) => dict = s.varint().toInt
              case (_, w) => s.skip(w)
            }
          }
          if (!s.ok) c.fail() else encs += ColumnEnc(kind, dict)
        case (3, 2) => tz = utf8(slice(c)).getOrElse { c.fail(); "" }
        case (_, w) => c.skip(w)
      }
    }
    if (!c.ok) None
    else Some(StripeFooter(streams.result(), encs.result(), tz))
  }

  /** Decode the ROW_INDEX stream of `column` in `stripe`: one
    * RowIndexEntry per row group (rowIndexStride rows). Streams lay
    * out consecutively from the stripe start in directory order,
    * index streams first — the walk accumulates offsets. */
  def readRowIndex(data: Array[Byte], stripe: StripeInfo,
      sf: StripeFooter, column: Int, compression: Int,
      blockSize: Long): Option[Seq[RowIndexEntry]] = {
    var pos = stripe.offset
    var found: Option[(Long, Long)] = None
    sf.streams.foreach { st =>
      if (st.kind == RowIndexKind && st.column == column &&
        found.isEmpty) found = Some((pos, st.length))
      pos += st.length
    }
    val (off, len) = found.getOrElse(return None)
    if (off + len > stripe.offset + stripe.indexLength) return None
    val bytes = decodeStream(data, off, len, compression, blockSize)
      .getOrElse(return None)
    val c = new Protobuf.Cursor(bytes, 0, bytes.length)
    val out = Seq.newBuilder[RowIndexEntry]
    while (c.hasMore) {
      val tag = c.varint()
      if ((tag >>> 3).toInt == 1 && (tag & 7).toInt == 2) {
        val s = c.lenSlice()
        val positions = Seq.newBuilder[Long]
        var stats: Option[ColStats] = None
        while (s.hasMore) {
          val t = s.varint()
          ((t >>> 3).toInt, (t & 7).toInt) match {
            case (1, w) => repUints(s, w, positions)
            case (2, 2) =>
              val b = slice(s)
              if (s.ok)
                stats = colStats(new Protobuf.Cursor(b, 0, b.length))
              if (stats.isEmpty) s.fail()
            case (_, w) => s.skip(w)
          }
        }
        if (!s.ok) c.fail()
        else out += RowIndexEntry(positions.result(), stats)
      } else c.skip((tag & 7).toInt)
    }
    if (!c.ok) None else Some(out.result())
  }

  // ---------------------------------------------------------------
  // Bloom filters (late r14 — BLOOM_FILTER_UTF8 streams, kind 8):
  // orc-core's construction exactly — Murmur3 x64 64-bit (seed
  // 104729) over UTF-8/raw bytes, the Thomas Wang mix for longs,
  // k double-hashed (h1 + i·h2) probes over numBits = optimal(n,
  // fpp) rounded up to a 64 multiple. The hash and bitset math are
  // differential-pinned BIT-EXACTLY against the bundled
  // org.apache.orc.util.{Murmur3, BloomFilterUtf8} in OrcWriteSpec.
  // ---------------------------------------------------------------

  private final val BloomFilterKind = 8
  private final val Murmur3Seed = 104729L

  /** orc-core's Murmur3 64-bit variant (util/Murmur3.hash64). */
  private[operators] def murmur64(data: Array[Byte]): Long = {
    val C1 = 0x87c37b91114253d5L
    val C2 = 0x4cf5ad432745937fL
    var h = Murmur3Seed
    val nblocks = data.length >> 3
    var i = 0
    while (i < nblocks) {
      val base = i << 3
      var k = 0L
      var j = 0
      while (j < 8) {
        k |= (data(base + j) & 0xffL) << (8 * j); j += 1
      }
      k *= C1
      k = java.lang.Long.rotateLeft(k, 31)
      k *= C2
      h ^= k
      h = java.lang.Long.rotateLeft(h, 27) * 5 + 0x52dce729L
      i += 1
    }
    var k1 = 0L
    val tail = nblocks << 3
    var t = data.length - tail - 1
    while (t >= 0) {
      k1 ^= (data(tail + t) & 0xffL) << (8 * t); t -= 1
    }
    if (data.length != tail) {
      k1 *= C1
      k1 = java.lang.Long.rotateLeft(k1, 31)
      k1 *= C2
      h ^= k1
    }
    h ^= data.length.toLong
    h ^= (h >>> 33)
    h *= 0xff51afd7ed558ccdL
    h ^= (h >>> 33)
    h *= 0xc4ceb9fe1a85ec53L
    h ^= (h >>> 33)
    h
  }

  /** orc-core BloomFilter.getLongHash — the Thomas Wang mix with
    * ARITHMETIC right shifts (the bytecode uses lshr, not lushr —
    * an unsigned-shift port diverges on every negative key). */
  private[operators] def orcLongHash(key0: Long): Long = {
    var key = key0
    key = (~key) + (key << 21)
    key ^= (key >> 24)
    key = (key + (key << 3)) + (key << 8)
    key ^= (key >> 14)
    key = (key + (key << 2)) + (key << 4)
    key ^= (key >> 28)
    key += (key << 31)
    key
  }

  /** orc-core's sizing: optimal bits for (n, fpp) rounded UP to a
    * 64 multiple, k = round(m/n · ln2) floored at 1. */
  private[operators] def bloomSizing(expectedEntries: Int,
      fpp: Double): (Int, Int) = {
    val m0 = math.ceil(-expectedEntries * math.log(fpp) /
      (math.log(2) * math.log(2))).toInt
    val m = m0 + (64 - (m0 % 64)) % 64
    val k = math.max(1,
      math.round(m.toDouble / expectedEntries * math.log(2)).toInt)
    (m, k)
  }

  /** One parsed bloom: k probes over the little-endian long-packed
    * bitset. */
  final case class OrcBloom(numHashFunctions: Int,
      bits: Array[Long]) {
    def mightContain(hash64: Long): Boolean = {
      val numBits = bits.length * 64
      if (numBits == 0) return false
      val h1 = hash64.toInt
      val h2 = (hash64 >>> 32).toInt
      var i = 1
      while (i <= numHashFunctions) {
        var combined = h1 + i * h2
        if (combined < 0) combined = ~combined
        val pos = combined % numBits
        if ((bits(pos >>> 6) & (1L << (pos & 63))) == 0) return false
        i += 1
      }
      true
    }
  }

  /** Decode the BLOOM_FILTER_UTF8 stream of `column`: one
    * [[OrcBloom]] per row group (BloomFilterIndex proto). */
  def readBloomFilter(data: Array[Byte], stripe: StripeInfo,
      sf: StripeFooter, column: Int, compression: Int,
      blockSize: Long): Option[Seq[OrcBloom]] = {
    var pos = stripe.offset
    var found: Option[(Long, Long)] = None
    sf.streams.foreach { st =>
      if (st.kind == BloomFilterKind && st.column == column &&
        found.isEmpty) found = Some((pos, st.length))
      pos += st.length
    }
    val (off, len) = found.getOrElse(return None)
    if (off + len > stripe.offset + stripe.indexLength) return None
    val bytes = decodeStream(data, off, len, compression, blockSize)
      .getOrElse(return None)
    val c = new Protobuf.Cursor(bytes, 0, bytes.length)
    val out = Seq.newBuilder[OrcBloom]
    while (c.hasMore) {
      val tag = c.varint()
      if ((tag >>> 3).toInt == 1 && (tag & 7).toInt == 2) {
        val s = c.lenSlice()
        var k = -1
        var bits: Array[Long] = null
        while (s.hasMore) {
          val t = s.varint()
          ((t >>> 3).toInt, (t & 7).toInt) match {
            case (1, 0) => k = s.varint().toInt
            case (3, 2) => // utf8bitset: LE-packed longs
              val b = slice(s)
              if (s.ok && b.length % 8 == 0) {
                bits = new Array[Long](b.length / 8)
                var i = 0
                while (i < bits.length) {
                  var v = 0L
                  var j = 0
                  while (j < 8) {
                    v |= (b(i * 8 + j) & 0xffL) << (8 * j); j += 1
                  }
                  bits(i) = v
                  i += 1
                }
              } else s.fail()
            case (2, 1) => // legacy fixed64 bitset entries
              if (bits == null) bits = Array.empty
              bits = bits :+ s.le64()
            case (_, w) => s.skip(w)
          }
        }
        if (!s.ok || k <= 0 || bits == null) c.fail()
        else out += OrcBloom(k, bits)
      } else c.skip((tag & 7).toInt)
    }
    if (!c.ok) None else Some(out.result())
  }
}
