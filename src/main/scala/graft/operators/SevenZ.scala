package graft.operators

/** 7-Zip archives (the public 7zFormat.txt specification shipped in
  * the 7-Zip/LZMA SDK sources) — the third general-purpose archive
  * container corpora arrive in, after ZIP and tar. BOTH directions
  * (write side late r14), pure JVM, built on the [[Xz]] LZMA core:
  * signature + start-header
  * CRC32s verified, the property-id header tree (PackInfo /
  * UnpackInfo / SubStreamsInfo / FilesInfo), ENCODED headers (the
  * header itself LZMA-compressed — what real 7z writers emit by
  * default) decoded recursively, single-coder folders with the Copy
  * (0x00), LZMA (0x030101) and LZMA2 (0x21) codecs, substream
  * splitting, per-substream CRC32 verification when present, and
  * UTF-16LE file names. Multi-coder folders (BCJ chains), encrypted
  * archives (AES coder 0x06F10701) and external streams reject
  * cleanly (None) — drop, never invent; every count/size is bomb-
  * capped. The WRITE side ([[build]], late r14): single-coder
  * folders (Copy, or LZMA2 through [[XzEncode]]'s own compressor),
  * folder CRC32s, an explicit one-substream-per-folder
  * SubStreamsInfo (strict readers refuse to default the count), a
  * plain header and UTF-16LE names — entries must be non-empty
  * (loud rejection, never a dropped member). Validated in
  * SevenZSpec by differentials against commons-compress's
  * SevenZOutputFile/SevenZFile in BOTH directions and fuzz; the
  * `sevenz_parse` gate rotates writers by shard so every shard is
  * a live cross-implementation round trip. */
object SevenZ {

  /** `.7z` sniff. */
  def isSevenZ(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == '7' && b(1) == 'z' &&
      (b(2) & 0xff) == 0xbc && (b(3) & 0xff) == 0xaf &&
      (b(4) & 0xff) == 0x27 && (b(5) & 0xff) == 0x1c

  final case class SzEntry(name: String, size: Long, md5: String)

  private object Bad extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  private def crc32(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32
    c.update(b, off, len)
    c.getValue
  }

  /** Cursor over header bytes with the 7z NUMBER encoding. */
  private final class Rd(val b: Array[Byte]) {
    var p = 0
    def u8(): Int = {
      if (p >= b.length) throw Bad
      val v = b(p) & 0xff
      p += 1
      v
    }
    def number(): Long = {
      val first = u8()
      var mask = 0x80
      var value = 0L
      var i = 0
      while (i < 8) {
        if ((first & mask) == 0)
          return value | ((first & (mask - 1)).toLong << (8 * i))
        value |= u8().toLong << (8 * i)
        mask >>= 1
        i += 1
      }
      value
    }
    def num(): Int = {
      val v = number()
      if (v < 0 || v > (1 << 24)) throw Bad
      v.toInt
    }
    def bytes(n: Int): Array[Byte] = {
      if (n < 0 || p + n > b.length) throw Bad
      val r = java.util.Arrays.copyOfRange(b, p, p + n)
      p += n
      r
    }
    def skip(n: Int): Unit = {
      if (n < 0 || p + n > b.length) throw Bad
      p += n
    }
    /** MSB-first bit vector of n bits. */
    def bits(n: Int): Array[Boolean] = {
      val out = new Array[Boolean](n)
      var cur = 0
      var i = 0
      while (i < n) {
        if (i % 8 == 0) cur = u8()
        out(i) = ((cur >>> (7 - i % 8)) & 1) != 0
        i += 1
      }
      out
    }
    /** allAreDefined byte + optional bit vector. */
    def definedBits(n: Int): Array[Boolean] =
      if (u8() != 0) Array.fill(n)(true) else bits(n)
  }

  private final case class Coder(id: Seq[Int], props: Array[Byte])

  private final case class StreamsInfo(
      packPos: Long, packSizes: Seq[Long], coders: Seq[Coder],
      folderUnpackSizes: Seq[Long], folderCrcs: Seq[Option[Long]],
      subCounts: Seq[Int], subSizes: Seq[Long],
      subCrcs: Seq[Option[Long]])

  private def readStreamsInfo(r: Rd): StreamsInfo = {
    var packPos = 0L
    var packSizes: Seq[Long] = Seq.empty
    var coders: Seq[Coder] = Seq.empty
    var folderSizes: Seq[Long] = Seq.empty
    var folderCrcs: Seq[Option[Long]] = Seq.empty
    var subCounts: Seq[Int] = Seq.empty
    var subSizes: Seq[Long] = Seq.empty
    var subCrcs: Seq[Option[Long]] = Seq.empty
    var subInfoSeen = false
    var id = r.num()
    while (id != 0x00) {
      id match {
        case 0x06 => // PackInfo
          packPos = r.number()
          val nPack = r.num()
          if (nPack > 4096) throw Bad
          var id2 = r.num()
          while (id2 != 0x00) {
            id2 match {
              case 0x09 =>
                packSizes = (0 until nPack).map(_ => r.number())
                if (packSizes.exists(s => s < 0 || s > (1L << 31)))
                  throw Bad
              case 0x0a =>
                val defined = r.definedBits(nPack)
                defined.foreach(d => if (d) r.skip(4))
              case _ => throw Bad
            }
            id2 = r.num()
          }
        case 0x07 => // UnpackInfo
          if (r.num() != 0x0b) throw Bad // kFolder
          val nFolders = r.num()
          if (nFolders > 4096) throw Bad
          if (r.u8() != 0) throw Bad // external folders unsupported
          coders = (0 until nFolders).map { _ =>
            val nCoders = r.num()
            if (nCoders != 1) throw Bad // multi-coder chains reject
            val flags = r.u8()
            val idSize = flags & 0x0f
            val cid = r.bytes(idSize).map(_ & 0xff).toSeq
            if ((flags & 0x10) != 0) {
              // complex: in/out stream counts must still be 1/1
              if (r.num() != 1 || r.num() != 1) throw Bad
            }
            val props =
              if ((flags & 0x20) != 0) r.bytes(r.num())
              else Array.emptyByteArray
            Coder(cid, props)
          }
          if (r.num() != 0x0c) throw Bad // kCodersUnpackSize
          folderSizes = (0 until coders.length).map(_ => r.number())
          if (folderSizes.exists(s => s < 0 || s > (1L << 26))) throw Bad
          folderCrcs = Seq.fill(coders.length)(None)
          var id2 = r.num()
          while (id2 != 0x00) {
            id2 match {
              case 0x0a =>
                val defined = r.definedBits(coders.length)
                folderCrcs = defined.map(d =>
                  if (d) Some(Bytes.le32u(r.bytes(4), 0)) else None).toSeq
              case _ => throw Bad
            }
            id2 = r.num()
          }
        case 0x08 => // SubStreamsInfo
          subInfoSeen = true
          subCounts = Seq.fill(coders.length)(1)
          var id2 = r.num()
          var sizesGiven = false
          while (id2 != 0x00) {
            id2 match {
              case 0x0d =>
                subCounts = (0 until coders.length).map(_ => r.num())
                if (subCounts.exists(c => c < 0 || c > 65536)) throw Bad
              case 0x09 =>
                // sizes for all but the last substream of each folder
                sizesGiven = true
                subSizes = subCounts.zip(folderSizes).flatMap {
                  case (cnt, total) =>
                    if (cnt == 0) Seq.empty
                    else {
                      val head = (0 until cnt - 1).map(_ => r.number())
                      if (head.exists(s => s < 0) ||
                        head.sum > total) throw Bad
                      head :+ (total - head.sum)
                    }
                }
              case 0x0a =>
                val nWithUnknownCrc = subCounts.zip(folderCrcs).map {
                  case (cnt, crc) => if (cnt == 1 && crc.isDefined) 0
                    else cnt
                }.sum
                val defined = r.definedBits(nWithUnknownCrc)
                var di = 0
                subCrcs = subCounts.zip(folderCrcs).flatMap {
                  case (cnt, crc) =>
                    if (cnt == 1 && crc.isDefined) Seq(crc)
                    else (0 until cnt).map { _ =>
                      val d = defined(di)
                      di += 1
                      if (d) Some(Bytes.le32u(r.bytes(4), 0)) else None
                    }
                }
              case _ => throw Bad
            }
            id2 = r.num()
          }
          if (!sizesGiven) {
            if (subCounts.exists(_ != 1)) throw Bad
            subSizes = folderSizes
          }
        case _ => throw Bad
      }
      id = r.num()
    }
    if (!subInfoSeen) {
      subCounts = Seq.fill(coders.length)(1)
      subSizes = folderSizes
      subCrcs = folderCrcs
    } else if (subCrcs.isEmpty) {
      subCrcs = Seq.fill(subSizes.length)(None)
    }
    StreamsInfo(packPos, packSizes, coders, folderSizes, folderCrcs,
      subCounts, subSizes, subCrcs)
  }

  /** Decode folder i's output (single-coder). */
  private def decodeFolder(data: Array[Byte], si: StreamsInfo,
      i: Int, maxOut: Int): Array[Byte] = {
    val base = 32 + si.packPos
    if (si.packSizes.length != si.coders.length) throw Bad
    val packOff = base + si.packSizes.take(i).sum
    val packLen = si.packSizes(i)
    if (packOff < 0 || packOff + packLen > data.length) throw Bad
    val off = packOff.toInt
    val end = (packOff + packLen).toInt
    val unpack = si.folderUnpackSizes(i)
    if (unpack > maxOut) throw Bad
    val out = si.coders(i).id match {
      case Seq(0x00) => // Copy
        if (packLen != unpack) throw Bad
        java.util.Arrays.copyOfRange(data, off, end)
      case Seq(0x03, 0x01, 0x01) => // LZMA
        val props = si.coders(i).props
        if (props.length != 5) throw Bad
        val buf = new Xz.FrameBuf(unpack.toInt + 16, unpack.toInt)
        if (!Xz.lzmaRawDecode(data, off, end, props(0) & 0xff, buf,
          unpack.toInt)) throw Bad
        java.util.Arrays.copyOf(buf.a, buf.len)
      case Seq(0x21) => // LZMA2
        val buf = new Xz.FrameBuf(unpack.toInt + 16, unpack.toInt)
        val used = Xz.lzma2Decode(data, off, end, buf)
          .getOrElse(throw Bad)
        if (used > packLen || buf.len != unpack) throw Bad
        java.util.Arrays.copyOf(buf.a, buf.len)
      case _ => throw Bad // BCJ chains, AES, anything else
    }
    si.folderCrcs(i).foreach { want =>
      if (crc32(out, 0, out.length) != want) throw Bad
    }
    out
  }

  /** Parse an archive: entries with their INFLATED contents, in file
    * order. None on anything outside the supported subset. */
  def parseWithData(data: Array[Byte], maxOut: Int = 1 << 26)
      : Option[Seq[(SzEntry, Array[Byte])]] =
    try {
      if (!isSevenZ(data) || data.length < 32) return None
      if (crc32(data, 12, 20) != Bytes.le32u(data, 8)) return None
      val nhOff = Bytes.le64(data, 12)
      val nhSize = Bytes.le64(data, 20)
      val nhCrc = Bytes.le32u(data, 28)
      if (nhOff < 0 || nhSize < 0 || nhSize > (1 << 24) ||
        32 + nhOff + nhSize > data.length) return None
      var header = java.util.Arrays.copyOfRange(data,
        (32 + nhOff).toInt, (32 + nhOff + nhSize).toInt)
      if (crc32(header, 0, header.length) != nhCrc) return None
      var r = new Rd(header)
      var id = r.num()
      if (id == 0x17) {
        // EncodedHeader: a StreamsInfo describing the packed header
        val si = readStreamsInfo(r)
        if (si.coders.length != 1) throw Bad
        header = decodeFolder(data, si, 0, 1 << 24)
        r = new Rd(header)
        id = r.num()
      }
      if (id != 0x01) return None // Header
      var si: StreamsInfo = null
      var names: Seq[String] = Seq.empty
      var emptyStream: Array[Boolean] = Array.empty
      var nFiles = -1
      id = r.num()
      while (id != 0x00) {
        id match {
          case 0x04 => // MainStreamsInfo
            si = readStreamsInfo(r)
          case 0x05 => // FilesInfo
            nFiles = r.num()
            if (nFiles > 65536) throw Bad
            emptyStream = new Array[Boolean](nFiles)
            var pid = r.num()
            while (pid != 0x00) {
              val size = r.num()
              val endP = r.p + size
              pid match {
                case 0x0e => // kEmptyStream
                  emptyStream = r.bits(nFiles)
                case 0x11 => // kNames
                  if (r.u8() != 0) throw Bad // external names
                  val nb = r.bytes(endP - r.p)
                  if (nb.length % 2 != 0) throw Bad
                  val sb = Seq.newBuilder[String]
                  val cur = new StringBuilder
                  var i = 0
                  while (i + 2 <= nb.length) {
                    val ch = ((nb(i) & 0xff) |
                      ((nb(i + 1) & 0xff) << 8)).toChar
                    if (ch == 0) { sb += cur.toString; cur.clear() }
                    else cur.append(ch)
                    i += 2
                  }
                  if (cur.nonEmpty) throw Bad // unterminated name
                  names = sb.result()
                case _ => // kEmptyFile/kMTime/kAttributes/kDummy...
              }
              if (r.p > endP) throw Bad
              r.p = endP
              pid = r.num()
            }
          case 0x02 | 0x03 => throw Bad // archive props / add'l streams
          case _ => throw Bad
        }
        id = r.num()
      }
      if (si == null || nFiles < 0) return None
      if (names.nonEmpty && names.length != nFiles) return None
      // decode folders, split substreams, map to non-empty files
      val sub = Seq.newBuilder[Array[Byte]]
      var total = 0L
      var subIdx0 = 0
      var i = 0
      while (i < si.coders.length) {
        val folderOut = decodeFolder(data, si, i, maxOut)
        total += folderOut.length
        if (total > maxOut) throw Bad
        var off = 0
        var k = 0
        while (k < si.subCounts(i)) {
          val sz = si.subSizes(subIdx0 + k)
          if (sz < 0 || off + sz > folderOut.length) throw Bad
          val piece = java.util.Arrays.copyOfRange(folderOut, off,
            off + sz.toInt)
          si.subCrcs.lift(subIdx0 + k).flatten.foreach { want =>
            if (crc32(piece, 0, piece.length) != want) throw Bad
          }
          sub += piece
          off += sz.toInt
          k += 1
        }
        if (off != folderOut.length) throw Bad
        subIdx0 += si.subCounts(i)
        i += 1
      }
      val pieces = sub.result()
      val out = Seq.newBuilder[(SzEntry, Array[Byte])]
      var pi = 0
      i = 0
      while (i < nFiles) {
        val name = if (names.nonEmpty) names(i) else s"file$i"
        if (emptyStream.nonEmpty && emptyStream(i)) {
          out += ((SzEntry(name, 0L, md5hex(Array.emptyByteArray)),
            Array.emptyByteArray))
        } else {
          if (pi >= pieces.length) throw Bad
          val c = pieces(pi)
          pi += 1
          out += ((SzEntry(name, c.length.toLong, md5hex(c)), c))
        }
        i += 1
      }
      if (pi != pieces.length) throw Bad
      Some(out.result())
    } catch {
      case Bad => None
      case _: ArrayIndexOutOfBoundsException => None
      case _: NegativeArraySizeException => None
    }

  /** Entry facts only. */
  def parse(data: Array[Byte], maxOut: Int = 1 << 26): Seq[SzEntry] =
    parseWithData(data, maxOut).map(_.map(_._1)).getOrElse(Seq.empty)

  // ---------------------------------------------------------------
  // Builder (late r14 — the write twin)
  // ---------------------------------------------------------------

  /** 7z variable-length number: i leading one-bits in the first
    * byte announce i extra little-endian bytes; the remaining
    * (7 − i) low bits of the first byte are the value's high
    * bits — the exact inverse of [[Rd.number]]. */
  private def wnum(out: java.io.ByteArrayOutputStream,
      value: Long): Unit = {
    var i = 0
    while (i < 8) {
      val topBits = 7 - i
      val high = value >>> (8 * i)
      if (java.lang.Long.compareUnsigned(high,
        (1L << topBits) - 1) <= 0) {
        out.write((((0xff << (8 - i)) & 0xff) | high.toInt) & 0xff)
        var k = 0
        while (k < i) {
          out.write(((value >>> (8 * k)) & 0xff).toInt); k += 1
        }
        return
      }
      i += 1
    }
    out.write(0xff)
    Bytes.putLe64(out, value)
  }

  /** Build a 7z archive (late r14): one single-coder folder per
    * entry — Copy (0x00) or LZMA2 (0x21, [[XzEncode]]'s own
    * compressor) — with folder CRC32s, a plain (unencoded) header
    * and UTF-16LE names. Entries must be non-empty (the
    * empty-stream bit vector is outside this writer's scope —
    * loud rejection, never a silently-dropped member). Read back
    * by commons-compress's SevenZFile AND [[parseWithData]] in
    * SevenZSpec. */
  def build(entries: Seq[(String, Array[Byte])],
      codec: String = "lzma2"): Array[Byte] = {
    require(entries.nonEmpty && entries.length <= 4096,
      "1..4096 entries")
    require(entries.forall(_._2.nonEmpty),
      "empty entries unsupported — reject, never drop")
    require(entries.forall(_._2.length <= (1 << 26)),
      "7z build bomb guard")
    require(codec == "copy" || codec == "lzma2",
      s"unsupported 7z build codec $codec")
    val packed: Seq[Array[Byte]] = entries.map { case (_, c) =>
      if (codec == "copy") c else XzEncode.lzma2Compress(c)
    }
    val h = new java.io.ByteArrayOutputStream(256)
    h.write(0x01) // kHeader
    h.write(0x04) // kMainStreamsInfo
    h.write(0x06) // kPackInfo
    wnum(h, 0L) // packPos
    wnum(h, entries.length.toLong)
    h.write(0x09) // kSize
    packed.foreach(p => wnum(h, p.length.toLong))
    h.write(0x00) // end PackInfo
    h.write(0x07) // kUnpackInfo
    h.write(0x0b) // kFolder
    wnum(h, entries.length.toLong)
    h.write(0) // folders inline (not external)
    entries.indices.foreach { _ =>
      wnum(h, 1L) // one coder
      if (codec == "copy") {
        h.write(0x01) // flags: id size 1, no attributes
        h.write(0x00) // Copy
      } else {
        h.write(0x21) // flags: id size 1 | has attributes
        h.write(0x21) // LZMA2
        wnum(h, 1L) // props size
        h.write(XzEncode.dictProp(
          entries.map(_._2.length).max)) // dict-size property
      }
    }
    h.write(0x0c) // kCodersUnpackSize
    entries.foreach(e => wnum(h, e._2.length.toLong))
    h.write(0x0a) // kCRC
    h.write(1) // all defined
    entries.foreach(e => Bytes.putLe32(h, crc32(e._2, 0, e._2.length)))
    h.write(0x00) // end UnpackInfo
    // explicit SubStreamsInfo: one substream per folder (strict
    // readers — commons-compress among them — refuse to default
    // the count); sizes and CRCs then inherit from the folders
    h.write(0x08) // kSubStreamsInfo
    h.write(0x0d) // kNumUnpackStream
    entries.indices.foreach(_ => wnum(h, 1L))
    h.write(0x00) // end SubStreamsInfo
    h.write(0x00) // end StreamsInfo
    h.write(0x05) // kFilesInfo
    wnum(h, entries.length.toLong)
    h.write(0x11) // kName
    val names = new java.io.ByteArrayOutputStream()
    names.write(0) // names inline (not external)
    entries.foreach { case (name, _) =>
      name.foreach { ch =>
        names.write(ch.toInt & 0xff); names.write((ch.toInt >> 8) & 0xff)
      }
      names.write(0); names.write(0)
    }
    wnum(h, names.size().toLong)
    names.writeTo(h)
    h.write(0x00) // end FilesInfo properties
    h.write(0x00) // end Header
    val header = h.toByteArray
    val bodyLen = packed.map(_.length.toLong).sum
    val out = new java.io.ByteArrayOutputStream(
      (bodyLen + header.length + 32).toInt)
    out.write('7'); out.write('z'); out.write(0xbc); out.write(0xaf)
    out.write(0x27); out.write(0x1c)
    out.write(0); out.write(4) // format version 0.4
    val start = new java.io.ByteArrayOutputStream(20)
    Bytes.putLe64(start, bodyLen)
    Bytes.putLe64(start, header.length)
    Bytes.putLe32(start, crc32(header, 0, header.length))
    val startArr = start.toByteArray
    Bytes.putLe32(out, crc32(startArr, 0, startArr.length))
    out.write(startArr, 0, startArr.length)
    packed.foreach(p => out.write(p, 0, p.length))
    out.write(header, 0, header.length)
    out.toByteArray
  }

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString
}
