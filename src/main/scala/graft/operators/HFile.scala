package graft.operators

/** HFILE (HBase's public on-disk format, v2/v3) — the third Hudi
  * MOR log-block payload (`HoodieLogBlockType.HFILE_DATA_BLOCK`,
  * written by metadata-table and record-index code paths): the
  * block content is a complete HFile whose cells map record keys
  * to Avro-encoded records. Pure-JVM subset, both directions:
  *
  *  - FIXED TRAILER: located by its block magic (`TRABLK"$`)
  *    within the final 4 KiB, version int (major | minor << 24) at
  *    the very end, `PBUF`-prefixed FileTrailerProto (field
  *    numbers from hbase-protocol's HFile.proto: file_info_offset
  *    1, load_on_open_data_offset 2, data_index_count 5,
  *    entry_count 7, num_data_index_levels 8, compression_codec
  *    12). Encrypted files reject honestly.
  *  - BLOCKS: the 33-byte v2 header (8-byte type magic, on-disk
  *    size without header, uncompressed size, prev offset,
  *    checksum type, bytes-per-checksum, on-disk data size with
  *    header) + payload + trailing per-chunk checksums (CRC32 or
  *    CRC32C over header+data chunks — verified, like every other
  *    checksum in this repo). Codecs: NONE (2) and GZ (1, gzip
  *    framing); others reject.
  *  - ROOT DATA INDEX (`IDXROOT2`): entry_count × (offset u64,
  *    on-disk size u32, Hadoop-vint-prefixed first key). MULTI-
  *    LEVEL indexes (late r14): root entries resolve through
  *    INTERMEDIATE (`IDXINTE2`) / LEAF (`IDXLEAF2`) index blocks
  *    in the non-root secondary-offset format down to the data
  *    blocks (up to 3 levels; deeper rejects).
  *  - DATA blocks (`DATABLK*`): KeyValue cells — key/value u32
  *    lengths, key = row-length u16 + row + family-length u8 +
  *    family + qualifier + timestamp u64 + type u8. Cells carry an
  *    optional trailing Hadoop-vlong memstore timestamp when the
  *    FILE INFO block advertises MAX_MEMSTORE_TS_KEY.
  *
  * No HBase jars ship in this environment, so validation is the
  * HDF5 pattern: a conforming writer + reader pair built from the
  * public format documentation, pinned by byte-structure asserts,
  * corruption rejection and the `hudi_mor_hfile_log` gate under
  * the DuckDB oracle. */
object HFile {

  private val TrailerMagic = "TRABLK\"$".getBytes("ISO-8859-1")
  private val DataMagic = "DATABLK*".getBytes("ISO-8859-1")
  private val RootIdxMagic = "IDXROOT2".getBytes("ISO-8859-1")
  private val LeafIdxMagic = "IDXLEAF2".getBytes("ISO-8859-1")
  private val InterIdxMagic = "IDXINTE2".getBytes("ISO-8859-1")
  private val FileInfoMagic = "FILEINF2".getBytes("ISO-8859-1")
  private val PbMagic = "PBUF".getBytes("ISO-8859-1")
  private final val HeaderSize = 33
  private final val TrailerSize = 4096
  private final val MaxMemstoreTsKey = "MAX_MEMSTORE_TS_KEY"

  final case class Cell(row: Array[Byte], value: Array[Byte])

  /** Hadoop WritableUtils vint/vlong: one byte for -112..127;
    * otherwise a length/sign prefix byte then big-endian bytes. */
  private def readVLong(b: Array[Byte], o: Int): Option[(Long, Int)] = {
    if (o >= b.length) return None
    val first = b(o).toInt
    if (first >= -112) return Some((first.toLong, 1))
    val neg = first < -120
    val len = if (neg) -(first + 120) else -(first + 112)
    if (o + 1 + len > b.length || len < 1 || len > 8) return None
    var v = 0L
    var i = 0
    while (i < len) { v = (v << 8) | (b(o + 1 + i) & 0xffL); i += 1 }
    Some((if (neg) ~v else v, 1 + len))
  }

  private def writeVLong(out: java.io.ByteArrayOutputStream,
      v0: Long): Unit = {
    var v = v0
    if (v >= -112 && v <= 127) { out.write(v.toInt); return }
    var len = -112
    if (v < 0) { v = ~v; len = -120 }
    var tmp = v
    while (tmp != 0) { tmp >>>= 8; len -= 1 }
    out.write(len)
    val n = if (len < -120) -(len + 120) else -(len + 112)
    var i = n - 1
    while (i >= 0) { out.write(((v >>> (8 * i)) & 0xff).toInt)
      i -= 1 }
  }

  private def magicIs(b: Array[Byte], o: Int,
      m: Array[Byte]): Boolean =
    o >= 0 && o + 8 <= b.length &&
      (0 until 8).forall(k => b(o + k) == m(k))

  /** Read + verify one block at `off`; returns (uncompressed
    * payload, block end offset). */
  private def readBlock(b: Array[Byte], off: Int,
      magic: Array[Byte], gz: Boolean)
      : Option[(Array[Byte], Long)] = {
    if (off < 0 || off + HeaderSize > b.length) return None
    if (!magicIs(b, off, magic)) return None
    // LONG arithmetic throughout: crafted 0x7fffffff-class sizes
    // must fail the bounds checks, not wrap into throws (the
    // None-on-malformation contract every parser here keeps)
    val onDiskNoHdr = Bytes.be32(b, off + 8).toLong
    val uncompNoHdr = Bytes.be32(b, off + 12)
    val checksumType = b(off + 24) & 0xff
    val bytesPerChecksum = Bytes.be32(b, off + 25).toLong
    val onDiskDataWithHdr = Bytes.be32(b, off + 29).toLong
    if (onDiskNoHdr < 0 || uncompNoHdr < 0 ||
      onDiskDataWithHdr < HeaderSize) return None
    val end = off + HeaderSize + onDiskNoHdr
    if (end > b.length) return None
    val dataLen = (onDiskDataWithHdr - HeaderSize).toInt
    if (off + onDiskDataWithHdr > end) return None
    // checksums: chunks of bytesPerChecksum over header + data
    if (checksumType != 0) {
      if (bytesPerChecksum < 64) return None
      val nChunks =
        (onDiskDataWithHdr + bytesPerChecksum - 1) / bytesPerChecksum
      if (off + onDiskDataWithHdr + 4 * nChunks != end) return None
      var c = 0L
      while (c < nChunks) {
        val cs = off + c * bytesPerChecksum
        val ce = math.min(cs + bytesPerChecksum,
          off + onDiskDataWithHdr)
        val crc = checksumType match {
          case 1 => new java.util.zip.CRC32()
          case 2 => new java.util.zip.CRC32C()
          case _ => return None
        }
        crc.update(b, cs.toInt, (ce - cs).toInt)
        if (crc.getValue.toInt !=
          Bytes.be32(b, (off + onDiskDataWithHdr + 4 * c).toInt))
          return None
        c += 1
      }
    } else if (off + onDiskDataWithHdr != end) return None
    val raw = java.util.Arrays.copyOfRange(b, off + HeaderSize,
      off + HeaderSize + dataLen)
    val payload =
      if (!gz) {
        if (dataLen != uncompNoHdr) return None
        raw
      } else {
        // compressed: gunzip to the declared size
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        val out = new Array[Byte](uncompNoHdr)
        var got = 0
        try {
          var n = in.read(out, got, uncompNoHdr - got)
          while (n > 0 && got < uncompNoHdr) {
            got += n
            n = if (got < uncompNoHdr)
              in.read(out, got, uncompNoHdr - got) else 0
          }
          if (got < uncompNoHdr) got += math.max(0, n)
          if (in.read() != -1) return None // trailing bytes
        } catch { case _: java.io.IOException => return None }
        finally in.close()
        if (got != uncompNoHdr) return None
        out
      }
    Some((payload, end))
  }

  /** FileInfoProto (`PBUF` + repeated BytesBytesPair at field 1):
    * true when a MAX_MEMSTORE_TS_KEY entry is present — cells then
    * carry a trailing Hadoop-vlong memstore timestamp. */
  private def fileInfoHasMvcc(fi: Array[Byte]): Boolean = {
    if (fi.length < 4 ||
      !(0 until 4).forall(k => fi(k) == PbMagic(k))) return false
    val c = new Protobuf.Cursor(fi, 4, fi.length)
    var seen = false
    var done = false
    while (!seen && !done && c.hasMore) {
      val tag = c.varint()
      if (!c.ok || tag == 0) done = true
      else if ((tag >>> 3).toInt == 1 && (tag & 7).toInt == 2) {
        val pair = c.lenSlice()
        if (!c.ok) done = true
        else {
          while (pair.hasMore && !seen) {
            val t2 = pair.varint()
            if (!pair.ok) seen = false
            else if ((t2 >>> 3).toInt == 1 && (t2 & 7).toInt == 2) {
              val kc = pair.lenSlice()
              if (pair.ok) {
                val key = new String(kc.b, kc.p, kc.end - kc.p,
                  "UTF-8")
                if (key.endsWith(MaxMemstoreTsKey)) seen = true
              }
            } else pair.skip((t2 & 7).toInt)
            if (!pair.ok) done = true
          }
        }
      } else c.skip((tag & 7).toInt)
      if (!c.ok) done = true
    }
    seen
  }

  /** All cells of an HFile, in file (key) order. */
  def parse(data: Array[Byte]): Option[Seq[Cell]] = {
    if (data.length < 16) return None
    val ver = Bytes.be32(data, data.length - 4)
    val major = ver & 0x00ffffff
    if (major < 2 || major > 3) return None
    // locate the trailer by magic within the final 4 KiB
    val from = math.max(0, data.length - TrailerSize)
    var tAt = -1
    var i = data.length - 8
    while (tAt < 0 && i >= from) {
      if (magicIs(data, i, TrailerMagic)) tAt = i
      i -= 1
    }
    if (tAt < 0) return None
    val pb = tAt + 8
    if (pb + 4 > data.length ||
      !(0 until 4).forall(k => data(pb + k) == PbMagic(k)))
      return None
    // FileTrailerProto (padding zeros read as an invalid tag 0 and
    // end the walk)
    var fileInfoOffset = -1L
    var loadOnOpen = -1L
    var dataIndexCount = -1L
    var indexLevels = 1L
    var codec = 2L // NONE
    var encrypted = false
    locally {
      val c = new Protobuf.Cursor(data, pb + 4, data.length - 4)
      var done = false
      while (!done && c.hasMore) {
        val tag = c.varint()
        if (!c.ok || tag == 0) done = true
        else {
          val field = (tag >>> 3).toInt
          val wire = (tag & 7).toInt
          field match {
            case 1 if wire == 0 => fileInfoOffset = c.varint()
            case 2 if wire == 0 => loadOnOpen = c.varint()
            case 5 if wire == 0 => dataIndexCount = c.varint()
            case 8 if wire == 0 => indexLevels = c.varint()
            case 12 if wire == 0 => codec = c.varint()
            case 13 => encrypted = true; c.skip(wire)
            case _ => c.skip(wire)
          }
          if (!c.ok) return None
        }
      }
    }
    if (loadOnOpen < 0 || dataIndexCount < 0) return None
    // root-only, root→leaf, root→intermediate→leaf (late r14);
    // deeper trees would mean >10^12 cells in one log block
    if (indexLevels < 1 || indexLevels > 3) return None
    if (encrypted) return None
    if (codec != 1 && codec != 2) return None // GZ / NONE only
    // memstore-TS flag from FILE INFO (when readable)
    val withMvcc = fileInfoOffset >= 0 &&
      readBlock(data, fileInfoOffset.toInt, FileInfoMagic,
        codec == 1L).exists { case (fi, _) => fileInfoHasMvcc(fi) }
    // root data index → (offset, onDiskSize) per data block
    val (idx, _) = readBlock(data, loadOnOpen.toInt,
      RootIdxMagic, codec == 1L).getOrElse(return None)
    val entries = Seq.newBuilder[(Long, Int)]
    var p = 0
    var e = 0L
    while (e < dataIndexCount) {
      if (p + 12 > idx.length) return None
      val off = Bytes.be64(idx, p)
      val sz = Bytes.be32(idx, p + 8)
      p += 12
      val (klen, used) = readVLong(idx, p).getOrElse(return None)
      if (klen < 0 || p + used + klen > idx.length) return None
      p += used + klen.toInt
      entries += ((off, sz))
      e += 1
    }
    // multi-level (late r14): root entries point at INTERMEDIATE /
    // LEAF index blocks in HBase's non-root secondary-offset
    // format (u32 count, (count+1) u32 entry offsets, then packed
    // (u64 block offset, u32 on-disk size, key) entries) — resolve
    // level by level down to the data blocks
    var dataEntries: Seq[(Long, Int)] = entries.result()
    var lvl = indexLevels
    while (lvl > 1) {
      val magic = if (lvl == 2) LeafIdxMagic else InterIdxMagic
      val next = Seq.newBuilder[(Long, Int)]
      var total = 0L
      dataEntries.foreach { case (off, _) =>
        val (blk, _) = readBlock(data, off.toInt, magic,
          codec == 1L).getOrElse(return None)
        if (blk.length < 8) return None
        val n = Bytes.be32(blk, 0)
        if (n < 1 || n > (1 << 20)) return None
        total += n
        if (total > (1L << 20)) return None
        // LONG arithmetic + up-front size check: a CRC-valid block
        // lying about its entry count must reject, not throw
        val entBase = 4L + 4L * (n + 1)
        if (entBase > blk.length) return None
        var k = 0
        while (k < n) {
          val eo = Bytes.be32(blk, 4 + 4 * k)
          val at = entBase + eo
          if (eo < 0 || at + 12 > blk.length) return None
          next += ((Bytes.be64(blk, at.toInt), Bytes.be32(blk, at.toInt + 8)))
          k += 1
        }
      }
      dataEntries = next.result()
      lvl -= 1
    }
    // decode data blocks in index order
    val out = Seq.newBuilder[Cell]
    dataEntries.foreach { case (off, _) =>
      val (blk, _) = readBlock(data, off.toInt, DataMagic,
        codec == 1L).getOrElse(return None)
      var q = 0
      while (q < blk.length) {
        if (q + 8 > blk.length) return None
        val klen = Bytes.be32(blk, q)
        val vlen = Bytes.be32(blk, q + 4)
        if (klen < 11 || vlen < 0 ||
          q + 8 + klen + vlen > blk.length) return None
        val rowLen = Bytes.be16(blk, q + 8)
        if (2 + rowLen + 1 > klen - 9) return None
        val row = java.util.Arrays.copyOfRange(blk, q + 10,
          q + 10 + rowLen)
        val value = java.util.Arrays.copyOfRange(blk,
          q + 8 + klen, q + 8 + klen + vlen)
        out += Cell(row, value)
        q += 8 + klen + vlen
        if (withMvcc) {
          val (ts, used) = readVLong(blk, q).getOrElse(return None)
          if (ts < 0) return None
          q += used
        }
      }
    }
    Some(out.result())
  }

  // ---------------------------------------------------------------
  // Writer (fixtures): v3, single-level root index, CRC32C
  // ---------------------------------------------------------------

  private def writeBlockTo(buf: java.io.ByteArrayOutputStream,
      magic: Array[Byte], payload: Array[Byte], gz: Boolean)
      : Int = {
    val start = buf.size()
    val body =
      if (!gz) payload
      else {
        val bos = new java.io.ByteArrayOutputStream(
          payload.length / 2 + 64)
        val g = new java.util.zip.GZIPOutputStream(bos)
        g.write(payload); g.close()
        bos.toByteArray
      }
    val bytesPerChecksum = 16384
    val onDiskDataWithHdr = HeaderSize + body.length
    val nChunks =
      (onDiskDataWithHdr + bytesPerChecksum - 1) / bytesPerChecksum
    val hdr = new java.io.ByteArrayOutputStream(HeaderSize)
    hdr.write(magic, 0, 8)
    Bytes.putBe32(hdr, body.length + 4 * nChunks) // onDiskSizeWithoutHeader
    Bytes.putBe32(hdr, payload.length) // uncompressedSizeWithoutHeader
    (7 to 0 by -1).foreach(_ => hdr.write(0xff)) // prevOffset -1
    hdr.write(2) // checksum type CRC32C
    Bytes.putBe32(hdr, bytesPerChecksum)
    Bytes.putBe32(hdr, onDiskDataWithHdr)
    val withHdr = hdr.toByteArray ++ body
    require(withHdr.length == onDiskDataWithHdr)
    buf.write(withHdr, 0, withHdr.length)
    var c = 0
    while (c < nChunks) {
      val cs = c * bytesPerChecksum
      val ce = math.min(cs + bytesPerChecksum, withHdr.length)
      val crc = new java.util.zip.CRC32C()
      crc.update(withHdr, cs, ce - cs)
      val v = crc.getValue.toInt
      Bytes.putBe32(buf, v)
      c += 1
    }
    start
  }

  /** Build an HFile from KEY-SORTED (row, value) cells.
    * `indexLevels` 1 = root-only data index; 2 = root → LEAF index
    * blocks (HBase's non-root secondary-offset format, late r14)
    * with `leafIndexCap` data blocks per leaf. */
  def build(cells: Seq[(Array[Byte], Array[Byte])],
      codec: String = "none", blockSize: Int = 65536,
      indexLevels: Int = 1, leafIndexCap: Int = 8)
      : Array[Byte] = {
    require(codec == "none" || codec == "gz",
      s"unsupported hfile codec $codec")
    require(indexLevels == 1 || indexLevels == 2,
      s"writer emits 1- or 2-level indexes, got $indexLevels")
    require(leafIndexCap >= 1, "leafIndexCap must be positive")
    val gz = codec == "gz"
    locally {
      var i = 1
      while (i < cells.length) {
        // HBase key order is UNSIGNED byte order
        require(java.util.Arrays.compareUnsigned(cells(i - 1)._1,
          cells(i)._1) <= 0, "cells must be key-sorted")
        i += 1
      }
    }
    def cellBytes(row: Array[Byte], value: Array[Byte])
        : Array[Byte] = {
      val klen = 2 + row.length + 1 + 8 + 1 // no family/qualifier
      val out = new java.io.ByteArrayOutputStream(
        8 + klen + value.length)
      Bytes.putBe32(out, klen); Bytes.putBe32(out, value.length)
      out.write((row.length >> 8) & 0xff)
      out.write(row.length & 0xff)
      out.write(row, 0, row.length)
      out.write(0) // family length 0
      (7 to 0 by -1).foreach(_ => out.write(0xff)) // LATEST_TS
      out.write(4) // Type.Put
      out.write(value, 0, value.length)
      out.toByteArray
    }
    val buf = new java.io.ByteArrayOutputStream(4096)
    // data blocks
    final case class IdxEntry(off: Long, size: Int,
      firstKey: Array[Byte])
    val index = Seq.newBuilder[IdxEntry]
    var entryCount = 0L
    var cur = new java.io.ByteArrayOutputStream(blockSize)
    var firstKey: Array[Byte] = null
    var firstDataOff = -1L
    var lastDataOff = -1L
    def flush(): Unit = if (cur.size() > 0) {
      val start = writeBlockTo(buf, DataMagic, cur.toByteArray, gz)
      if (firstDataOff < 0) firstDataOff = start
      lastDataOff = start
      index += IdxEntry(start, buf.size() - start, firstKey)
      cur = new java.io.ByteArrayOutputStream(blockSize)
      firstKey = null
    }
    cells.foreach { case (row, value) =>
      val cb = cellBytes(row, value)
      if (firstKey == null) {
        // the index key = the cell's KEY bytes (row-length..type)
        firstKey = java.util.Arrays.copyOfRange(cb, 8,
          8 + (Bytes.be32(cb, 0)))
      }
      cur.write(cb, 0, cb.length)
      entryCount += 1
      if (cur.size() >= blockSize) flush()
    }
    flush()
    // index: either the data entries straight into the root, or
    // LEAF index blocks first (non-root secondary-offset format)
    // with the root pointing at the leaves
    val idxEntries = index.result()
    val rootEntries =
      if (indexLevels == 1) idxEntries
      else idxEntries.grouped(leafIndexCap).toSeq.map { g =>
        val lp = new java.io.ByteArrayOutputStream(256)
        Bytes.putBe32(lp, g.length)
        var rel = 0
        g.foreach { e =>
          Bytes.putBe32(lp, rel); rel += 12 + e.firstKey.length
        }
        Bytes.putBe32(lp, rel) // the (n+1)-th secondary offset: total bytes
        g.foreach { e =>
          Bytes.putBe64(lp, e.off)
          Bytes.putBe32(lp, e.size)
          lp.write(e.firstKey, 0, e.firstKey.length)
        }
        val off = writeBlockTo(buf, LeafIdxMagic, lp.toByteArray, gz)
        IdxEntry(off.toLong, buf.size() - off, g.head.firstKey)
      }
    val loadOnOpen = buf.size().toLong
    val idxPayload = new java.io.ByteArrayOutputStream(256)
    rootEntries.foreach { e =>
      Bytes.putBe64(idxPayload, e.off)
      Bytes.putBe32(idxPayload, e.size)
      writeVLong(idxPayload, e.firstKey.length.toLong)
      idxPayload.write(e.firstKey, 0, e.firstKey.length)
    }
    writeBlockTo(buf, RootIdxMagic, idxPayload.toByteArray, gz): Unit
    val fileInfoOffset = buf.size().toLong
    // FILE INFO: PBUF + empty FileInfoProto (no MVCC timestamps)
    writeBlockTo(buf, FileInfoMagic, PbMagic.clone(), gz): Unit
    // trailer
    val t = new java.io.ByteArrayOutputStream(TrailerSize)
    t.write(TrailerMagic, 0, 8)
    t.write(PbMagic, 0, 4)
    val proto = new java.io.ByteArrayOutputStream(64)
    import Protobuf.writeTag
    writeTag(proto, 1, 0); Bytes.putVarint(proto, fileInfoOffset)
    writeTag(proto, 2, 0); Bytes.putVarint(proto, loadOnOpen)
    writeTag(proto, 5, 0)
    Bytes.putVarint(proto, rootEntries.length.toLong)
    writeTag(proto, 6, 0); Bytes.putVarint(proto, 0L) // meta index
    writeTag(proto, 7, 0); Bytes.putVarint(proto, entryCount)
    writeTag(proto, 8, 0)
    Bytes.putVarint(proto, indexLevels.toLong)
    writeTag(proto, 9, 0)
    Bytes.putVarint(proto, math.max(firstDataOff, 0L))
    writeTag(proto, 10, 0)
    Bytes.putVarint(proto, math.max(lastDataOff, 0L))
    writeTag(proto, 12, 0)
    Bytes.putVarint(proto, if (gz) 1L else 2L) // GZ / NONE
    val pb = proto.toByteArray
    t.write(pb, 0, pb.length)
    while (t.size() < TrailerSize - 4) t.write(0)
    val version = 3 | (3 << 24) // major 3, minor 3
    (0 until 4).foreach(k =>
      t.write((version >> (8 * (3 - k))) & 0xff))
    val tb = t.toByteArray
    buf.write(tb, 0, tb.length)
    buf.toByteArray
  }
}
