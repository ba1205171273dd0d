package graft.operators

import java.util.zip.{CRC32, Deflater, Inflater}

/** ZIP archives (PKWARE APPNOTE / ISO 21320) — pure-JVM build + parse
  * of the container the other half of ad-hoc training data ships in:
  * local file headers, the central directory, the end-of-central-
  * directory record, STORED and DEFLATED (raw, nowrap) entries. The
  * parse walks the CENTRAL DIRECTORY (the authoritative index — local
  * headers alone mis-handle appended/overwritten archives), inflates
  * DEFLATED payloads, and VERIFIES each entry's CRC-32 — a corrupted
  * payload surfaces as a walk stop, never a silent wrong row.
  *
  * ZIP64 (APPNOTE §4.3.14/§4.5.3): when the classic EOCD saturates
  * (0xFFFF entries / 0xFFFFFFFF offsets — a >4 GiB or >65 535-entry
  * shard is plausible at 100 TB), the walk follows the ZIP64 EOCD
  * locator to the ZIP64 EOCD record for the real 64-bit counts and
  * offsets, and per-entry 0xFFFFFFFF size/offset fields resolve
  * through the 0x0001 extended-information extra field (which holds
  * 64-bit values ONLY for the saturated classic fields, in spec
  * order usize, csize, lho). The builder emits classic format until
  * a field saturates (or `forceZip64` for tests), then switches.
  *
  * No reference analogue (north-star ingestion surface); the layout
  * is the public APPNOTE spec. */
object Zip {

  /** Parsed facts of one entry: name, method (0 stored / 8 deflated),
    * uncompressed size, and the md5 of the INFLATED content (so the
    * facts are independent of compressor version). */
  final case class ZipEntry(name: String, method: Int, size: Long,
      md5: String)

  private def md5hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(b).map("%02x".format(_)).mkString

  private def deflateRaw(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(data); d.finish()
    val out = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def inflateRaw(data: Array[Byte], size: Int): Array[Byte] = {
    val inf = new Inflater(true)
    try {
      inf.setInput(data)
      val out = new Array[Byte](size)
      var done = 0
      while (done < size && !inf.finished()) {
        val n = inf.inflate(out, done, size - done)
        if (n == 0 && inf.needsInput()) return null // truncated
        done += n
      }
      if (done == size) out else null
    } catch {
      // corrupt (not merely truncated) streams: reject, never throw
      case _: java.util.zip.DataFormatException => null
    } finally inf.end() // release native memory on the truncated path too
  }

  /** Build an archive from (name, data, deflate?) triples: local
    * headers + payloads, central directory, EOCD. Classic format
    * until a field saturates its 16/32-bit encoding (entry count,
    * offsets, sizes); `forceZip64` emits the ZIP64 structures
    * unconditionally so tests can exercise the 64-bit path without a
    * 4 GiB fixture. */
  def buildArchive(files: Seq[(String, Array[Byte], Boolean)],
      forceZip64: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val central = new java.io.ByteArrayOutputStream()
    var count = 0
    files.foreach { case (name, data, defl) =>
      val nameB = name.getBytes("UTF-8")
      val crc = new CRC32(); crc.update(data)
      val payload = if (defl) deflateRaw(data) else data
      val method = if (defl) 8 else 0
      val off = out.size()
      // local file header
      Bytes.putLe32(out, 0x04034b50L); Bytes.putLe16(out, 20) // version needed
      Bytes.putLe16(out, 0); Bytes.putLe16(out, method)
      Bytes.putLe16(out, 0); Bytes.putLe16(out, 0)            // time/date
      Bytes.putLe32(out, crc.getValue)
      Bytes.putLe32(out, payload.length.toLong)
      Bytes.putLe32(out, data.length.toLong)
      Bytes.putLe16(out, nameB.length); Bytes.putLe16(out, 0) // extra len
      out.write(nameB); out.write(payload)
      // central directory entry; saturated size/offset fields spill
      // into the 0x0001 extended-information extra (APPNOTE §4.5.3)
      val z64 = forceZip64 || off >= 0xffffffffL ||
        payload.length >= 0xffffffffL || data.length >= 0xffffffffL
      val extra = new java.io.ByteArrayOutputStream(28)
      if (z64) {
        Bytes.putLe16(extra, 0x0001); Bytes.putLe16(extra, 24)
        Bytes.putLe64(extra, data.length.toLong)
        Bytes.putLe64(extra, payload.length.toLong)
        Bytes.putLe64(extra, off.toLong)
      }
      Bytes.putLe32(central, 0x02014b50L)
      Bytes.putLe16(central, if (z64) 45 else 20)
      Bytes.putLe16(central, if (z64) 45 else 20)
      Bytes.putLe16(central, 0); Bytes.putLe16(central, method)
      Bytes.putLe16(central, 0); Bytes.putLe16(central, 0)
      Bytes.putLe32(central, crc.getValue)
      Bytes.putLe32(central, if (z64) 0xffffffffL else payload.length.toLong)
      Bytes.putLe32(central, if (z64) 0xffffffffL else data.length.toLong)
      Bytes.putLe16(central, nameB.length); Bytes.putLe16(central, extra.size)
      Bytes.putLe16(central, 0); Bytes.putLe16(central, 0)    // comment/disk
      Bytes.putLe16(central, 0); Bytes.putLe32(central, 0L)   // attrs
      Bytes.putLe32(central, if (z64) 0xffffffffL else off.toLong)
      central.write(nameB)
      extra.writeTo(central)
      count += 1
    }
    val cdOff = out.size()
    val cd = central.toByteArray
    out.write(cd)
    val needZ64 = forceZip64 || count >= 0xffff ||
      cdOff >= 0xffffffffL || cd.length >= 0xffffffffL
    if (needZ64) {
      val recOff = out.size()
      Bytes.putLe32(out, 0x06064b50L)                      // ZIP64 EOCD record
      Bytes.putLe64(out, 44L)                              // size of remainder
      Bytes.putLe16(out, 45); Bytes.putLe16(out, 45)          // made by / needed
      Bytes.putLe32(out, 0L); Bytes.putLe32(out, 0L)          // disk numbers
      Bytes.putLe64(out, count.toLong); Bytes.putLe64(out, count.toLong)
      Bytes.putLe64(out, cd.length.toLong); Bytes.putLe64(out, cdOff.toLong)
      Bytes.putLe32(out, 0x07064b50L)                      // ZIP64 EOCD locator
      Bytes.putLe32(out, 0L)                               // disk with record
      Bytes.putLe64(out, recOff.toLong)
      Bytes.putLe32(out, 1L)                               // total disks
    }
    Bytes.putLe32(out, 0x06054b50L)                        // EOCD
    Bytes.putLe16(out, 0); Bytes.putLe16(out, 0)
    val n16 = if (needZ64) 0xffff else count
    Bytes.putLe16(out, n16); Bytes.putLe16(out, n16)
    Bytes.putLe32(out, if (needZ64) 0xffffffffL else cd.length.toLong)
    Bytes.putLe32(out, if (needZ64) 0xffffffffL else cdOff.toLong)
    Bytes.putLe16(out, 0)
    out.toByteArray
  }

  /** Walk via the central directory: locate EOCD from the tail, read
    * each CD entry, seek its local header, inflate if deflated, and
    * verify the CRC-32. Any inconsistency (bad signature, size
    * overrun, CRC mismatch, truncated stream) ends the walk. */
  def parse(data: Array[Byte]): Seq[ZipEntry] =
    parseWithData(data).map(_._1)

  /** The same verified walk, also yielding each entry's INFLATED
    * content — what container compositions (EPUB/DOCX extraction)
    * consume. Same never-throw, drop-never-invent discipline. */
  def parseWithData(data: Array[Byte]): Seq[(ZipEntry, Array[Byte])] = {
    // EOCD: last occurrence of the signature in the final 64 KiB + 22
    var eocd = -1
    var i = data.length - 22
    val lo = math.max(0, data.length - 22 - 65535)
    while (eocd < 0 && i >= lo) {
      if (Bytes.le32u(data, i) == 0x06054b50L) eocd = i
      i -= 1
    }
    if (eocd < 0) return Seq.empty
    var n: Long = Bytes.le16(data, eocd + 10).toLong
    var cdL = Bytes.le32u(data, eocd + 16) // CD offset (untrusted 32-bit)
    // Saturated classic fields → follow the ZIP64 EOCD locator
    // (fixed 20 bytes immediately before the EOCD) to the ZIP64 EOCD
    // record for the 64-bit truth. Malformed structures (bad
    // signatures, out-of-range offsets) end the walk with no rows —
    // same never-throw discipline as the rest of the parser.
    if (n == 0xffffL || cdL == 0xffffffffL ||
        Bytes.le32u(data, eocd + 12) == 0xffffffffL) {
      val loc = eocd - 20
      if (loc < 0 || Bytes.le32u(data, loc) != 0x07064b50L) return Seq.empty
      val recL = Bytes.le64(data, loc + 8)
      if (recL < 0 || recL > loc - 56 ||
          Bytes.le32u(data, recL.toInt) != 0x06064b50L) return Seq.empty
      val rec = recL.toInt
      n = Bytes.le64(data, rec + 32)
      cdL = Bytes.le64(data, rec + 48)
      if (n < 0 || cdL < 0) return Seq.empty
    }
    var p = if (cdL > Int.MaxValue) -1 else cdL.toInt
    val out = Seq.newBuilder[(ZipEntry, Array[Byte])]
    var k = 0L
    var ok = true
    while (ok && k < n) {
      if (p < 0 || p + 46 > data.length ||
        Bytes.le32u(data, p) != 0x02014b50L) ok = false
      else {
        val method = Bytes.le16(data, p + 10)
        val crcStored = Bytes.le32u(data, p + 16)
        var csizeL = Bytes.le32u(data, p + 20)
        var usizeL = Bytes.le32u(data, p + 24)
        val nameLen = Bytes.le16(data, p + 28)
        val extraLen = Bytes.le16(data, p + 30)
        val cmtLen = Bytes.le16(data, p + 32)
        var lhoL = Bytes.le32u(data, p + 42)
        // 0xFFFFFFFF size/offset fields resolve through the 0x0001
        // extra: 64-bit values present ONLY for the saturated classic
        // fields, in spec order usize, csize, lho (APPNOTE §4.5.3)
        if ((usizeL == 0xffffffffL || csizeL == 0xffffffffL ||
            lhoL == 0xffffffffL) &&
            p + 46 + nameLen + extraLen <= data.length) {
          var e = p + 46 + nameLen
          val eEnd = e + extraLen
          while (e + 4 <= eEnd) {
            val id = Bytes.le16(data, e)
            val len = Bytes.le16(data, e + 2)
            if (id == 0x0001 && e + 4 + len <= eEnd) {
              var f = e + 4
              val fEnd = e + 4 + len
              if (usizeL == 0xffffffffL && f + 8 <= fEnd) {
                usizeL = Bytes.le64(data, f); f += 8
              }
              if (csizeL == 0xffffffffL && f + 8 <= fEnd) {
                csizeL = Bytes.le64(data, f); f += 8
              }
              if (lhoL == 0xffffffffL && f + 8 <= fEnd) {
                lhoL = Bytes.le64(data, f); f += 8
              }
            }
            e += 4 + len
          }
        }
        val lho = if (lhoL < 0 || lhoL > Int.MaxValue) -1 else lhoL.toInt
        // A 32-bit size field read from untrusted bytes can be
        // anything; DEFLATE expands at most ~1032:1, so a claimed
        // uncompressed size far beyond csize*1040 is a crafted bomb,
        // and either size beyond the archive/Int range would wrap or
        // over-allocate. Any of these ends the walk (never throws).
        val sizesSane = csizeL >= 0 && csizeL <= data.length &&
          usizeL >= 0 && usizeL <= math.min(Int.MaxValue.toLong - 8,
            csizeL * 1040L + 4096L)
        if (!sizesSane || p + 46 + nameLen > data.length ||
          lho < 0 || lho + 30 > data.length ||
          Bytes.le32u(data, lho) != 0x04034b50L) ok = false
        else {
          val csize = csizeL.toInt
          val usize = usizeL.toInt
          val name = new String(data, p + 46, nameLen, "UTF-8")
          val lNameLen = Bytes.le16(data, lho + 26)
          val lExtraLen = Bytes.le16(data, lho + 28)
          val dataOff = lho + 30 + lNameLen + lExtraLen
          if (dataOff.toLong + csize > data.length) ok = false
          else {
            val payload = data.slice(dataOff, dataOff + csize)
            val content =
              if (method == 0) payload
              else if (method == 8) inflateRaw(payload, usize)
              else null
            if (content == null || content.length != usize) ok = false
            else {
              val crc = new CRC32(); crc.update(content)
              if (crc.getValue != crcStored) ok = false
              else out += ((ZipEntry(name, method, usize.toLong,
                md5hex(content)), content))
            }
          }
        }
        p += 46 + nameLen + extraLen + cmtLen
      }
      k += 1
    }
    out.result()
  }
}
