package graft.operators

/** POSIX ustar tar archives (IEEE 1003.1) — the container behind
  * WebDataset-style training shards: samples live as adjacent files
  * sharing a basename key inside plain tar archives, streamed
  * sequentially at training time. Pure-JVM build + parse: the
  * 512-byte header block (name, octal size, checksum over the header
  * with the checksum field blanked, typeflag, ustar magic), content
  * blocks padded to 512, and the two-zero-block terminator. The
  * checksum is VERIFIED on parse — a corrupted header ends the walk
  * instead of inventing entries (the Warc malformed-input rule).
  *
  * No reference analogue (north-star ingestion surface); the layout
  * is the public POSIX spec. */
object Tar {

  final val Block = 512

  /** Parsed facts of one entry: name, size, content md5, and the
    * offset of its data (for consumers that want the payload). */
  final case class TarEntry(name: String, size: Long, md5: String,
      dataOff: Int)

  private def md5hex(b: Array[Byte], off: Int, len: Int): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.update(b, off, len)
    d.digest().map("%02x".format(_)).mkString
  }

  /** One ustar entry: header block + data padded to a block
    * multiple. */
  def buildEntry(name: String, data: Array[Byte]): Array[Byte] = {
    require(name.getBytes("UTF-8").length <= 100, s"name too long: $name")
    val hdr = new Array[Byte](Block)
    def put(off: Int, s: String): Unit = {
      val b = s.getBytes("UTF-8")
      System.arraycopy(b, 0, hdr, off, b.length)
    }
    put(0, name)                                  // name[100]
    put(100, "0000644\u0000")                     // mode[8]
    put(108, "0000000\u0000")                     // uid[8]
    put(116, "0000000\u0000")                     // gid[8]
    put(124, f"${data.length}%011o\u0000")        // size[12], octal
    put(136, "00000000000\u0000")                 // mtime[12]
    java.util.Arrays.fill(hdr, 148, 156, ' '.toByte) // chksum: spaces
    hdr(156) = '0'                                // typeflag: regular
    put(257, "ustar\u000000")                     // magic + version
    val sum = hdr.map(_ & 0xff).sum
    put(148, f"$sum%06o\u0000 ")                  // chksum[8]
    val padded = (data.length + Block - 1) / Block * Block
    val out = new Array[Byte](Block + padded)
    System.arraycopy(hdr, 0, out, 0, Block)
    System.arraycopy(data, 0, out, Block, data.length)
    out
  }

  /** Entries + the two-zero-block terminator. */
  def buildArchive(entries: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    entries.foreach(out.write)
    out.write(new Array[Byte](2 * Block))
    out.toByteArray
  }

  private def cString(b: Array[Byte], off: Int, max: Int): String = {
    var end = off
    while (end < off + max && b(end) != 0) end += 1
    new String(b, off, end - off, "UTF-8")
  }

  private def octal(b: Array[Byte], off: Int, max: Int): Long = {
    var v = 0L
    var i = off
    var seen = false
    while (i < off + max) {
      val c = b(i) & 0xff
      if (c >= '0' && c <= '7') { v = v * 8 + (c - '0'); seen = true }
      else if (seen || (c != ' ' && c != 0)) i = off + max // stop
      i += 1
    }
    if (seen) v else -1L
  }

  /** [[parse]] with compression transparency: a gzip-wrapped archive
    * (the common `.tar.gz` shard layout — one member, though
    * multi-member streams inflate too), an LZ4-framed `.tar.lz4`, or
    * a Snappy-framed `.tar.sz` is unwrapped first — every layer
    * bounded at 2^28 bytes so a crafted bomb stops instead of
    * exhausting memory — then walked identically. Nil on a corrupt
    * wrapper — never throws. */
  def parseAuto(data: Array[Byte]): Seq[TarEntry] =
    if (isGzip(data)) gunzip(data).map(parse).getOrElse(Nil)
    else if (Lz4.isLz4(data))
      Lz4.frameDecompress(data).map(parse).getOrElse(Nil)
    else if (SnappyCodec.isFramed(data))
      SnappyCodec.frameDecompress(data).map(parse).getOrElse(Nil)
    else if (Bzip2.isBzip2(data))
      Bzip2.decode(data).map(parse).getOrElse(Nil)
    else if (Zstd.isZstd(data))
      Zstd.decode(data).map(parse).getOrElse(Nil)
    else if (Xz.isXz(data))
      Xz.decode(data).map(parse).getOrElse(Nil)
    else parse(data)

  /** gzip magic sniff. */
  def isGzip(data: Array[Byte]): Boolean =
    data.length >= 2 && (data(0) & 0xff) == 0x1f && (data(1) & 0xff) == 0x8b

  /** Inflate a gzip stream under the 2^28 decompression-bomb cap;
    * None on corruption or the cap. Never throws. */
  def gunzip(data: Array[Byte]): Option[Array[Byte]] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(data))
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0 && out.size() <= (1 << 28)) {
        out.write(buf, 0, n); n = in.read(buf)
      }
      if (out.size() > (1 << 28)) None // decompression-bomb guard
      else Some(out.toByteArray)
    } catch { case _: java.io.IOException => None }

  /** LZ4-frame-wrap an archive (the `.tar.lz4` convention). */
  def lz4Archive(tar: Array[Byte]): Array[Byte] =
    Lz4.frameCompress(tar)

  /** Snappy-frame-wrap an archive (the `.tar.sz` convention). */
  def snappyArchive(tar: Array[Byte]): Array[Byte] =
    SnappyCodec.frameCompress(tar)

  /** bzip2-wrap an archive (the `.tar.bz2` convention). */
  def bzip2Archive(tar: Array[Byte]): Array[Byte] =
    Bzip2.encode(tar)

  /** Gzip-wrap an archive (single member — the `.tgz` convention). */
  def gzipArchive(tar: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(tar); gz.finish()
    out.toByteArray
  }

  /** Walk an archive: verify each header checksum, read the size
    * (octal OR GNU base-256 for >8 GiB fields), emit FILE entry
    * facts; the walk ends at the zero terminator, a failed checksum,
    * a bad magic, or truncation. Real-tarball metadata is handled,
    * not mis-read as files: PAX extended headers (`x` — `path` and
    * `size` records override the next entry; `g` globals skip), GNU
    * long names (`L`), the ustar `prefix` field, and non-file
    * typeflags (directories, links, devices) are consumed silently.
    * Both POSIX (`ustar\0`) and GNU (`ustar  `) magics accepted. */
  def parse(data: Array[Byte]): Seq[TarEntry] = {
    val out = Seq.newBuilder[TarEntry]
    var p = 0
    var ok = true
    var pendingName: String = null
    var pendingSize: Long = -1L
    while (ok && p + Block <= data.length) {
      if (data.slice(p, p + Block).forall(_ == 0)) ok = false // terminator
      else {
        val magic = cString(data, p + 257, 6).trim
        val stored = octal(data, p + 148, 8)
        var sum = 0L
        var i = 0
        while (i < Block) {
          sum += (if (i >= 148 && i < 156) ' '.toInt
            else data(p + i) & 0xff)
          i += 1
        }
        // GNU base-256: high bit of the size field's first byte
        val size =
          if ((data(p + 124) & 0x80) != 0) {
            var v = (data(p + 124) & 0x7fL)
            var k = 1
            while (k < 12) { v = (v << 8) | (data(p + 124 + k) & 0xffL); k += 1 }
            v
          } else octal(data, p + 124, 12)
        if (magic != "ustar" || stored != sum || size < 0 ||
          p + Block + size > data.length) ok = false
        else {
          val flag = data(p + 156).toChar
          var advance = size // PAX size overrides the data length too
          flag match {
            case '0' | '\u0000' | '7' => // regular file
              val prefix = cString(data, p + 345, 155)
              val base = cString(data, p, 100)
              val name =
                if (pendingName != null) pendingName
                else if (prefix.nonEmpty) s"$prefix/$base"
                else base
              val sz = if (pendingSize >= 0) pendingSize else size
              advance = sz
              if (p + Block + sz > data.length) ok = false
              else out += TarEntry(name, sz,
                md5hex(data, p + Block, sz.toInt), p + Block)
              pendingName = null
              pendingSize = -1L
            case 'L' => // GNU long name: applies to the NEXT entry
              pendingName = cString(data, p + Block, size.toInt)
            case 'x' => // PAX extended header: "len key=value\n"
              val body = new String(data, p + Block, size.toInt,
                "UTF-8")
              var q = 0
              while (q < body.length && ok) {
                val sp = body.indexOf(' ', q)
                if (sp < 0) ok = false
                else body.substring(q, sp).toIntOption match {
                  case Some(recLen) if recLen > 0 &&
                      q + recLen <= body.length &&
                      body.charAt(q + recLen - 1) == '\n' =>
                    val rec = body.substring(sp + 1, q + recLen - 1)
                    val eq = rec.indexOf('=')
                    if (eq > 0) rec.substring(0, eq) match {
                      case "path" => pendingName = rec.substring(eq + 1)
                      case "size" =>
                        pendingSize = rec.substring(eq + 1).toLongOption
                          .getOrElse(-1L)
                        if (pendingSize < 0) ok = false
                      case _ => // mtime/uid/...: irrelevant to facts
                    }
                    q += recLen
                  case _ => ok = false
                }
              }
            case 'g' => // PAX globals: consumed, not applied
            case _ => // dirs/links/devices: consume, never a file row
              pendingName = null
              pendingSize = -1L
          }
          p += Block + ((advance + Block - 1) / Block * Block).toInt
        }
      }
    }
    out.result()
  }
}
