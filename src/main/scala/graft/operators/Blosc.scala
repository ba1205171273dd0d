package graft.operators

/** Blosc v1 frames (the public c-blosc container format,
  * README_HEADER.rst) — the compressor zarr ships BY DEFAULT
  * (numcodecs `Blosc(cname='lz4', shuffle=SHUFFLE)`), so a real
  * zarr store hits this on day one. Blosc is a META-codec: a
  * 16-byte header, a block-starts table, and per-block payloads
  * compressed by an INNER codec after an optional byte-shuffle —
  * and all four inner codecs real stores use are already verified
  * in this repo (lz4 raw blocks, zlib, zstd, snappy raw), so the
  * frame walk composes them. Pure-JVM, both directions:
  *
  *  - header: version, versionlz, flags (bit 0 byte-shuffle, bit 1
  *    pure-memcpy, bit 2 bit-shuffle, bit 4 dont-split, bits 5-7
  *    the inner-codec code: 0 blosclz, 1 lz4, 2 snappy, 3 zlib,
  *    4 zstd), typesize (byte 0 means 256), u32 LE nbytes /
  *    blocksize / cbytes (cbytes = WHOLE frame incl. header).
  *  - memcpy frames: raw bytes after the header, cbytes must equal
  *    nbytes + 16.
  *  - compressed frames: ceil(nbytes/blocksize) u32 LE absolute
  *    block-start offsets, then per block 1 or `typesize` split
  *    streams (the dont-split bit + the classic rule: split only
  *    when typesize ≤ 16 and blocksize/typesize ≥ 128 and the
  *    block is not the leftover), each stream a u32 LE
  *    compressed-size prefix + payload, where size == plain size
  *    marks a STORED stream. Shuffled blocks un-transpose after
  *    decode (byte j of element i ↔ plane j position i, trailing
  *    blocksize % typesize bytes verbatim — shuffle scope is the
  *    BLOCK, not the chunk).
  *
  * HONEST REJECTIONS, by the no-differential policy: inner codec
  * BLOSCLZ (a FastLZ-derived LZ whose far-distance escape cannot be
  * differential-tested offline — a transcription slip there would
  * mis-decode silently inside passing size checks) and BIT-shuffle
  * (a bit-granularity transpose with sub-block leftover rules, same
  * risk class). Both reject loudly, never mis-read; lz4 remains the
  * numcodecs default cname so the common real-world frames decode.
  *
  * Validation: every stream must decompress to exactly its declared
  * split size, block starts must point inside the frame, the frame
  * length must equal cbytes, totals must equal nbytes, and output
  * is capped by the caller's maxOut before any allocation. None on
  * any malformation — drop, never invent. BloscSpec pins the header
  * bytes, both split modes, all four inner codecs, shuffle
  * round trips incl. non-multiple tails, stored-stream handling,
  * memcpy frames, rejection classes, and mutation fuzz; the
  * `zarr_read` gate decodes a blosc-compressed zarr array under the
  * DuckDB oracle. */
object Blosc {

  final val CodecLz4 = "lz4"
  final val CodecSnappy = "snappy"
  final val CodecZlib = "zlib"
  final val CodecZstd = "zstd"

  private val CodecCodes = Map(
    CodecLz4 -> 1, CodecSnappy -> 2, CodecZlib -> 3, CodecZstd -> 4)
  private val CodeNames = CodecCodes.map(_.swap)

  private final val MaxSplits = 16
  private final val MinBufferSize = 128

  // ---------------------------------------------------------------
  // Byte shuffle (block scope)
  // ---------------------------------------------------------------

  /** Transpose `data` so byte-plane j of all elements is
    * contiguous; the blocksize % typesize tail stays verbatim. */
  def shuffleBytes(typesize: Int, data: Array[Byte]): Array[Byte] = {
    if (typesize <= 1) return data
    val nelem = data.length / typesize
    val out = new Array[Byte](data.length)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < nelem) {
        out(j * nelem + i) = data(i * typesize + j)
        i += 1
      }
      j += 1
    }
    var t = nelem * typesize
    while (t < data.length) { out(t) = data(t); t += 1 }
    out
  }

  def unshuffleBytes(typesize: Int, data: Array[Byte])
      : Array[Byte] = {
    if (typesize <= 1) return data
    val nelem = data.length / typesize
    val out = new Array[Byte](data.length)
    var j = 0
    while (j < typesize) {
      var i = 0
      while (i < nelem) {
        out(i * typesize + j) = data(j * nelem + i)
        i += 1
      }
      j += 1
    }
    var t = nelem * typesize
    while (t < data.length) { out(t) = data(t); t += 1 }
    out
  }

  // ---------------------------------------------------------------
  // Inner codec dispatch (all four are this repo's own verified
  // implementations or the JDK's zlib)
  // ---------------------------------------------------------------

  private def innerCompress(codec: String, data: Array[Byte],
      level: Int): Array[Byte] = codec match {
    case CodecLz4 => Lz4.compressBlock(data)
    case CodecSnappy => SnappyCodec.compress(data)
    case CodecZstd =>
      // the independently-bundled encoder (house practice for
      // fixture writing) — OUR Zstd.decode reads it back, so every
      // round trip is a live differential
      com.github.luben.zstd.Zstd.compress(data,
        math.max(1, math.min(19, level)))
    case CodecZlib =>
      val d = new java.util.zip.Deflater(
        math.max(1, math.min(9, level)))
      d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(
        data.length / 2 + 64)
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end()
      out.toByteArray
    case other => sys.error(s"blosc inner codec $other")
  }

  /** Decompress `len` bytes at `off` into exactly `want` bytes;
    * None on any failure or size mismatch. */
  private def innerDecompress(code: Int, d: Array[Byte], off: Int,
      len: Int, want: Int): Option[Array[Byte]] = code match {
    case 1 => // lz4 raw block
      val out = new Array[Byte](want)
      val n = Lz4.decompressBlock(d, off, len, out)
      if (n == want) Some(out) else None
    case 2 => // snappy raw
      val slice = java.util.Arrays.copyOfRange(d, off, off + len)
      SnappyCodec.decompress(slice).filter(_.length == want)
    case 3 => // zlib
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(d, off, len)
        val out = new Array[Byte](want)
        var done = 0
        while (done < want && !inf.finished()) {
          val n = inf.inflate(out, done, want - done)
          if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
            return None
          done += n
        }
        if (done == want && inf.finished()) Some(out) else None
      } catch {
        case _: java.util.zip.DataFormatException => None
      } finally inf.end()
    case 4 => // zstd
      val slice = java.util.Arrays.copyOfRange(d, off, off + len)
      Zstd.decode(slice, maxOut = want).filter(_.length == want)
    case _ => None // blosclz (0) and unknown codes: honest reject
  }

  // ---------------------------------------------------------------
  // Decode
  // ---------------------------------------------------------------

  /** Decode one blosc frame; None on any malformation, an unknown
    * inner codec (incl. blosclz), or bit-shuffle. */
  def decode(frame: Array[Byte], maxOut: Int): Option[Array[Byte]] = {
    if (frame.length < 16) return None
    val version = frame(0) & 0xff
    if (version < 1 || version > 2) return None
    val flags = frame(2) & 0xff
    if ((flags & 0x04) != 0) return None // bit-shuffle: honest reject
    if ((flags & 0x08) != 0) return None // unknown flag bit
    val shuffled = (flags & 0x01) != 0
    val memcpy = (flags & 0x02) != 0
    val dontSplit = (flags & 0x10) != 0
    val code = (flags >>> 5) & 0x07
    val typesize = { val t = frame(3) & 0xff; if (t == 0) 256 else t }
    val nbytes = Bytes.le32u(frame, 4)
    val blocksize = Bytes.le32u(frame, 8)
    val cbytes = Bytes.le32u(frame, 12)
    if (nbytes < 0 || nbytes > maxOut) return None
    if (cbytes != frame.length) return None
    if (memcpy) {
      if (nbytes + 16 != cbytes) return None
      return Some(java.util.Arrays.copyOfRange(frame, 16,
        frame.length))
    }
    if (code == 0) return None // blosclz: honest reject
    if (nbytes == 0) return Some(Array.emptyByteArray)
    if (blocksize <= 0 || blocksize > Int.MaxValue) return None
    val nblocks = ((nbytes + blocksize - 1) / blocksize).toInt
    if (16 + 4L * nblocks > frame.length) return None
    val out = new Array[Byte](nbytes.toInt)
    var b = 0
    while (b < nblocks) {
      val bsize =
        if (b == nblocks - 1) (nbytes - blocksize * b).toInt
        else blocksize.toInt
      val leftover = bsize != blocksize.toInt
      val nsplits =
        if (!dontSplit && !leftover && typesize <= MaxSplits &&
          blocksize / typesize >= MinBufferSize) typesize
        else 1
      if (bsize % nsplits != 0) return None
      val neblock = bsize / nsplits
      var p = Bytes.le32u(frame, 16 + 4 * b)
      if (p < 16 || p > frame.length) return None
      val block = new Array[Byte](bsize)
      var s = 0
      while (s < nsplits) {
        if (p + 4 > frame.length) return None
        val cb = Bytes.le32u(frame, p.toInt)
        p += 4
        if (cb <= 0 || p + cb > frame.length) return None
        val plain: Array[Byte] =
          if (cb == neblock) // STORED stream
            java.util.Arrays.copyOfRange(frame, p.toInt,
              (p + cb).toInt)
          else innerDecompress(code, frame, p.toInt, cb.toInt,
            neblock).getOrElse(return None)
        System.arraycopy(plain, 0, block, s * neblock, neblock)
        p += cb
        s += 1
      }
      val restored =
        if (shuffled) unshuffleBytes(typesize, block) else block
      System.arraycopy(restored, 0, out, (blocksize * b).toInt,
        bsize)
      b += 1
    }
    Some(out)
  }

  // ---------------------------------------------------------------
  // Encode
  // ---------------------------------------------------------------

  /** Encode one blosc frame with inner codec `cname` (lz4 /
    * snappy / zlib / zstd). `split = true` uses the classic
    * per-byte-plane split streams (legal only with the rule's
    * preconditions — falls back to one stream otherwise and sets
    * the dont-split bit accordingly); incompressible input falls
    * back to a memcpy frame, like the reference encoder. */
  def encode(data: Array[Byte], typesize: Int, cname: String,
      level: Int = 5, shuffle: Boolean = true,
      blocksize0: Int = 0, split: Boolean = false): Array[Byte] = {
    require(typesize >= 1 && typesize <= 256, s"typesize $typesize")
    val code = CodecCodes.getOrElse(cname,
      sys.error(s"blosc inner codec $cname"))
    val blocksize =
      if (blocksize0 > 0) blocksize0
      else {
        // a cache-friendly default: 64 KiB, multiple of typesize
        val base = math.min(
          math.max(data.length, typesize), 64 * 1024)
        math.max(typesize, base / typesize * typesize)
      }
    val nblocks = if (data.length == 0) 0
      else (data.length + blocksize - 1) / blocksize
    val wantSplit = split && typesize <= MaxSplits &&
      blocksize / typesize >= MinBufferSize
    val flags0 = (if (shuffle && typesize > 1) 0x01 else 0) |
      (if (wantSplit) 0 else 0x10) | (code << 5)

    val blockPayloads = (0 until nblocks).map { b =>
      val bsize = math.min(blocksize, data.length - b * blocksize)
      val leftover = bsize != blocksize
      val raw = java.util.Arrays.copyOfRange(data, b * blocksize,
        b * blocksize + bsize)
      val sh = if (shuffle && typesize > 1)
        shuffleBytes(typesize, raw) else raw
      val nsplits = if (wantSplit && !leftover) typesize else 1
      val neblock0 = bsize / nsplits
      // splits must tile exactly; if they can't, one stream
      val (ns, neblock) =
        if (neblock0 * nsplits == bsize) (nsplits, neblock0)
        else (1, bsize)
      val out = new java.io.ByteArrayOutputStream(bsize + 64)
      (0 until ns).foreach { s =>
        val plain = java.util.Arrays.copyOfRange(sh, s * neblock,
          (s + 1) * neblock)
        val comp = innerCompress(cname, plain, level)
        if (comp.length >= neblock) { // stored
          Bytes.putLe32(out, neblock.toLong)
          out.write(plain, 0, plain.length)
        } else {
          Bytes.putLe32(out, comp.length.toLong)
          out.write(comp, 0, comp.length)
        }
      }
      out.toByteArray
    }

    val payloadTotal = blockPayloads.map(_.length).sum
    val frameLen = 16 + 4 * nblocks + payloadTotal
    if (frameLen >= data.length + 16) {
      // memcpy fallback
      val out = new java.io.ByteArrayOutputStream(data.length + 16)
      out.write(2); out.write(1)
      out.write(0x02 | (code << 5))
      out.write(typesize & 0xff)
      Bytes.putLe32(out, data.length.toLong)
      Bytes.putLe32(out, math.min(blocksize, math.max(data.length, 1))
        .toLong)
      Bytes.putLe32(out, data.length + 16L)
      out.write(data, 0, data.length)
      return out.toByteArray
    }
    val out = new java.io.ByteArrayOutputStream(frameLen)
    out.write(2); out.write(1)
    out.write(flags0)
    out.write(typesize & 0xff)
    Bytes.putLe32(out, data.length.toLong)
    Bytes.putLe32(out, blocksize.toLong)
    Bytes.putLe32(out, frameLen.toLong)
    var off = 16 + 4 * nblocks
    blockPayloads.foreach { p => Bytes.putLe32(out, off.toLong)
      off += p.length }
    blockPayloads.foreach(p => out.write(p, 0, p.length))
    out.toByteArray
  }
}
