package graft.operators

/** HDF5 (the public HDF5 File Format Specification, versions II-IV)
  * — THE scientific-corpus container: sensor dumps, simulation
  * outputs and many embedding/feature stores ship `.h5`/`.hdf5`
  * files. Pure-JVM read + a conforming writer for the subset those
  * corpora actually use, from the spec document alone:
  *
  *  - superblock VERSION 0 (the default libhdf5 writes), 8-byte
  *    offsets/lengths; v1-3 superblocks reject honestly (reading
  *    them wrongly would silently shift every address).
  *  - the classic GROUP machinery: root symbol-table entry → object
  *    header v1 → symbol-table message → B-tree v1 (node type 0,
  *    internal levels recursed) + local heap names → SNOD symbol
  *    nodes → child object headers. Nested groups walk recursively
  *    as `a/b/c` paths.
  *  - DATASET object headers: dataspace v1 (simple, rank ≤ 8),
  *    datatype classes fixed-point (1/2/4/8-byte, signed/unsigned,
  *    both byte orders) and IEEE float (binary32/64, both orders) —
  *    everything else (strings, compounds, variable-length,
  *    references) rejects honestly; data layout v3 in all three
  *    classes — COMPACT (inline), CONTIGUOUS (one slice) and
  *    CHUNKED (B-tree v1 node type 1 walked recursively, chunk
  *    offsets checked, edge chunks clipped) — with the filter
  *    pipeline supporting DEFLATE (id 1, the JDK inflater),
  *    SHUFFLE (id 2, the byte-plane transpose shared with
  *    [[Blosc]]) and FLETCHER32 (id 3, HDF5's big-endian-word
  *    Fletcher checksum verified and stripped, the byte-swapped
  *    pre-1.6.3 trailer accepted like the library does) applied in
  *    reverse write order; szip/nbit/scaleoffset still reject
  *    rather than mis-read.
  *  - object header CONTINUATION blocks (0x0010) follow; NIL /
  *    fill-value / attribute / mod-time messages skip.
  *
  * [[read]] returns each dataset as dims + an [[Npy.Arr]] (the
  * shared logical accessor — HDF5 data is C-order, either endian).
  * [[Writer]] emits superblock v0 + root group + one level of
  * groups/datasets with contiguous OR deflate-chunked layouts —
  * enough to round-trip everything the reader accepts, byte-checked
  * in Hdf5Spec against hand-pinned structure offsets. All
  * addresses/sizes bounds-checked, B-tree walks cycle-guarded,
  * decompression bomb-capped by the declared chunk size. None on
  * any malformation — drop, never invent. */
object Hdf5 {

  private final val Sig = Array(0x89, 'H', 'D', 'F', '\r', '\n',
    0x1a, '\n').map(_.toByte)
  private final val Undef = -1L // 0xffffffffffffffff
  private final val MaxRank = 8
  private final val MaxElems = Int.MaxValue.toLong

  /** One dataset: path ("a/b/dset"), dims, and the element data as
    * the shared logical accessor (C order, endian honoured). */
  final case class Dataset(path: String, dims: Seq[Long],
      arr: Npy.Arr)

  // ---------------------------------------------------------------
  // Reader
  // ---------------------------------------------------------------

  private final class Rd(val d: Array[Byte]) {
    var ok = true
    def in(o: Long, n: Long): Boolean =
      o >= 0 && n >= 0 && o + n <= d.length
    def check(o: Long, n: Long): Boolean = {
      if (!in(o, n)) ok = false
      ok
    }
  }

  /** Bob Jenkins lookup3 hashlittle (public domain; HDF5's
    * H5_checksum_lookup3 with initval 0) — the checksum the v2/v3
    * superblock, OHDR/OCHK object headers and the v4 chunk-index
    * structures all carry. */
  private[operators] def lookup3(d: Array[Byte], off: Int,
      len: Int): Long = {
    def rot(x: Int, k: Int) = Integer.rotateLeft(x, k)
    var a = 0xdeadbeef + len
    var b = a
    var c = a
    var p = off
    var rem = len
    while (rem > 12) {
      a += Bytes.le32(d, p)
      b += Bytes.le32(d, p + 4)
      c += Bytes.le32(d, p + 8)
      // mix
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      p += 12; rem -= 12
    }
    if (rem > 0) {
      var i = 0
      while (i < rem) {
        val v = (d(p + i) & 0xff) << (8 * (i % 4))
        if (i < 4) a += v
        else if (i < 8) b += v
        else c += v
        i += 1
      }
      // final
      c ^= b; c -= rot(b, 14)
      a ^= c; a -= rot(c, 11)
      b ^= a; b -= rot(a, 25)
      c ^= b; c -= rot(b, 16)
      a ^= c; a -= rot(c, 4)
      b ^= a; b -= rot(a, 14)
      c ^= b; c -= rot(b, 24)
    }
    c.toLong & 0xffffffffL
  }

  private final case class Dtype(descr: String, big: Boolean,
      size: Int)

  /** `chunkIndex`: 0 = v1 B-tree (layout v3), 1 = single chunk,
    * 2 = implicit, 3 = fixed array, 4 = extensible array,
    * 5 = version-2 b-tree (layout v4 index types). For
    * single-chunk layouts `size` carries the FILTERED stored size
    * when the filtered flag was set (else 0). */
  private final case class Layout(clazz: Int, addr: Long,
      size: Long, chunkDims: Seq[Int], compact: Array[Byte],
      chunkIndex: Int = 0)

  private final case class ObjInfo(dims: Seq[Long],
      dtype: Option[Dtype], layout: Option[Layout],
      /** filter pipeline in WRITE order: (fid, client values) —
        * 1 deflate, 2 shuffle, 3 fletcher32. */
      pipeline: Seq[(Int, Seq[Long])],
      unsupportedFilter: Boolean,
      group: Option[(Long, Long)], // v1 groups: (btreeAddr, heapAddr)
      /** v2 groups: compact link-message children (name, oha);
        * `v2Group` also set when only a Link Info message marks an
        * (empty) group. */
      links: Seq[(String, Long)] = Seq.empty,
      v2Group: Boolean = false)

  /** Mutable accumulator shared by both object-header framers. */
  private final class MsgAcc {
    var dims: Seq[Long] = Seq.empty
    var dtype: Option[Dtype] = None
    var layout: Option[Layout] = None
    val pipeline = Seq.newBuilder[(Int, Seq[Long])]
    var unsupportedFilter = false
    var group: Option[(Long, Long)] = None
    val links = Seq.newBuilder[(String, Long)]
    var v2Group = false
    def result: ObjInfo = ObjInfo(dims, dtype, layout,
      pipeline.result(), unsupportedFilter, group, links.result(),
      v2Group)
  }

  /** One serialized LINK message (spec IV.A.2.g) — the same wire
    * layout as a type-0x0006 header message AND as a dense-storage
    * fractal-heap object. Hard links only (soft/external reject):
    * (name, child object-header address). */
  private def parseLinkBody(d: Array[Byte], body: Int, end: Int)
      : Option[(String, Long)] = {
    if (end - body < 3) return None
    if ((d(body) & 0xff) != 1) return None
    val flags = d(body + 1) & 0xff
    var p = body + 2
    var linkType = 0
    if ((flags & 0x08) != 0) { linkType = d(p) & 0xff; p += 1 }
    if (linkType != 0) return None // soft/external: reject
    if ((flags & 0x04) != 0) p += 8 // creation order
    if ((flags & 0x10) != 0) p += 1 // charset
    val lenSz = 1 << (flags & 0x03)
    if (p + lenSz > end) return None
    var nameLen = 0L
    var j = 0
    while (j < lenSz) { nameLen |= (d(p + j) & 0xffL) << (8 * j)
      j += 1 }
    p += lenSz
    if (nameLen < 1 || nameLen > 4096 ||
      p + nameLen + 8 > end) return None
    val name = new String(d, p, nameLen.toInt, "UTF-8")
    Some((name, Bytes.le64(d, p + nameLen.toInt)))
  }

  /** One message body shared by the v1 and v2 framers; returns
    * false on malformation. Continuations are framer-specific and
    * NOT handled here. */
  private def handleMsg(d: Array[Byte], mType: Int, body: Int,
      mSize: Int, end: Int, acc: MsgAcc): Boolean = {
    mType match {
      case 0x0001 => // dataspace v1 or v2
        if (mSize < 4) return false
        val ver = d(body) & 0xff
        val rank = d(body + 1) & 0xff
        if (rank > MaxRank) return false
        val off = ver match {
          case 1 => if (mSize < 8) return false; body + 8
          case 2 => // version, rank, flags, TYPE byte, dims
            val tpe = d(body + 3) & 0xff
            if (tpe > 1) return false // null dataspace rejects
            body + 4
          case _ => return false
        }
        if (off + rank * 8 > end) return false
        acc.dims = (0 until rank).map(i => Bytes.le64(d, off + 8 * i))
      case 0x0003 => // datatype
        if (mSize < 8) return false
        val cv = d(body) & 0xff
        val ver = cv >> 4
        val clazz = cv & 0xf
        if (ver < 1 || ver > 3) return false
        val bits0 = d(body + 1) & 0xff
        val size = Bytes.le32u(d, body + 4).toInt
        val big = (bits0 & 1) == 1
        clazz match {
          case 0 => // fixed-point
            val signed = (bits0 & 0x08) != 0
            val tag = size match {
              case 1 => if (signed) "i1" else "u1"
              case 2 => if (signed) "i2" else "u2"
              case 4 => if (signed) "i4" else "u4"
              case 8 => if (signed) "i8" else "u8"
              case _ => return false
            }
            acc.dtype = Some(Dtype(tag, big, size))
          case 1 => // IEEE float
            val tag = size match {
              case 4 => "f4"
              case 8 => "f8"
              case _ => return false
            }
            acc.dtype = Some(Dtype(tag, big, size))
          case _ => return false // honest rejection
        }
      case 0x0008 => // data layout v3 / v4
        if (mSize < 2) return false
        val ver = d(body) & 0xff
        if (ver != 3 && ver != 4) return false
        val clazz = d(body + 1) & 0xff
        clazz match {
          case 0 => // compact (same fields in v3 and v4)
            val sz = Bytes.le16(d, body + 2)
            if (body + 4 + sz > end) return false
            acc.layout = Some(Layout(0, 0L, sz.toLong, Seq.empty,
              java.util.Arrays.copyOfRange(d, body + 4,
                body + 4 + sz)))
          case 1 => // contiguous (same fields)
            acc.layout = Some(Layout(1, Bytes.le64(d, body + 2),
              Bytes.le64(d, body + 10), Seq.empty, null))
          case 2 if ver == 3 => // chunked, v1-btree indexed
            val dimensionality = d(body + 2) & 0xff
            val bt = Bytes.le64(d, body + 3)
            val nd = dimensionality - 1
            if (nd < 0 || nd > MaxRank) return false
            val cd = (0 until nd).map(i =>
              Bytes.le32u(d, body + 11 + 4 * i).toInt)
            // last u32 is the element size; cross-checked later
            acc.layout = Some(Layout(2, bt, 0L, cd, null))
          case 2 => // v4 chunked: flags, dims, chunk-index type
            if (mSize < 5) return false
            val flags = d(body + 2) & 0xff
            val nd = d(body + 3) & 0xff
            val encLen = d(body + 4) & 0xff
            if (nd < 1 || nd - 1 > MaxRank) return false
            if (encLen < 1 || encLen > 8) return false
            var p = body + 5
            if (p + nd * encLen > end) return false
            // v4 dims include NO trailing element-size dim (unlike
            // v3) per spec… except they DO: dimensionality counts
            // only the dataset rank here
            val cd = (0 until nd).map { i =>
              var v = 0L
              var j = 0
              while (j < encLen) {
                v |= (d(p + i * encLen + j) & 0xffL) << (8 * j)
                j += 1
              }
              v.toInt
            }
            p += nd * encLen
            if (p >= end) return false
            val idxType = d(p) & 0xff
            p += 1
            idxType match {
              case 1 => // single chunk
                var filteredSize = 0L
                if ((flags & 0x02) != 0) { // filtered single chunk
                  if (p + 12 > end) return false
                  filteredSize = Bytes.le64(d, p)
                  p += 8 + 4 // size + filter mask
                }
                if (p + 8 > end) return false
                acc.layout = Some(Layout(2, Bytes.le64(d, p), filteredSize,
                  cd, null, chunkIndex = 1))
              case 2 => // implicit: chunks contiguous, unfiltered
                if (p + 8 > end) return false
                acc.layout = Some(Layout(2, Bytes.le64(d, p), 0L, cd, null,
                  chunkIndex = 2))
              case 3 => // fixed array: page bits byte + header addr
                if (p + 9 > end) return false
                acc.layout = Some(Layout(2, Bytes.le64(d, p + 1), 0L, cd,
                  null, chunkIndex = 3))
              case 4 => // extensible array (one unlimited dim):
                // max bits, index elems, min ptrs, min elems,
                // page bits — all live in the EAHD too; the
                // header is authoritative on read
                if (p + 13 > end) return false
                acc.layout = Some(Layout(2, Bytes.le64(d, p + 5), 0L, cd,
                  null, chunkIndex = 4))
              case 5 => // v2 b-tree (several unlimited dims):
                // node size(4) + split(1) + merge(1) + addr
                if (p + 14 > end) return false
                acc.layout = Some(Layout(2, Bytes.le64(d, p + 6), 0L, cd,
                  null, chunkIndex = 5))
              case _ => return false // unknown index: reject
            }
          case _ => return false // virtual storage etc.
        }
      case 0x000b => // filter pipeline v1 / v2
        if (mSize < 2) return false
        val ver = d(body) & 0xff
        if (ver != 1 && ver != 2) return false
        val nf = d(body + 1) & 0xff
        var fp = if (ver == 1) body + 8 else body + 2
        var i = 0
        while (i < nf) {
          if (fp + 4 > end) return false
          val fid = Bytes.le16(d, fp)
          fp += 2
          val nameLen =
            if (ver == 1 || fid >= 256) {
              if (fp + 2 > end) return false
              val n0 = Bytes.le16(d, fp); fp += 2; n0
            } else 0
          if (fp + 4 > end) return false
          val nValues = Bytes.le16(d, fp + 2)
          fp += 4
          if (fp + nameLen + 4 * nValues > end) return false
          val values = (0 until nValues).map(j =>
            Bytes.le32u(d, fp + nameLen + 4 * j))
          // deflate, shuffle and fletcher32 decode for real;
          // szip/nbit/scaleoffset would mis-read → reject
          if (fid == 1 || fid == 2 || fid == 3)
            acc.pipeline += ((fid, values))
          else acc.unsupportedFilter = true
          fp += nameLen + 4 * nValues
          if (ver == 1 && nValues % 2 == 1) fp += 4
          i += 1
        }
      case 0x0011 => // symbol table (v1 group)
        if (mSize < 16) return false
        acc.group = Some((Bytes.le64(d, body), Bytes.le64(d, body + 8)))
      case 0x0002 => // link info (v2 group marker)
        if (mSize < 2) return false
        val flags = d(body + 1) & 0xff
        var p = body + 2
        if ((flags & 0x01) != 0) p += 8 // max creation index
        if (p + 16 > end) return false
        val fheap = Bytes.le64(d, p)
        if (fheap != Undef) {
          // DENSE link storage (late r14): the links live as
          // fractal-heap objects indexed by a name-order v2
          // b-tree — walk the index, resolve each heap id
          val nameBt = Bytes.le64(d, p + 8)
          val ls = denseLinks(d, fheap, nameBt)
            .getOrElse(return false)
          ls.foreach(acc.links += _)
        }
        acc.v2Group = true
      case 0x0006 => // link message (v2 compact link)
        val parsed = parseLinkBody(d, body, end)
          .getOrElse(return false)
        acc.links += parsed
        acc.v2Group = true
      case _ => () // NIL, fill value, group info, attributes, …
    }
    true
  }

  /** Parse an object header (v1) at `addr`, following
    * continuations. */
  private def objectHeader(r: Rd, addr: Long): Option[ObjInfo] = {
    if (!r.check(addr, 16)) return None
    val d = r.d
    val base = addr.toInt
    if ((d(base) & 0xff) != 1) return None // header version 1
    val nMsgs = Bytes.le16(d, base + 2)
    if (nMsgs > 4096) return None
    val hdrSize = Bytes.le32u(d, base + 8)
    val acc = new MsgAcc

    // message blocks: (start, length); continuations append
    var blocks = List((addr + 16, hdrSize))
    var seen = 0
    var guard = 0
    while (blocks.nonEmpty && seen < nMsgs && guard < 10000) {
      val (bStart, bLen) = blocks.head
      blocks = blocks.tail
      if (!r.check(bStart, bLen)) return None
      var p = bStart.toInt
      val end = (bStart + bLen).toInt
      while (p + 8 <= end && seen < nMsgs) {
        guard += 1
        val mType = Bytes.le16(d, p)
        val mSize = Bytes.le16(d, p + 2)
        val body = p + 8
        if (body + mSize > end) return None
        if (mType == 0x0010) { // continuation (framer-specific)
          if (mSize < 16) return None
          blocks = (Bytes.le64(d, body), Bytes.le64(d, body + 8)) :: blocks
        } else if (!handleMsg(d, mType, body, mSize, end, acc))
          return None
        seen += 1
        // messages are 8-byte aligned
        val adv = 8 + ((mSize + 7) / 8) * 8
        p += adv
      }
    }
    Some(acc.result)
  }

  /** Parse a VERSION 2 object header ("OHDR") at `addr`, following
    * OCHK continuation blocks — the libver-latest layout. Every
    * chunk's lookup3 checksum is verified. */
  private def objectHeaderV2(r: Rd, addr: Long): Option[ObjInfo] = {
    val d = r.d
    if (!r.check(addr, 12)) return None
    val base = addr.toInt
    if (d(base) != 'O' || d(base + 1) != 'H' || d(base + 2) != 'D' ||
      d(base + 3) != 'R') return None
    if ((d(base + 4) & 0xff) != 2) return None
    val flags = d(base + 5) & 0xff
    var p = base + 6
    if ((flags & 0x20) != 0) p += 16 // times
    if ((flags & 0x10) != 0) p += 4  // phase-change values
    val szBytes = 1 << (flags & 0x03)
    if (!r.check(p.toLong, szBytes.toLong)) return None
    var chunk0 = 0L
    var j = 0
    while (j < szBytes) { chunk0 |= (d(p + j) & 0xffL) << (8 * j)
      j += 1 }
    p += szBytes
    if (chunk0 < 0 || chunk0 > (1 << 24)) return None
    // chunk 0 = messages; checksum covers OHDR start..end-of-msgs
    if (!r.check(p.toLong, chunk0 + 4)) return None
    val acc = new MsgAcc
    val trackOrder = (flags & 0x04) != 0
    // (msgStart, msgEnd, checksumBase) per chunk
    var chunks = List((p, p + chunk0.toInt, base))
    var guard = 0
    while (chunks.nonEmpty && guard < 10000) {
      val (cs, ce, ckBase) = chunks.head
      chunks = chunks.tail
      val want = lookup3(d, ckBase, ce - ckBase)
      if (Bytes.le32u(d, ce) != want) return None // chunk checksum
      var q = cs
      val msgHdr = if (trackOrder) 6 else 4
      while (q + msgHdr <= ce) {
        guard += 1
        val mType = d(q) & 0xff
        val mSize = Bytes.le16(d, q + 1)
        // byte 3 = message flags; +2 creation order if tracked
        val body = q + msgHdr
        if (body + mSize > ce) return None
        if (mType == 0x10) { // continuation → OCHK block
          if (mSize < 16) return None
          val off = Bytes.le64(d, body)
          val len = Bytes.le64(d, body + 8)
          if (len < 12 || !r.check(off, len)) return None
          val ob = off.toInt
          if (d(ob) != 'O' || d(ob + 1) != 'C' || d(ob + 2) != 'H' ||
            d(ob + 3) != 'K') return None
          // messages span: after "OCHK" to before the checksum
          chunks = (ob + 4, ob + len.toInt - 4, ob) :: chunks
        } else if (!handleMsg(d, mType, body, mSize, ce, acc))
          return None
        q = body + mSize // v2 messages are unaligned
      }
      // ≤ msgHdr-1 trailing gap bytes are legal
    }
    Some(acc.result)
  }

  /** Dispatch on the header format at `addr`. */
  private def objectHeaderAny(r: Rd, addr: Long): Option[ObjInfo] = {
    if (!r.check(addr, 4)) return None
    val d = r.d
    val b = addr.toInt
    if (d(b) == 'O' && d(b + 1) == 'H' && d(b + 2) == 'D' &&
      d(b + 3) == 'R') objectHeaderV2(r, addr)
    else objectHeader(r, addr)
  }

  /** HDF5's H5_checksum_fletcher32: 16-bit BIG-endian words,
    * modulo-reduced every 360 words, odd tail high-padded. */
  private[operators] def fletcher32(d: Array[Byte], off: Int,
      len: Int): Long = {
    var sum1 = 0L
    var sum2 = 0L
    var words = len / 2
    var p = off
    while (words > 0) {
      var tlen = math.min(words, 360)
      words -= tlen
      while (tlen > 0) {
        sum1 += ((d(p) & 0xffL) << 8) | (d(p + 1) & 0xffL)
        sum2 += sum1
        p += 2
        tlen -= 1
      }
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    if (len % 2 == 1) {
      sum1 += (d(off + len - 1) & 0xffL) << 8
      sum2 += sum1
      sum1 = (sum1 & 0xffff) + (sum1 >> 16)
      sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    }
    sum1 = (sum1 & 0xffff) + (sum1 >> 16)
    sum2 = (sum2 & 0xffff) + (sum2 >> 16)
    ((sum2 & 0xffff) << 16) | (sum1 & 0xffff)
  }

  /** Undo the filter pipeline on one stored chunk (reverse write
    * order): fletcher32 verifies + strips its little-endian
    * trailer (the pre-1.6.3 byte-swapped form accepted too, as the
    * library does), deflate inflates to exactly the chunk size,
    * shuffle un-transposes byte planes. None on any mismatch. */
  private def unfilterChunk(stored: Array[Byte],
      pipeline: Seq[(Int, Seq[Long])], chunkBytes: Int,
      typesize: Int): Option[Array[Byte]] = {
    var cur = stored
    pipeline.reverse.foreach {
      case (3, _) => // fletcher32: 4-byte LE checksum trailer
        if (cur.length < 4) return None
        val n = cur.length - 4
        val want = fletcher32(cur, 0, n)
        if (want != Bytes.le32u(cur, n) && want != Bytes.be32u(cur, n))
          return None
        cur = java.util.Arrays.copyOfRange(cur, 0, n)
      case (1, _) => // deflate: everything inside is size-preserving
        cur = inflate(cur, 0, cur.length, chunkBytes)
          .getOrElse(return None)
      case (2, values) => // shuffle: client value = element size
        val esz = values.headOption.map(_.toInt).getOrElse(typesize)
        if (esz <= 0 || esz > 256) return None
        cur = Blosc.unshuffleBytes(esz, cur)
      case _ => return None
    }
    if (cur.length != chunkBytes) return None
    Some(cur)
  }

  /** Local-heap string at `heapAddr` data segment + `offset`. */
  private def heapString(r: Rd, heapAddr: Long, offset: Long)
      : Option[String] = {
    val d = r.d
    if (!r.check(heapAddr, 32)) return None
    val h = heapAddr.toInt
    if (d(h) != 'H' || d(h + 1) != 'E' || d(h + 2) != 'A' ||
      d(h + 3) != 'P') return None
    val dataAddr = Bytes.le64(d, h + 24)
    val segSize = Bytes.le64(d, h + 8)
    if (offset < 0 || offset >= segSize ||
      !r.check(dataAddr + offset, 1)) return None
    var p = (dataAddr + offset).toInt
    val sb = new StringBuilder
    while (p < d.length && d(p) != 0 && sb.length < 1024) {
      sb += (d(p) & 0xff).toChar
      p += 1
    }
    if (p >= d.length) return None
    Some(sb.toString)
  }

  /** Group B-tree v1 (node type 0) walk → (heapOffsetOfName,
    * objectHeaderAddr) pairs via SNODs, recursing internal levels. */
  private def groupEntries(r: Rd, btAddr: Long, heapAddr: Long,
      seen: scala.collection.mutable.Set[Long])
      : Option[Seq[(Long, Long)]] = {
    if (!seen.add(btAddr)) return None
    val d = r.d
    if (!r.check(btAddr, 24)) return None
    val b = btAddr.toInt
    if (d(b) != 'T' || d(b + 1) != 'R' || d(b + 2) != 'E' ||
      d(b + 3) != 'E') return None
    if ((d(b + 4) & 0xff) != 0) return None // node type 0 = group
    val level = d(b + 5) & 0xff
    val n = Bytes.le16(d, b + 6)
    if (n > 4096) return None
    val out = Seq.newBuilder[(Long, Long)]
    // layout: 2k+1 keys interleaved with 2k children:
    // key0 child0 key1 child1 … key_n
    var p = b + 24 + 8 // skip key0
    var i = 0
    while (i < n) {
      if (!r.check(p.toLong, 16)) return None
      val child = Bytes.le64(d, p)
      if (level > 0) {
        out ++= groupEntries(r, child, heapAddr, seen)
          .getOrElse(return None)
      } else {
        // SNOD
        if (!r.check(child, 8)) return None
        val s = child.toInt
        if (d(s) != 'S' || d(s + 1) != 'N' || d(s + 2) != 'O' ||
          d(s + 3) != 'D') return None
        val nSyms = Bytes.le16(d, s + 6)
        if (nSyms > 4096 || !r.check(child + 8, nSyms * 40L))
          return None
        var j = 0
        while (j < nSyms) {
          val e = s + 8 + j * 40
          out += ((Bytes.le64(d, e), Bytes.le64(d, e + 8)))
          j += 1
        }
      }
      p += 16 // child + next key
      i += 1
    }
    Some(out.result())
  }

  /** Chunk B-tree v1 (node type 1) walk → (logicalOffsets,
    * storedSize, filterMask, dataAddr). */
  private def chunkEntries(r: Rd, btAddr: Long, rank: Int,
      seen: scala.collection.mutable.Set[Long])
      : Option[Seq[(Seq[Long], Int, Long, Long)]] = {
    if (btAddr == Undef) return Some(Seq.empty) // no chunks written
    if (!seen.add(btAddr)) return None
    val d = r.d
    if (!r.check(btAddr, 24)) return None
    val b = btAddr.toInt
    if (d(b) != 'T' || d(b + 1) != 'R' || d(b + 2) != 'E' ||
      d(b + 3) != 'E') return None
    if ((d(b + 4) & 0xff) != 1) return None // node type 1 = chunks
    val level = d(b + 5) & 0xff
    val n = Bytes.le16(d, b + 6)
    if (n > 65536) return None
    val keySize = 8 + 8 * (rank + 1) // size+mask + (rank+1) offsets
    val out = Seq.newBuilder[(Seq[Long], Int, Long, Long)]
    var p = b + 24
    var i = 0
    while (i < n) {
      if (!r.check(p.toLong, keySize.toLong + 8)) return None
      val size = Bytes.le32u(d, p).toInt
      val mask = Bytes.le32u(d, p + 4)
      val offs = (0 until rank).map(k => Bytes.le64(d, p + 8 + 8 * k))
      val child = Bytes.le64(d, p + keySize)
      if (level > 0)
        out ++= chunkEntries(r, child, rank, seen)
          .getOrElse(return None)
      else
        out += ((offs, size, mask, child))
      p += keySize + 8
      i += 1
    }
    Some(out.result())
  }

  private def inflate(data: Array[Byte], off: Int, len: Int,
      want: Int): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(data, off, len)
      val out = new Array[Byte](want)
      var done = 0
      while (done < want && !inf.finished()) {
        val n = inf.inflate(out, done, want - done)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return None
        done += n
      }
      if (done != want) None else Some(out)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Bomb guard for grid-driven chunk enumeration: unlike the v1
    * B-tree walk (bounded by the file's actual entries), the v4
    * implicit/fixed-array indexes enumerate the LOGICAL grid — a
    * crafted header with tiny chunks over huge dims must not
    * materialize it. */
  private final val MaxChunkGrid = 1L << 22

  /** Row-major chunk-grid offsets (element coordinates). */
  private def gridOffsets(grid: Seq[Long], cd: Seq[Int])
      : Seq[Seq[Long]] = {
    val total = grid.product
    require(total <= MaxChunkGrid, "chunk grid too large")
    (0L until total).map { lin =>
      var rem = lin
      val coords = new Array[Long](grid.length)
      var k = grid.length - 1
      while (k >= 0) {
        coords(k) = (rem % grid(k)) * cd(k)
        rem /= grid(k)
        k -= 1
      }
      coords.toSeq
    }
  }

  /** The v4 FIXED ARRAY chunk index (spec IV.A.2: "FAHD" header +
    * "FADB" data block, lookup3-checksummed): entries in row-major
    * grid order — address only (client 0, unfiltered) or
    * address + stored size + filter mask (client 1). PAGED data
    * blocks (> 2^pageBits entries, r14): prefix + page-init
    * bitmask (H5VM MSB-first) with its own checksum, then pages of
    * 2^pageBits entries (last partial), each page checksummed —
    * uninitialized pages' chunks are absent, never mis-read. */
  private def fixedArrayEntries(r: Rd, hdrAddr: Long,
      grid: Seq[Long], cd: Seq[Int], chunkBytes: Int,
      filtered: Boolean)
      : Option[Seq[(Seq[Long], Int, Long, Long)]] = {
    if (hdrAddr == Undef) return Some(Seq.empty)
    val d = r.d
    if (!r.check(hdrAddr, 28)) return None
    val h = hdrAddr.toInt
    if (d(h) != 'F' || d(h + 1) != 'A' || d(h + 2) != 'H' ||
      d(h + 3) != 'D') return None
    if ((d(h + 4) & 0xff) != 0) return None // version
    val clientId = d(h + 5) & 0xff
    if (clientId != (if (filtered) 1 else 0)) return None
    val entrySize = d(h + 6) & 0xff
    val pageBits = d(h + 7) & 0xff
    val maxEntries = Bytes.le64(d, h + 8)
    val dbAddr = Bytes.le64(d, h + 16)
    if (Bytes.le32u(d, h + 24) != lookup3(d, h, 24)) return None
    val nChunks = grid.product
    if (maxEntries != nChunks) return None
    if (nChunks > (1L << 22)) return None // crafted-grid bomb
    if (pageBits < 1 || pageBits > 62) return None
    if (entrySize < 8 || entrySize > 32) return None
    if (dbAddr == Undef) return Some(Seq.empty)
    val paged = maxEntries > (1L << pageBits)
    val pageElems = 1L << pageBits
    val npages =
      if (paged) (maxEntries + pageElems - 1) / pageElems else 0L
    val bmpBytes = if (paged) (npages + 7) / 8 else 0L
    val preLen = 14L + bmpBytes // sig..hdrAddr + page-init bitmask
    val dbLen =
      if (!paged) 14L + maxEntries * entrySize + 4
      else preLen + 4 + (0L until npages).map { p =>
        math.min(pageElems, maxEntries - p * pageElems) *
          entrySize + 4
      }.sum
    if (!r.check(dbAddr, dbLen)) return None
    val b = dbAddr.toInt
    if (d(b) != 'F' || d(b + 1) != 'A' || d(b + 2) != 'D' ||
      d(b + 3) != 'B') return None
    if ((d(b + 4) & 0xff) != 0) return None
    if ((d(b + 5) & 0xff) != clientId) return None
    if (Bytes.le64(d, b + 6) != hdrAddr) return None
    if (!paged) {
      if (Bytes.le32u(d, (dbAddr + dbLen - 4).toInt) !=
        lookup3(d, b, (dbLen - 4).toInt)) return None
    } else {
      // prefix (incl. bitmask) carries its own checksum
      if (Bytes.le32u(d, (dbAddr + preLen).toInt) !=
        lookup3(d, b, preLen.toInt)) return None
    }
    // page base offsets + lazy per-page checksum verification
    val pageBase = new Array[Long](math.max(npages.toInt, 0))
    if (paged) {
      var acc = dbAddr + preLen + 4
      var p = 0
      while (p < npages) {
        pageBase(p) = acc
        acc += math.min(pageElems, maxEntries - p * pageElems) *
          entrySize + 4
        p += 1
      }
    }
    val pageOk = new Array[Int](math.max(npages.toInt, 0)) // 0 =
    // unchecked, 1 = verified
    def entryAt(i: Long): Option[Int] =
      if (!paged) Some((b + 14 + i * entrySize).toInt)
      else {
        val p = (i / pageElems).toInt
        val bit = b + 14 + p / 8
        if (((d(bit) >> (7 - (p % 8))) & 1) == 0)
          return Some(-1) // page never written
        if (pageOk(p) == 0) {
          val pLen = math.min(pageElems,
            maxEntries - p.toLong * pageElems) * entrySize
          if (Bytes.le32u(d, (pageBase(p) + pLen).toInt) !=
            lookup3(d, pageBase(p).toInt, pLen.toInt)) return None
          pageOk(p) = 1
        }
        Some((pageBase(p) + (i % pageElems) * entrySize).toInt)
      }
    val offs = gridOffsets(grid, cd)
    val out = Seq.newBuilder[(Seq[Long], Int, Long, Long)]
    var i = 0L
    while (i < maxEntries) {
      val eOpt = entryAt(i).getOrElse(return None)
      if (eOpt >= 0) {
        val e = eOpt
        val addr = Bytes.le64(d, e)
        if (addr != Undef) {
          val (stored, mask) =
            if (clientId == 1) {
              val szBytes = entrySize - 12
              var sz = 0L
              var j = 0
              while (j < szBytes) { sz |= (d(e + 8 + j) & 0xffL) <<
                (8 * j); j += 1 }
              (sz.toInt, Bytes.le32u(d, e + 8 + szBytes))
            } else (chunkBytes, 0L)
          out += ((offs(i.toInt), stored, mask, addr))
        }
      }
      i += 1
    }
    Some(out.result())
  }

  /** The v4 EXTENSIBLE ARRAY chunk index (spec III.B: "EAHD"
    * header → "EAIB" index block → "EADB" data blocks; what h5py
    * writes for datasets with ONE unlimited `maxshape` dimension —
    * the appendable embeddings-dump shape). The index block holds
    * the first `idxBlkElems` elements directly plus the data-block
    * addresses of the first `2·log2(sblkMinDataPtrs)` super blocks
    * (super block s: `2^(s/2)` blocks of `2^((s+1)/2)·minElems`
    * elements); deeper growth (r14) walks SECONDARY blocks
    * ("EASB": per-super-block data-block address tables + the
    * page-init bitmap, H5VM MSB-first bit order) and PAGED data
    * blocks (prefix + per-page element runs, each page with its
    * own checksum; an uninitialized page's chunks are absent, a
    * corrupt one rejects). Elements: chunk address (client 0) or
    * address + stored size + filter mask (client 1), in row-major
    * chunk-grid order like the fixed array. */
  private def extArrayEntries(r: Rd, hdrAddr: Long,
      grid: Seq[Long], cd: Seq[Int], chunkBytes: Int,
      filtered: Boolean)
      : Option[Seq[(Seq[Long], Int, Long, Long)]] = {
    if (hdrAddr == Undef) return Some(Seq.empty)
    val d = r.d
    if (!r.check(hdrAddr, 72)) return None
    val h = hdrAddr.toInt
    if (d(h) != 'E' || d(h + 1) != 'A' || d(h + 2) != 'H' ||
      d(h + 3) != 'D') return None
    if ((d(h + 4) & 0xff) != 0) return None // version
    val clientId = d(h + 5) & 0xff
    if (clientId != (if (filtered) 1 else 0)) return None
    val elemSize = d(h + 6) & 0xff
    val maxBits = d(h + 7) & 0xff
    val idxBlkElems = d(h + 8) & 0xff
    val minElems = d(h + 9) & 0xff
    val minPtrs = d(h + 10) & 0xff
    val pageBits = d(h + 11) & 0xff
    // 6 × u64 stats skipped (reader derives everything), then the
    // index block address
    val iblkAddr = Bytes.le64(d, h + 60)
    if (Bytes.le32u(d, h + 68) != lookup3(d, h, 68)) return None
    if (elemSize < 8 || elemSize > 32) return None
    if (maxBits < 1 || maxBits > 64) return None
    if (minElems < 1 || !isPow2(minElems)) return None
    if (minPtrs < 2 || !isPow2(minPtrs)) return None
    val arrOffSize = (maxBits + 7) / 8
    val nChunks = grid.product
    if (nChunks > (1L << 22)) return None // crafted-grid bomb
    if (iblkAddr == Undef) return Some(Seq.empty)
    // super-block geometry (the H5EA scheme)
    val nsblksTotal = 1 + (maxBits - log2of2(minElems))
    val iblkNsblks = math.min(2 * log2of2(minPtrs), nsblksTotal)
    val ndblkAddrs = (0 until iblkNsblks).map(s => 1L << (s / 2)).sum
    val nsblkAddrs = nsblksTotal - iblkNsblks
    val sblkStartIdx = new Array[Long](nsblksTotal)
    val sblkStartDblk = new Array[Long](nsblksTotal)
    var accIdx = 0L
    var accDblk = 0L
    (0 until nsblksTotal).foreach { s =>
      sblkStartIdx(s) = accIdx
      sblkStartDblk(s) = accDblk
      accIdx += (1L << (s / 2)) * ((1L << ((s + 1) / 2)) * minElems)
      accDblk += 1L << (s / 2)
    }
    // index block
    val iblkLen = 14L + idxBlkElems.toLong * elemSize +
      (ndblkAddrs + nsblkAddrs) * 8L + 4L
    if (!r.check(iblkAddr, iblkLen)) return None
    val ib = iblkAddr.toInt
    if (d(ib) != 'E' || d(ib + 1) != 'A' || d(ib + 2) != 'I' ||
      d(ib + 3) != 'B') return None
    if ((d(ib + 4) & 0xff) != 0 ||
      (d(ib + 5) & 0xff) != clientId) return None
    if (Bytes.le64(d, ib + 6) != hdrAddr) return None
    if (Bytes.le32u(d, (iblkAddr + iblkLen - 4).toInt) !=
      lookup3(d, ib, (iblkLen - 4).toInt)) return None
    val elemsOff = ib + 14
    val dblkAddrsOff = elemsOff + idxBlkElems * elemSize
    val sblkAddrsOff = dblkAddrsOff + ndblkAddrs.toInt * 8
    val pageElems = 1L << pageBits
    def decodeElem(at: Int): Option[(Long, Int, Long)] = {
      val addr = Bytes.le64(d, at)
      if (addr == Undef) None
      else if (clientId == 1) {
        val szBytes = elemSize - 12
        var sz = 0L
        var j = 0
        while (j < szBytes) {
          sz |= (d(at + 8 + j) & 0xffL) << (8 * j); j += 1 }
        Some((addr, sz.toInt, Bytes.le32u(d, at + 8 + szBytes)))
      } else Some((addr, chunkBytes, 0L))
    }
    // SECONDARY blocks ("EASB", r14): super block s ≥ iblkNsblks
    // keeps its data-block addresses (and, when those data blocks
    // are PAGED, the page-init bitmap — H5VM bit order, MSB first)
    // in its own block. Cache: s → (dblkAddrsOff, bitmapOff).
    final case class SblkInfo(dblkOff: Int, bmpOff: Int,
      ndblks: Long, npages: Long)
    // cache value None = sblock genuinely ABSENT (all its data
    // blocks unallocated); a malformed sblock returns outer None
    // so the whole index rejects instead of dropping chunks
    val sblkCache =
      scala.collection.mutable.Map[Int, Option[SblkInfo]]()
    def sblock(s: Int): Option[Option[SblkInfo]] =
      sblkCache.get(s).map(Some(_)).getOrElse {
        val slot = s - iblkNsblks
        if (slot < 0 || slot >= nsblkAddrs) return None
        val addr = Bytes.le64(d, sblkAddrsOff + slot * 8)
        if (addr == Undef) {
          sblkCache(s) = None
          return Some(None)
        }
        val ndblks = 1L << (s / 2)
        val nel = (1L << ((s + 1) / 2)) * minElems
        val npages = if (nel > pageElems) nel / pageElems else 0L
        val bmpBytes =
          if (npages > 0) (ndblks * npages + 7) / 8 else 0L
        val len = 14L + arrOffSize + bmpBytes + ndblks * 8L + 4L
        if (!r.check(addr, len)) return None
        val b = addr.toInt
        if (d(b) != 'E' || d(b + 1) != 'A' || d(b + 2) != 'S' ||
          d(b + 3) != 'B') return None
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != clientId) return None
        if (Bytes.le64(d, b + 6) != hdrAddr) return None
        var off = 0L
        var j = 0
        while (j < arrOffSize) {
          off |= (d(b + 14 + j) & 0xffL) << (8 * j); j += 1 }
        if (off != sblkStartIdx(s) + idxBlkElems) return None
        if (Bytes.le32u(d, (addr + len - 4).toInt) !=
          lookup3(d, b, (len - 4).toInt)) return None
        val bmpOff = b + 14 + arrOffSize
        val info = SblkInfo(bmpOff + bmpBytes.toInt, bmpOff,
          ndblks, npages)
        sblkCache(s) = Some(info)
        Some(Some(info))
      }
    // data blocks decode lazily, once each: value = element base
    // offset (unpaged), or the block address (paged; elements
    // resolve per page), or absent
    sealed trait Dblk
    case object DbAbsent extends Dblk
    final case class DbFlat(base: Int) extends Dblk
    final case class DbPaged(addr: Long, sblk: SblkInfo,
      dblkSlot: Long) extends Dblk
    val dblkCache = scala.collection.mutable.Map[Long, Option[Dblk]]()
    def dataBlock(dbIdx: Long, nelmts: Long, startAbs: Long,
        s: Int): Option[Dblk] = dblkCache.getOrElseUpdate(dbIdx, {
      val (addr, sbInfo) =
        if (dbIdx < ndblkAddrs)
          (Bytes.le64(d, dblkAddrsOff + dbIdx.toInt * 8), null)
        else {
          val sb = sblock(s).getOrElse(return None) match {
            case None => return Some(DbAbsent) // whole sblock absent
            case Some(x) => x
          }
          val slot = dbIdx - sblkStartDblk(s)
          if (slot < 0 || slot >= sb.ndblks) return None
          (Bytes.le64(d, sb.dblkOff + slot.toInt * 8), sb)
        }
      if (addr == Undef) Some(DbAbsent)
      else if (nelmts > pageElems) {
        // PAGED data block: prefix (no elements) + own checksum,
        // then npages × (pageElems·elemSize + checksum)
        if (sbInfo == null) return None // iblk-direct paged: never
        val preLen = 14L + arrOffSize
        if (!r.check(addr, preLen + 4)) return None
        val b = addr.toInt
        if (d(b) != 'E' || d(b + 1) != 'A' || d(b + 2) != 'D' ||
          d(b + 3) != 'B') return None
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != clientId) return None
        if (Bytes.le64(d, b + 6) != hdrAddr) return None
        var off = 0L
        var j = 0
        while (j < arrOffSize) {
          off |= (d(b + 14 + j) & 0xffL) << (8 * j); j += 1 }
        if (off != startAbs) return None
        if (Bytes.le32u(d, (addr + preLen).toInt) !=
          lookup3(d, b, preLen.toInt)) return None
        val npages = nelmts / pageElems
        val pagesLen = npages * (pageElems * elemSize + 4L)
        if (!r.check(addr + preLen + 4, pagesLen)) return None
        Some(DbPaged(addr + preLen + 4, sbInfo,
          dbIdx - sblkStartDblk(s)))
      } else {
        val len = 14L + arrOffSize + nelmts * elemSize + 4L
        if (!r.check(addr, len)) return None
        val b = addr.toInt
        if (d(b) != 'E' || d(b + 1) != 'A' || d(b + 2) != 'D' ||
          d(b + 3) != 'B') return None
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != clientId) return None
        if (Bytes.le64(d, b + 6) != hdrAddr) return None
        var off = 0L
        var j = 0
        while (j < arrOffSize) {
          off |= (d(b + 14 + j) & 0xffL) << (8 * j); j += 1 }
        if (off != startAbs) return None
        if (Bytes.le32u(d, (addr + len - 4).toInt) !=
          lookup3(d, b, (len - 4).toInt)) return None
        Some(DbFlat(b + 14 + arrOffSize))
      }
    })
    // verified pages, once each: (dblk base, page) → elems offset
    val pageCache =
      scala.collection.mutable.Map[(Long, Long), Option[Int]]()
    def pageBase(db: DbPaged, page: Long): Option[Int] =
      pageCache.getOrElseUpdate((db.addr, page), {
        // the sblock's page-init bitmap (MSB-first per byte): an
        // uninitialized page holds no elements
        val bit = db.dblkSlot * db.sblk.npages + page
        val by = d(db.sblk.bmpOff + (bit / 8).toInt) & 0xff
        if (((by >> (7 - (bit % 8)).toInt) & 1) == 0)
          return Some(-1) // page never written
        val pLen = pageElems * elemSize
        val at = db.addr + page * (pLen + 4L)
        if (!r.check(at, pLen + 4)) return None
        if (Bytes.le32u(d, (at + pLen).toInt) !=
          lookup3(d, at.toInt, pLen.toInt)) return None
        Some(at.toInt)
      })
    val offs = gridOffsets(grid, cd)
    val out = Seq.newBuilder[(Seq[Long], Int, Long, Long)]
    var i = 0L
    while (i < nChunks) {
      val loc: Option[(Long, Int, Long)] =
        if (i < idxBlkElems)
          decodeElem(elemsOff + i.toInt * elemSize)
        else {
          val u = i - idxBlkElems
          val s = log2gen(u / minElems + 1)
          if (s >= nsblksTotal) return None
          val nel = (1L << ((s + 1) / 2)) * minElems
          val dblkIdx = (u - sblkStartIdx(s)) / nel
          val inBlk = (u - sblkStartIdx(s)) % nel
          val startAbs = sblkStartIdx(s) + dblkIdx * nel +
            idxBlkElems
          dataBlock(sblkStartDblk(s) + dblkIdx, nel, startAbs, s)
            .getOrElse(return None) match {
            case DbAbsent => None // whole data block absent
            case DbFlat(base) =>
              decodeElem(base + (inBlk * elemSize).toInt)
            case dp: DbPaged =>
              pageBase(dp, inBlk / pageElems)
                .getOrElse(return None) match {
                case -1 => None // uninitialized page
                case base => decodeElem(base +
                  ((inBlk % pageElems) * elemSize).toInt)
              }
          }
        }
      loc.foreach { case (addr, stored, mask) =>
        out += ((offs(i.toInt), stored, mask, addr))
      }
      i += 1
    }
    Some(out.result())
  }

  private def isPow2(n: Int): Boolean = n > 0 && (n & (n - 1)) == 0
  private def log2of2(n: Int): Int =
    java.lang.Integer.numberOfTrailingZeros(n)
  private def log2gen(n: Long): Int =
    if (n <= 0) 0 else 63 - java.lang.Long.numberOfLeadingZeros(n)
  /** H5VM_limit_enc_size: bytes needed to encode values ≤ limit. */
  private def encSize(limit: Long): Int = log2gen(limit) / 8 + 1

  /** Generic VERSION 2 B-TREE walk returning RAW record bytes in
    * tree order ("BTHD" header, "BTIN"/"BTLF" nodes — the same
    * H5B2 geometry as [[btree2Entries]], record layout left to the
    * caller). Used for the dense-link NAME index (record type 5:
    * u32 name hash + fractal-heap id). */
  private def btree2RawRecords(r: Rd, hdrAddr: Long, recType: Int,
      expRecSize: Int): Option[Seq[Array[Byte]]] = {
    if (hdrAddr == Undef) return Some(Seq.empty)
    val d = r.d
    if (!r.check(hdrAddr, 38)) return None
    val h = hdrAddr.toInt
    if (d(h) != 'B' || d(h + 1) != 'T' || d(h + 2) != 'H' ||
      d(h + 3) != 'D') return None
    if ((d(h + 4) & 0xff) != 0) return None // version
    if ((d(h + 5) & 0xff) != recType) return None
    val nodeSize = Bytes.le32u(d, h + 6)
    val recSize = (d(h + 10) & 0xff) | ((d(h + 11) & 0xff) << 8)
    val depth = (d(h + 12) & 0xff) | ((d(h + 13) & 0xff) << 8)
    val rootAddr = Bytes.le64(d, h + 16)
    val rootNrec = (d(h + 24) & 0xff) | ((d(h + 25) & 0xff) << 8)
    val totalNrec = Bytes.le64(d, h + 26)
    if (Bytes.le32u(d, h + 34) != lookup3(d, h, 34)) return None
    if (nodeSize < 64 || nodeSize > (1 << 24)) return None
    if (depth > 16) return None
    if (recSize != expRecSize) return None
    if (totalNrec > (1L << 20)) return None // crafted bomb
    val leafMax = ((nodeSize - 10) / recSize).toInt
    if (leafMax < 1) return None
    val maxNrecSize = encSize(leafMax.toLong)
    val cum = new Array[Long](depth + 1)
    val cumSize = new Array[Int](depth + 1)
    cum(0) = leafMax.toLong
    cumSize(0) = 0
    var u = 1
    while (u <= depth) {
      val ptr = 8 + maxNrecSize + cumSize(u - 1)
      val intMax = ((nodeSize - (10 + ptr)) / (recSize + ptr)).toInt
      if (intMax < 1) return None
      cum(u) = (intMax + 1).toLong * cum(u - 1) + intMax
      cumSize(u) = encSize(cum(u))
      u += 1
    }
    val out = Seq.newBuilder[Array[Byte]]
    var seen = 0L
    def walk(addr: Long, nrec: Int, dep: Int, budget: Int)
        : Boolean = {
      if (budget <= 0 || nrec < 0) return false
      if (addr == Undef) return nrec == 0
      if (dep == 0) {
        val used = 6L + nrec.toLong * recSize
        if (nrec > leafMax || !r.check(addr, used + 4)) return false
        val b = addr.toInt
        if (d(b) != 'B' || d(b + 1) != 'T' || d(b + 2) != 'L' ||
          d(b + 3) != 'F') return false
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != recType) return false
        if (Bytes.le32u(d, (addr + used).toInt) !=
          lookup3(d, b, used.toInt)) return false
        var i = 0
        while (i < nrec) {
          out += java.util.Arrays.copyOfRange(d,
            b + 6 + i * recSize, b + 6 + (i + 1) * recSize)
          seen += 1
          i += 1
        }
        true
      } else {
        val ptrSize = 8 + maxNrecSize +
          (if (dep > 1) cumSize(dep - 1) else 0)
        val used = 6L + nrec.toLong * recSize +
          (nrec + 1).toLong * ptrSize
        if (!r.check(addr, used + 4)) return false
        val b = addr.toInt
        if (d(b) != 'B' || d(b + 1) != 'T' || d(b + 2) != 'I' ||
          d(b + 3) != 'N') return false
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != recType) return false
        if (Bytes.le32u(d, (addr + used).toInt) !=
          lookup3(d, b, used.toInt)) return false
        val ptrs0 = b + 6 + nrec * recSize
        var i = 0
        while (i <= nrec) {
          val p0 = ptrs0 + i * ptrSize
          val cAddr = Bytes.le64(d, p0)
          var cNrec = 0L
          var j = 0
          while (j < maxNrecSize) {
            cNrec |= (d(p0 + 8 + j) & 0xffL) << (8 * j); j += 1 }
          if (cNrec > Int.MaxValue) return false
          if (!walk(cAddr, cNrec.toInt, dep - 1, budget - 1))
            return false
          if (i < nrec) {
            out += java.util.Arrays.copyOfRange(d,
              b + 6 + i * recSize, b + 6 + (i + 1) * recSize)
            seen += 1
          }
          i += 1
        }
        true
      }
    }
    if (!walk(rootAddr, rootNrec, depth, 64)) return None
    if (seen != totalNrec) return None
    Some(out.result())
  }

  /** DENSE link storage (late r14, spec IV.A.1 fractal heap +
    * IV.A.2 v2 b-tree): resolve every link of a group whose Link
    * Info message carries a fractal-heap address. The NAME-index
    * b-tree (record type 5: u32 lookup3 name hash + 7-byte managed
    * heap id) enumerates the links; each heap id resolves through
    * the heap's doubling table into a direct block, where the
    * object bytes are one serialized link message. Managed objects
    * only (links are never huge/tiny at 4096-byte name caps);
    * filtered heaps, indirect-block recursion past the direct rows
    * and checksum failures all reject — never mis-read. */
  private def denseLinks(d: Array[Byte], fheapAddr: Long,
      btAddr: Long): Option[Seq[(String, Long)]] = {
    val r = new Rd(d)
    if (fheapAddr == Undef || btAddr == Undef) return None
    if (!r.check(fheapAddr, 146)) return None
    val h = fheapAddr.toInt
    if (d(h) != 'F' || d(h + 1) != 'R' || d(h + 2) != 'H' ||
      d(h + 3) != 'P') return None
    if ((d(h + 4) & 0xff) != 0) return None // version
    val idLen = Bytes.le16(d, h + 5)
    val ioFilterLen = Bytes.le16(d, h + 7)
    if (ioFilterLen != 0) return None // link heaps never filter
    val flags = d(h + 9) & 0xff
    val maxObj = Bytes.le32u(d, h + 10)
    val nManaged = Bytes.le64(d, h + 14 + 8 * 7)
    val tblWidth = Bytes.le16(d, h + 110)
    val startSize = Bytes.le64(d, h + 112)
    val maxDirect = Bytes.le64(d, h + 120)
    val maxHeapBits = Bytes.le16(d, h + 128)
    val rootAddr = Bytes.le64(d, h + 132)
    val curRows = Bytes.le16(d, h + 140)
    if (Bytes.le32u(d, h + 142) != lookup3(d, h, 142)) return None
    if (tblWidth < 1 || tblWidth > 1024) return None
    if (startSize < 256 || maxDirect < startSize ||
      maxDirect > (1L << 24) ||
      java.lang.Long.bitCount(startSize) != 1 ||
      java.lang.Long.bitCount(maxDirect) != 1) return None
    if (maxHeapBits < 1 || maxHeapBits > 64) return None
    if (maxObj < 1 || maxObj > (1L << 24)) return None
    if (nManaged > (1L << 20)) return None
    val offBytes = (maxHeapBits + 7) / 8
    val lenBytes = encSize(maxObj)
    if (idLen != 1 + offBytes + lenBytes) return None
    val ckDblocks = (flags & 0x02) != 0
    val prefix = 4 + 1 + 8 + offBytes + (if (ckDblocks) 4 else 0)
    val maxDirectRows = (63 - java.lang.Long
      .numberOfLeadingZeros(maxDirect)) -
      (63 - java.lang.Long.numberOfLeadingZeros(startSize)) + 2
    def rowSize(row: Int): Long =
      if (row < 2) startSize else startSize << (row - 1)
    /** Direct block at `addr` covering heap offset `expOff`:
      * signature/version/back-pointer/offset/checksum must all
      * agree or the block is rejected. */
    def checkDirect(addr: Long, expOff: Long, size: Long)
        : Boolean = {
      if (size > (1L << 24) || !r.in(addr, size)) return false
      val b = addr.toInt
      if (d(b) != 'F' || d(b + 1) != 'H' || d(b + 2) != 'D' ||
        d(b + 3) != 'B') return false
      if ((d(b + 4) & 0xff) != 0) return false
      if (Bytes.le64(d, b + 5) != fheapAddr) return false
      var off = 0L
      var j = 0
      while (j < offBytes) {
        off |= (d(b + 13 + j) & 0xffL) << (8 * j); j += 1 }
      if (off != expOff) return false
      if (ckDblocks) {
        val copy = java.util.Arrays.copyOfRange(d, b,
          b + size.toInt)
        val ckAt = 13 + offBytes
        val stored = Bytes.le32u(d, b + ckAt)
        java.util.Arrays.fill(copy, ckAt, ckAt + 4, 0.toByte)
        if (stored != lookup3(copy, 0, copy.length)) return false
      }
      true
    }
    // (heap offset, file addr, size) per direct block
    val blocks = Seq.newBuilder[(Long, Long, Long)]
    if (rootAddr != Undef) {
      if (curRows == 0) {
        // root IS a direct block; libhdf5 keeps it at the starting
        // block size — if checksummed, a doubled root is still
        // found by widening until the checksum matches
        var size = startSize
        var found = checkDirect(rootAddr, 0L, size)
        while (!found && ckDblocks && size < maxDirect) {
          size *= 2
          found = checkDirect(rootAddr, 0L, size)
        }
        if (!found) return None
        blocks += ((0L, rootAddr, size))
      } else {
        // root indirect block: direct rows only (a link heap deep
        // enough for indirect children would exceed any real
        // directory; reject rather than guess)
        if (curRows > maxDirectRows) return None
        val ibPrefix = 4 + 1 + 8 + offBytes
        val nEntries = curRows * tblWidth
        val used = ibPrefix.toLong + nEntries.toLong * 8
        if (!r.check(rootAddr, used + 4)) return None
        val ib = rootAddr.toInt
        if (d(ib) != 'F' || d(ib + 1) != 'H' || d(ib + 2) != 'I' ||
          d(ib + 3) != 'B') return None
        if ((d(ib + 4) & 0xff) != 0) return None
        if (Bytes.le64(d, ib + 5) != fheapAddr) return None
        var j = 0
        var bOff = 0L
        while (j < offBytes) {
          bOff |= (d(ib + 13 + j) & 0xffL) << (8 * j); j += 1 }
        if (bOff != 0L) return None
        if (Bytes.le32u(d, (rootAddr + used).toInt) !=
          lookup3(d, ib, used.toInt)) return None
        var rowStart = 0L
        var row = 0
        while (row < curRows) {
          val sz = rowSize(row)
          var c = 0
          while (c < tblWidth) {
            val a = Bytes.le64(d, ib + ibPrefix + (row * tblWidth + c) * 8)
            if (a != Undef) {
              val off = rowStart + c * sz
              if (!checkDirect(a, off, sz)) return None
              blocks += ((off, a, sz))
            }
            c += 1
          }
          rowStart += tblWidth * sz
          row += 1
        }
      }
    }
    val blks = blocks.result()
    val recs = btree2RawRecords(r, btAddr, 5, 4 + idLen)
      .getOrElse(return None)
    if (recs.length.toLong != nManaged) return None
    val out = Seq.newBuilder[(String, Long)]
    recs.foreach { rec =>
      val b0 = rec(4) & 0xff
      // managed, id version 0 (huge/tiny links don't happen under
      // the 4096-byte name cap — reject, never mis-read)
      if ((b0 & 0xf0) != 0) return None
      var off = 0L
      var j = 0
      while (j < offBytes) {
        off |= (rec(5 + j) & 0xffL) << (8 * j); j += 1 }
      var len = 0L
      j = 0
      while (j < lenBytes) {
        len |= (rec(5 + offBytes + j) & 0xffL) << (8 * j); j += 1 }
      if (len < 3 || len > maxObj) return None
      val blk = blks.find(bl =>
        off >= bl._1 + prefix && off + len <= bl._1 + bl._3)
        .getOrElse(return None)
      val at = blk._2 + (off - blk._1)
      if (!r.in(at, len)) return None
      out += parseLinkBody(d, at.toInt, (at + len).toInt)
        .getOrElse(return None)
    }
    Some(out.result())
  }

  /** The v4 VERSION 2 B-TREE chunk index (spec III.A.2: "BTHD"
    * header, "BTIN" internal and "BTLF" leaf nodes; what h5py
    * writes for datasets with MORE THAN ONE unlimited dimension).
    * Record type 10 = unfiltered chunks (address + scaled offsets),
    * 11 = filtered (+ stored size + filter mask). Node checksums
    * cover the USED bytes only; child-pointer record counts encode
    * in `encSize(leaf capacity)` bytes and depth>1 pointers carry
    * cumulative totals — the H5B2 geometry, derived here from
    * (nodeSize, recordSize, depth) exactly as the library does. */
  private def btree2Entries(r: Rd, hdrAddr: Long, rank: Int,
      dims: Seq[Long], cd: Seq[Int], chunkBytes: Int,
      filtered: Boolean)
      : Option[Seq[(Seq[Long], Int, Long, Long)]] = {
    if (hdrAddr == Undef) return Some(Seq.empty)
    val d = r.d
    if (!r.check(hdrAddr, 38)) return None
    val h = hdrAddr.toInt
    if (d(h) != 'B' || d(h + 1) != 'T' || d(h + 2) != 'H' ||
      d(h + 3) != 'D') return None
    if ((d(h + 4) & 0xff) != 0) return None // version
    val recType = d(h + 5) & 0xff
    if (recType != (if (filtered) 11 else 10)) return None
    val nodeSize = Bytes.le32u(d, h + 6)
    val recSize = (d(h + 10) & 0xff) | ((d(h + 11) & 0xff) << 8)
    val depth = (d(h + 12) & 0xff) | ((d(h + 13) & 0xff) << 8)
    // split(1) + merge(1) percents — replay-irrelevant
    val rootAddr = Bytes.le64(d, h + 16)
    val rootNrec = (d(h + 24) & 0xff) | ((d(h + 25) & 0xff) << 8)
    val totalNrec = Bytes.le64(d, h + 26)
    if (Bytes.le32u(d, h + 34) != lookup3(d, h, 34)) return None
    if (nodeSize < 64 || nodeSize > (1 << 24)) return None
    if (depth > 16) return None
    val minRec = 8 + 8 * rank
    if (recSize < minRec || recSize > 4096) return None
    val szBytes = recSize - 8 - 4 - 8 * rank // filtered only
    if (filtered && (szBytes < 1 || szBytes > 8)) return None
    if (!filtered && recSize != minRec) return None
    if (totalNrec > (1L << 22)) return None // crafted bomb
    // node capacities (H5B2 geometry)
    val leafMax = ((nodeSize - 10) / recSize).toInt
    if (leafMax < 1) return None
    val maxNrecSize = encSize(leafMax.toLong)
    val cum = new Array[Long](depth + 1)
    val cumSize = new Array[Int](depth + 1)
    cum(0) = leafMax.toLong
    cumSize(0) = 0
    var u = 1
    while (u <= depth) {
      val ptr = 8 + maxNrecSize + cumSize(u - 1)
      val intMax = ((nodeSize - (10 + ptr)) / (recSize + ptr)).toInt
      if (intMax < 1) return None
      cum(u) = (intMax + 1).toLong * cum(u - 1) + intMax
      cumSize(u) = encSize(cum(u))
      u += 1
    }
    val out = Seq.newBuilder[(Seq[Long], Int, Long, Long)]
    var seen = 0L
    def record(at: Int): Boolean = {
      val addr = Bytes.le64(d, at)
      val (stored, mask, offBase) =
        if (filtered) {
          var sz = 0L
          var j = 0
          while (j < szBytes) {
            sz |= (d(at + 8 + j) & 0xffL) << (8 * j); j += 1 }
          (sz.toInt, Bytes.le32u(d, at + 8 + szBytes),
            at + 8 + szBytes + 4)
        } else (chunkBytes, 0L, at + 8)
      val offs = (0 until rank).map { k =>
        val scaled = Bytes.le64(d, offBase + k * 8)
        if (scaled < 0 || scaled > Long.MaxValue / cd(k))
          return false
        scaled * cd(k)
      }
      out += ((offs, stored, mask, addr))
      seen += 1
      true
    }
    def walk(addr: Long, nrec: Int, dep: Int, budget: Int)
        : Boolean = {
      if (budget <= 0 || nrec < 0) return false
      if (addr == Undef) return nrec == 0
      if (dep == 0) {
        val used = 6L + nrec.toLong * recSize
        if (nrec > leafMax || !r.check(addr, used + 4)) return false
        val b = addr.toInt
        if (d(b) != 'B' || d(b + 1) != 'T' || d(b + 2) != 'L' ||
          d(b + 3) != 'F') return false
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != recType) return false
        if (Bytes.le32u(d, (addr + used).toInt) !=
          lookup3(d, b, used.toInt)) return false
        var i = 0
        while (i < nrec) {
          if (!record(b + 6 + i * recSize)) return false
          i += 1
        }
        true
      } else {
        val ptrSize = 8 + maxNrecSize +
          (if (dep > 1) cumSize(dep - 1) else 0)
        val used = 6L + nrec.toLong * recSize +
          (nrec + 1).toLong * ptrSize
        if (!r.check(addr, used + 4)) return false
        val b = addr.toInt
        if (d(b) != 'B' || d(b + 1) != 'T' || d(b + 2) != 'I' ||
          d(b + 3) != 'N') return false
        if ((d(b + 4) & 0xff) != 0 ||
          (d(b + 5) & 0xff) != recType) return false
        if (Bytes.le32u(d, (addr + used).toInt) !=
          lookup3(d, b, used.toInt)) return false
        val ptrs0 = b + 6 + nrec * recSize
        var i = 0
        while (i <= nrec) {
          val p0 = ptrs0 + i * ptrSize
          val cAddr = Bytes.le64(d, p0)
          var cNrec = 0L
          var j = 0
          while (j < maxNrecSize) {
            cNrec |= (d(p0 + 8 + j) & 0xffL) << (8 * j); j += 1 }
          if (!walk(cAddr, cNrec.toInt, dep - 1, budget - 1))
            return false
          // the separator record AFTER child i (except past-last)
          if (i < nrec && !record(b + 6 + i * recSize))
            return false
          i += 1
        }
        true
      }
    }
    if (!walk(rootAddr, rootNrec, depth, 1 << 20)) return None
    if (seen != totalNrec) return None
    // every decoded offset must land on the chunk grid in range
    val res = out.result()
    if (res.exists { case (offs, _, _, _) =>
      offs.zipWithIndex.exists { case (o, k) =>
        o < 0 || o >= dims(k) || o % cd(k) != 0 }
    }) return None
    Some(res)
  }

  /** Assemble a dataset's element bytes from its layout. */
  private def datasetBytes(r: Rd, info: ObjInfo): Option[Array[Byte]] = {
    val dt = info.dtype.getOrElse(return None)
    val lay = info.layout.getOrElse(return None)
    var elems = 1L
    info.dims.foreach { x =>
      if (x < 0) return None
      elems *= x
      if (elems > MaxElems) return None
    }
    val want = (elems * dt.size).toInt
    if (info.unsupportedFilter) return None // szip/nbit/… present
    lay.clazz match {
      case 0 =>
        if (lay.compact.length != want) return None
        Some(lay.compact)
      case 1 =>
        if (lay.addr == Undef && want == 0)
          return Some(Array.emptyByteArray)
        if (!r.check(lay.addr, want.toLong)) return None
        Some(java.util.Arrays.copyOfRange(r.d, lay.addr.toInt,
          lay.addr.toInt + want))
      case 2 =>
        val rank = info.dims.length
        if (lay.chunkDims.length != rank) return None
        if (lay.chunkDims.exists(_ <= 0)) return None
        var chunkElems = 1L
        lay.chunkDims.foreach { c =>
          chunkElems *= c
          if (chunkElems * dt.size > (1L << 26)) return None
        }
        val chunkBytes = (chunkElems * dt.size).toInt
        val grid = info.dims.zip(lay.chunkDims).map {
          case (s, c) => (s + c - 1) / c }
        val entries = (lay.chunkIndex match {
          case 0 => chunkEntries(r, lay.addr, rank,
            scala.collection.mutable.Set.empty)
          case 1 => // v4 single chunk
            if (grid.exists(_ > 1)) None
            else if (lay.addr == Undef) Some(Seq.empty)
            else Some(Seq((Seq.fill(rank)(0L),
              if (lay.size > 0) lay.size.toInt else chunkBytes,
              0L, lay.addr)))
          case 2 => // v4 implicit: contiguous row-major, unfiltered
            if (info.pipeline.nonEmpty) None
            else if (lay.addr == Undef) Some(Seq.empty)
            else if (grid.product > (1L << 22)) None // crafted bomb
            else Some(gridOffsets(grid, lay.chunkDims).zipWithIndex
              .map { case (offs, i) =>
                (offs, chunkBytes, 0L,
                  lay.addr + i.toLong * chunkBytes) })
          case 3 => // v4 fixed array
            fixedArrayEntries(r, lay.addr, grid, lay.chunkDims,
              chunkBytes, filtered = info.pipeline.nonEmpty)
          case 4 => // v4 extensible array (one unlimited dim)
            extArrayEntries(r, lay.addr, grid, lay.chunkDims,
              chunkBytes, filtered = info.pipeline.nonEmpty)
          case 5 => // v4 version-2 b-tree (several unlimited dims)
            btree2Entries(r, lay.addr, rank, info.dims,
              lay.chunkDims, chunkBytes,
              filtered = info.pipeline.nonEmpty)
          case _ => None
        }).getOrElse(return None)
        val out = new Array[Byte](want)
        entries.foreach { case (offs, stored, mask, addr) =>
          if (mask != 0L) return None // partially-filtered chunks
          if (offs.length != rank) return None
          // chunk offsets must be in-range multiples of the chunk
          // dims — a corrupted key must not scatter out of bounds
          var k0 = 0
          while (k0 < rank) {
            if (offs(k0) < 0 || offs(k0) >= info.dims(k0) ||
              offs(k0) % lay.chunkDims(k0) != 0) return None
            k0 += 1
          }
          if (!r.check(addr, stored.toLong)) return None
          val storedBytes = java.util.Arrays.copyOfRange(r.d,
            addr.toInt, addr.toInt + stored)
          val raw =
            if (info.pipeline.isEmpty) {
              if (stored != chunkBytes) return None
              storedBytes
            } else unfilterChunk(storedBytes, info.pipeline,
              chunkBytes, dt.size).getOrElse(return None)
          scatter(raw, out, lay.chunkDims, info.dims, offs, dt.size)
        }
        Some(out)
      case _ => None
    }
  }

  /** Copy one full-size chunk into the logical C-order array,
    * clipping at the logical bounds. */
  private def scatter(raw: Array[Byte], out: Array[Byte],
      cd: Seq[Int], dims: Seq[Long], offs: Seq[Long],
      esz: Int): Unit = {
    val rank = dims.length
    if (rank == 0) return
    // iterate over all chunk rows of the innermost dimension
    val inner = cd(rank - 1)
    val innerN = math.max(0L,
      math.min(inner.toLong, dims(rank - 1) - offs(rank - 1)))
    if (innerN <= 0) return
    val idx = new Array[Long](rank - 1)
    var done = false
    while (!done) {
      // bounds check for the outer dims
      var inBounds = true
      var k = 0
      while (k < rank - 1) {
        if (offs(k) + idx(k) >= dims(k)) inBounds = false
        k += 1
      }
      if (inBounds) {
        var src = 0L
        k = 0
        while (k < rank - 1) {
          src = src * cd(k) + idx(k); k += 1
        }
        src = src * inner
        var dst = 0L
        k = 0
        while (k < rank - 1) {
          dst = dst * dims(k) + (offs(k) + idx(k)); k += 1
        }
        dst = dst * dims(rank - 1) + offs(rank - 1)
        System.arraycopy(raw, (src * esz).toInt, out,
          (dst * esz).toInt, (innerN * esz).toInt)
      }
      // advance the outer index vector (odometer)
      var k2 = rank - 2
      done = true
      while (k2 >= 0 && done) {
        idx(k2) += 1
        if (idx(k2) < cd(k2)) done = false
        else { idx(k2) = 0; k2 -= 1 }
      }
      if (rank == 1) done = true
    }
  }

  /** Read every dataset in the file (recursing groups). None on any
    * malformation or unsupported feature. */
  def read(data: Array[Byte]): Option[Seq[Dataset]] = {
    if (data.length < 48) return None
    var i = 0
    while (i < 8) { if (data(i) != Sig(i)) return None; i += 1 }
    val sbVer = data(8) & 0xff
    val r = new Rd(data)
    val rootOha = sbVer match {
      case 0 =>
        if (data.length < 96) return None
        if ((data(13) & 0xff) != 8 || (data(14) & 0xff) != 8)
          return None // 8-byte offsets/lengths only
        // root symbol table entry at offset 56, oha 8 bytes in
        Bytes.le64(data, 56 + 8)
      case 2 | 3 =>
        // v2/v3: fixed 48-byte layout, lookup3-checksummed; the
        // root is addressed by OBJECT HEADER directly
        if ((data(9) & 0xff) != 8 || (data(10) & 0xff) != 8)
          return None
        if (Bytes.le32u(data, 44) != lookup3(data, 0, 44)) return None
        Bytes.le64(data, 36)
      case _ => return None // v1 (never written by libhdf5) rejects
    }
    val out = Seq.newBuilder[Dataset]
    val seenObj = scala.collection.mutable.Set[Long]()

    def walk(oha: Long, prefix: String, depth: Int): Boolean = {
      if (depth > 16 || !seenObj.add(oha)) return false
      val info = objectHeaderAny(r, oha).getOrElse(return false)
      if (info.v2Group) {
        // a v2 group: compact link-message children
        info.links.forall { case (name, childOha) =>
          walk(childOha, if (prefix.isEmpty) name
            else s"$prefix/$name", depth + 1)
        }
      } else info.group match {
        case Some((bt, heap)) =>
          val entries = groupEntries(r, bt, heap,
            scala.collection.mutable.Set.empty)
            .getOrElse(return false)
          entries.forall { case (nameOff, childOha) =>
            val name = heapString(r, heap, nameOff)
              .getOrElse(return false)
            walk(childOha, if (prefix.isEmpty) name
              else s"$prefix/$name", depth + 1)
          }
        case None =>
          // a dataset (or an object we can't read — reject)
          if (info.dtype.isEmpty || info.layout.isEmpty) return false
          val dt = info.dtype.get
          val bytes = datasetBytes(r, info).getOrElse(return false)
          out += Dataset(prefix, info.dims,
            Npy.Arr(dt.descr, dt.big, fortran = false,
              info.dims.map(_.toInt), bytes))
          true
      }
    }
    if (!walk(rootOha, "", 0)) return None
    Some(out.result().sortBy(_.path))
  }

  // ---------------------------------------------------------------
  // Writer (superblock v0, classic groups, contiguous/chunked)
  // ---------------------------------------------------------------

  /** A dataset to write: name, dims, numpy-style descr (LE),
    * C-order raw data; `chunkDims` non-empty → chunked + DEFLATE;
    * `compact` → inline in the layout message (small datasets). */
  final case class WDataset(name: String, dims: Seq[Long],
      descr: String, data: Array[Byte],
      chunkDims: Seq[Int] = Seq.empty, compact: Boolean = false,
      /** chunked only: byte-shuffle before deflate, fletcher32
        * checksum trailer after — the h5py pipeline order. */
      shuffle: Boolean = false, fletcher: Boolean = false,
      /** [[buildLatest]] chunked only: which v4 chunk index to
        * emit — 3 fixed array (default), 4 extensible array (the
        * one-unlimited-dim h5py shape), 5 version-2 b-tree (the
        * several-unlimited-dims shape). */
      chunkIndexKind: Int = 3,
      /** [[buildLatest]] b-tree index only: node size (small
        * values force multi-level trees in tests). */
      btreeNodeSize: Int = 2048,
      /** [[buildLatest]] v4 chunk indexes (extensible + fixed
        * array): max data-block page nelmts bits (libhdf5 default
        * 10; small values force PAGED data blocks in tests). */
      eaPageBits: Int = 10)

  final class Writer {
    private val buf = new java.io.ByteArrayOutputStream(4096)
    private def pos: Long = buf.size().toLong
    private def pad8(): Unit =
      while (buf.size() % 8 != 0) buf.write(0)
    private def w8(v: Int): Unit = buf.write(v & 0xff)
    /** Build one file: datasets under the root group. */
    def build(datasets: Seq[WDataset]): Array[Byte] = {
      require(datasets.nonEmpty, "empty file")
      require(datasets.map(_.name).distinct.length == datasets.length)
      val sorted = datasets.sortBy(_.name)

      // ---- superblock (96 bytes incl. root entry) ----
      buf.write(Sig, 0, 8)
      w8(0); w8(0); w8(0); w8(0); w8(0) // versions + reserved
      w8(8); w8(8); w8(0)               // offset/length sizes
      Bytes.putLe16(buf, 4); Bytes.putLe16(buf, 16)                   // leaf k, internal k
      Bytes.putLe32(buf, 0L)                           // consistency flags
      Bytes.putLe64(buf, 0L)                           // base address
      Bytes.putLe64(buf, Undef)                        // free space
      val eofAt = pos
      Bytes.putLe64(buf, 0L)                           // end of file (patched)
      Bytes.putLe64(buf, Undef)                        // driver info
      // root symbol table entry
      Bytes.putLe64(buf, 0L)                           // link name offset
      val rootOhaAt = pos
      Bytes.putLe64(buf, 0L)                           // object header addr (patched)
      Bytes.putLe32(buf, 0L); Bytes.putLe32(buf, 0L)                  // cache type 0 + reserved
      Bytes.putLe64(buf, 0L); Bytes.putLe64(buf, 0L)                  // scratch
      val patches = scala.collection.mutable.ArrayBuffer[(Long, Long)]()

      // ---- local heap with the names ----
      pad8()
      val heapAddr = pos
      val names = sorted.map(_.name)
      val nameOffs = scala.collection.mutable.ArrayBuffer[Long]()
      val heapData = new java.io.ByteArrayOutputStream()
      heapData.write(0) // offset 0: the empty string
      while (heapData.size() % 8 != 0) heapData.write(0)
      names.foreach { n =>
        nameOffs += heapData.size().toLong
        val nb = n.getBytes("UTF-8")
        heapData.write(nb, 0, nb.length)
        heapData.write(0)
        while (heapData.size() % 8 != 0) heapData.write(0)
      }
      buf.write("HEAP".getBytes, 0, 4)
      w8(0); w8(0); w8(0); w8(0)
      Bytes.putLe64(buf, heapData.size().toLong)        // data segment size
      Bytes.putLe64(buf, Undef)                         // free list head: none
      val heapDataAddrAt = pos
      Bytes.putLe64(buf, 0L)                            // data segment addr (patch)
      pad8()
      val heapDataAddr = pos
      patches += ((heapDataAddrAt, heapDataAddr))
      buf.write(heapData.toByteArray, 0, heapData.size())
      pad8()

      // ---- datasets: object headers + data ----
      val childOhas = sorted.map { ds =>
        writeDataset(ds, patches)
      }

      // ---- SNOD ----
      pad8()
      val snodAddr = pos
      buf.write("SNOD".getBytes, 0, 4)
      w8(1); w8(0)
      Bytes.putLe16(buf, sorted.length)
      sorted.indices.foreach { i =>
        Bytes.putLe64(buf, nameOffs(i))     // link name offset in heap
        Bytes.putLe64(buf, childOhas(i))    // object header address
        Bytes.putLe32(buf, 0L); Bytes.putLe32(buf, 0L)     // cache type + reserved
        Bytes.putLe64(buf, 0L); Bytes.putLe64(buf, 0L)     // scratch
      }
      pad8()

      // ---- group B-tree (one leaf node) ----
      val btAddr = pos
      buf.write("TREE".getBytes, 0, 4)
      w8(0); w8(0)           // type 0, level 0
      Bytes.putLe16(buf, 1)                 // one child
      Bytes.putLe64(buf, Undef); Bytes.putLe64(buf, Undef) // siblings
      Bytes.putLe64(buf, 0L)                // key0: lowest name offset
      Bytes.putLe64(buf, snodAddr)          // child
      Bytes.putLe64(buf, nameOffs.last)     // key1
      pad8()

      // ---- root group object header ----
      val rootOha = pos
      patches += ((rootOhaAt, rootOha))
      w8(1); w8(0)
      Bytes.putLe16(buf, 1)                 // one message
      Bytes.putLe32(buf, 1L)                // ref count
      Bytes.putLe32(buf, 24L)               // header size (one sym-table message)
      Bytes.putLe32(buf, 0L)                // pad to 8-align message start
      Bytes.putLe16(buf, 0x0011); Bytes.putLe16(buf, 16); w8(0); w8(0); w8(0); w8(0)
      Bytes.putLe64(buf, btAddr); Bytes.putLe64(buf, heapAddr)

      patches += ((eofAt, pos))

      // apply patches
      val out = buf.toByteArray
      patches.foreach { case (at, v) => Bytes.setLe64(out, at.toInt, v) }
      out
    }

    /** One dataset: object header (+ contiguous data or chunk
      * b-tree + chunks). Returns the header address. */
    private def writeDataset(ds: WDataset,
        patches: scala.collection.mutable.ArrayBuffer[(Long, Long)])
        : Long = {
      val isz = Npy.ItemSize(ds.descr)
      val elems = ds.dims.foldLeft(1L)(_ * _)
      require(ds.data.length.toLong == elems * isz,
        s"${ds.name}: ${ds.data.length} bytes for $elems")
      val rank = ds.dims.length
      val chunked = ds.chunkDims.nonEmpty
      if (chunked) require(ds.chunkDims.length == rank)
      require(!(chunked && ds.compact), "chunked xor compact")
      require(!ds.compact || ds.data.length <= 0xff00,
        "compact data must fit the u16 message size")

      // data (contiguous) or chunks first, so addresses are known
      var dataAddr = 0L
      var chunkBt = 0L
      if (ds.compact) {
        () // data rides inside the layout message
      } else if (!chunked) {
        pad8()
        dataAddr = pos
        buf.write(ds.data, 0, ds.data.length)
        pad8()
      } else {
        // full-size chunks, deflate level 6
        val cd = ds.chunkDims
        var chunkElems = 1L
        cd.foreach(chunkElems *= _)
        val chunkBytes = (chunkElems * isz).toInt
        val grid = ds.dims.zip(cd).map { case (s, c) =>
          ((s + c - 1) / c).toInt }
        val entries = scala.collection.mutable.ArrayBuffer[
          (Seq[Long], Int, Long)]() // (offsets, storedSize, addr)
        def gather(out: Array[Byte], offs: Seq[Long]): Unit = {
          // inverse of the reader's scatter: pull a full-size chunk
          // (zero-padded at edges) out of the logical array
          val dims = ds.dims
          val inner = cd(rank - 1)
          val innerN = math.max(0L, math.min(inner.toLong,
            dims(rank - 1) - offs(rank - 1)))
          val idx = new Array[Long](math.max(0, rank - 1))
          var done = false
          while (!done) {
            var inBounds = innerN > 0
            var k = 0
            while (k < rank - 1) {
              if (offs(k) + idx(k) >= dims(k)) inBounds = false
              k += 1
            }
            if (inBounds) {
              var src = 0L
              k = 0
              while (k < rank - 1) {
                src = src * dims(k) + (offs(k) + idx(k)); k += 1 }
              src = src * dims(rank - 1) + offs(rank - 1)
              var dst = 0L
              k = 0
              while (k < rank - 1) { dst = dst * cd(k) + idx(k)
                k += 1 }
              dst = dst * inner
              System.arraycopy(ds.data, (src * isz).toInt, out,
                (dst * isz).toInt, (innerN * isz).toInt)
            }
            var k2 = rank - 2
            done = true
            while (k2 >= 0 && done) {
              idx(k2) += 1
              if (idx(k2) < cd(k2)) done = false
              else { idx(k2) = 0; k2 -= 1 }
            }
            if (rank == 1) done = true
          }
        }
        def gridWalk(dim: Int, offs: List[Long]): Unit = {
          if (dim == rank) {
            val chunk = new Array[Byte](chunkBytes)
            gather(chunk, offs.reverse)
            // pipeline order: shuffle → deflate → fletcher32
            val sh = if (ds.shuffle)
              Blosc.shuffleBytes(isz, chunk) else chunk
            val defl = new java.util.zip.Deflater(6)
            defl.setInput(sh); defl.finish()
            val co = new java.io.ByteArrayOutputStream(
              chunkBytes / 2 + 64)
            val tmp = new Array[Byte](8192)
            while (!defl.finished())
              co.write(tmp, 0, defl.deflate(tmp))
            defl.end()
            if (ds.fletcher) {
              val body = co.toByteArray
              val ck = fletcher32(body, 0, body.length)
              Bytes.putLe32(co, ck)
            }
            pad8()
            val addr = pos
            val cb = co.toByteArray
            buf.write(cb, 0, cb.length)
            entries += ((offs.reverse, cb.length, addr))
          } else {
            var g = 0
            while (g < grid(dim)) {
              gridWalk(dim + 1, (g.toLong * cd(dim)) :: offs)
              g += 1
            }
          }
        }
        gridWalk(0, Nil)
        // chunk b-tree: ONE leaf node with all entries
        pad8()
        chunkBt = pos
        buf.write("TREE".getBytes, 0, 4)
        w8(1)                    // node type 1
        w8(0)                    // leaf
        Bytes.putLe16(buf, entries.length)
        Bytes.putLe64(buf, Undef); Bytes.putLe64(buf, Undef)
        entries.foreach { case (offs, stored, addr) =>
          Bytes.putLe32(buf, stored.toLong); Bytes.putLe32(buf, 0L)
          offs.foreach(Bytes.putLe64(buf, _))
          Bytes.putLe64(buf, 0L)                // element-dim offset (always 0)
          Bytes.putLe64(buf, addr)
        }
        // final key
        Bytes.putLe32(buf, 0L); Bytes.putLe32(buf, 0L)
        ds.dims.foreach(Bytes.putLe64(buf, _))
        Bytes.putLe64(buf, 0L)
        pad8()
      }

      // ---- object header ----
      pad8()
      val oha = pos
      // messages: dataspace, datatype, layout, (filter)
      val msgs = scala.collection.mutable.ArrayBuffer[
        (Int, Array[Byte])]()
      // dataspace v1
      val dsp = new java.io.ByteArrayOutputStream()
      dsp.write(1); dsp.write(rank); dsp.write(0); dsp.write(0)
      dsp.write(0); dsp.write(0); dsp.write(0); dsp.write(0)
      ds.dims.foreach(Bytes.putLe64(dsp, _))
      msgs += ((0x0001, dsp.toByteArray))
      // datatype
      val big = false
      val dt = new java.io.ByteArrayOutputStream()
      val (clazz, bits, props) = ds.descr match {
        case "f4" => (1, 0x20, f32Props)
        case "f8" => (1, 0x20, f64Props)
        case d0 =>
          val signed = d0.startsWith("i")
          (0, if (signed) 0x08 else 0x00,
            fixedProps(Npy.ItemSize(d0)))
      }
      dt.write((1 << 4) | clazz)
      dt.write(bits | (if (big) 1 else 0))
      dt.write(0); dt.write(0)
      val sz = Npy.ItemSize(ds.descr)
      dt.write(sz); dt.write(0); dt.write(0); dt.write(0)
      dt.write(props, 0, props.length)
      msgs += ((0x0003, dt.toByteArray))
      // layout v3
      val lay = new java.io.ByteArrayOutputStream()
      lay.write(3)
      if (ds.compact) {
        lay.write(0)
        Bytes.putLe16(lay, ds.data.length)
        lay.write(ds.data, 0, ds.data.length)
      } else if (!chunked) {
        lay.write(1)
        Bytes.putLe64(lay, dataAddr)
        Bytes.putLe64(lay, ds.data.length)
      } else {
        lay.write(2)
        lay.write(rank + 1)
        Bytes.putLe64(lay, chunkBt)
        ds.chunkDims.foreach(Bytes.putLe32(lay, _))
        Bytes.putLe32(lay, sz)
      }
      msgs += ((0x0008, lay.toByteArray))
      if (chunked) {
        // filter pipeline, write order: (shuffle), deflate,
        // (fletcher32) — the h5py arrangement
        val fp = new java.io.ByteArrayOutputStream()
        def entry(fid: Int, flags: Int, values: Seq[Int]): Unit = {
          Bytes.putLe16(fp, fid)
          fp.write(0); fp.write(0)           // name length 0
          Bytes.putLe16(fp, flags)
          Bytes.putLe16(fp, values.length)
          values.foreach(Bytes.putLe32(fp, _))
          if (values.length % 2 == 1) { // pad to even values
            fp.write(0); fp.write(0); fp.write(0); fp.write(0)
          }
        }
        val nf = 1 + (if (ds.shuffle) 1 else 0) +
          (if (ds.fletcher) 1 else 0)
        fp.write(1); fp.write(nf)
        fp.write(0); fp.write(0); fp.write(0); fp.write(0)
        fp.write(0); fp.write(0)
        if (ds.shuffle) entry(2, 0, Seq(isz))
        entry(1, 1, Seq(6)) // deflate level 6, optional flag
        if (ds.fletcher) entry(3, 0, Seq.empty)
        msgs += ((0x000b, fp.toByteArray))
      }
      val bodySize = msgs.map { case (_, m) =>
        8 + ((m.length + 7) / 8) * 8 }.sum
      w8(1); w8(0)
      Bytes.putLe16(buf, msgs.length)
      Bytes.putLe32(buf, 1L)
      Bytes.putLe32(buf, bodySize.toLong)
      Bytes.putLe32(buf, 0L)
      msgs.foreach { case (t, m) =>
        Bytes.putLe16(buf, t); Bytes.putLe16(buf, m.length); w8(0); w8(0); w8(0); w8(0)
        buf.write(m, 0, m.length)
        while (buf.size() % 8 != 0) buf.write(0)
      }
      oha
    }

  }

  private def fixedProps(size: Int): Array[Byte] =
    Array[Byte](0, 0, (size * 8).toByte, ((size * 8) >> 8).toByte)
  private val f32Props: Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0); b.write(0)      // bit offset
    b.write(32); b.write(0)     // precision
    b.write(23); b.write(8)     // exp location, size
    b.write(0); b.write(23)     // mantissa location, size
    b.write(127); b.write(0); b.write(0); b.write(0) // bias
    b.toByteArray
  }
  private val f64Props: Array[Byte] = {
    val b = new java.io.ByteArrayOutputStream()
    b.write(0); b.write(0)
    b.write(64); b.write(0)
    b.write(52); b.write(11)
    b.write(0); b.write(52)
    b.write(255); b.write(3); b.write(0); b.write(0) // bias 1023
    b.toByteArray
  }

  def build(datasets: Seq[WDataset]): Array[Byte] =
    new Writer().build(datasets)

  /** Pull one full-size (zero-padded) chunk out of a C-order
    * logical array — the writer-side inverse of [[scatter]]. */
  private def gatherChunk(data: Array[Byte], dims: Seq[Long],
      cd: Seq[Int], offs: Seq[Long], isz: Int): Array[Byte] = {
    val rank = dims.length
    var chunkElems = 1L
    cd.foreach(chunkElems *= _)
    val out = new Array[Byte]((chunkElems * isz).toInt)
    val inner = cd(rank - 1)
    val innerN = math.max(0L, math.min(inner.toLong,
      dims(rank - 1) - offs(rank - 1)))
    if (innerN <= 0) return out
    val idx = new Array[Long](math.max(0, rank - 1))
    var done = false
    while (!done) {
      var inBounds = true
      var k = 0
      while (k < rank - 1) {
        if (offs(k) + idx(k) >= dims(k)) inBounds = false
        k += 1
      }
      if (inBounds) {
        var src = 0L
        k = 0
        while (k < rank - 1) {
          src = src * dims(k) + (offs(k) + idx(k)); k += 1 }
        src = src * dims(rank - 1) + offs(rank - 1)
        var dst = 0L
        k = 0
        while (k < rank - 1) { dst = dst * cd(k) + idx(k); k += 1 }
        dst = dst * inner
        System.arraycopy(data, (src * isz).toInt, out,
          (dst * isz).toInt, (innerN * isz).toInt)
      }
      var k2 = rank - 2
      done = true
      while (k2 >= 0 && done) {
        idx(k2) += 1
        if (idx(k2) < cd(k2)) done = false
        else { idx(k2) = 0; k2 -= 1 }
      }
      if (rank == 1) done = true
    }
    out
  }

  /** The libver-latest writer twin: superblock VERSION 3 with its
    * lookup3 checksum, VERSION 2 ("OHDR") object headers (unaligned
    * messages, per-chunk checksums), the root group as compact LINK
    * messages behind Link Info + Group Info, dataspace v2, filter
    * pipeline v2, and data layout v4 — contiguous/compact classes
    * plus chunked behind a FIXED ARRAY index ("FAHD" header +
    * "FADB" data block, filtered client entries). Everything the
    * v2 read path accepts is emitted here, so round trips pin both
    * directions without libhdf5. */
  def buildLatest(datasets: Seq[WDataset],
      denseLinks: Boolean = false): Array[Byte] = {
    require(datasets.nonEmpty, "empty file")
    require(datasets.map(_.name).distinct.length == datasets.length)
    val buf = new java.io.ByteArrayOutputStream(4096)
    (0 until 48).foreach(_ => buf.write(0)) // superblock slot
    def pos: Long = buf.size().toLong

    /** Emit one OHDR object header; returns its address. */
    def ohdr(msgs: Seq[(Int, Array[Byte])]): Long = {
      val addr = pos
      val h = new java.io.ByteArrayOutputStream(256)
      h.write('O'); h.write('H'); h.write('D'); h.write('R')
      h.write(2)
      h.write(0x02) // flags: 4-byte chunk-0 size, nothing else
      val msgBytes = msgs.map { case (_, m) => 4 + m.length }.sum
      Bytes.putLe32(h, msgBytes.toLong)
      msgs.foreach { case (t, m) =>
        h.write(t & 0xff)
        Bytes.putLe16(h, m.length)
        h.write(0) // message flags
        h.write(m, 0, m.length)
      }
      val hb = h.toByteArray
      val ck = lookup3(hb, 0, hb.length)
      buf.write(hb, 0, hb.length)
      Bytes.putLe32(buf, ck)
      addr
    }

    val children = datasets.map { ds =>
      val isz = Npy.ItemSize(ds.descr)
      val elems = ds.dims.foldLeft(1L)(_ * _)
      require(ds.data.length.toLong == elems * isz,
        s"${ds.name}: ${ds.data.length} bytes for $elems")
      val rank = ds.dims.length
      val chunked = ds.chunkDims.nonEmpty
      require(!(chunked && ds.compact), "chunked xor compact")

      val msgs = scala.collection.mutable.ArrayBuffer[
        (Int, Array[Byte])]()
      // dataspace v2
      val dsp = new java.io.ByteArrayOutputStream()
      dsp.write(2); dsp.write(rank); dsp.write(0); dsp.write(1)
      ds.dims.foreach(Bytes.putLe64(dsp, _))
      msgs += ((0x0001, dsp.toByteArray))
      // datatype (same rendering as the classic writer)
      val dt = new java.io.ByteArrayOutputStream()
      val (clazz, bits, props) = ds.descr match {
        case "f4" => (1, 0x20, f32Props)
        case "f8" => (1, 0x20, f64Props)
        case d0 =>
          val signed = d0.startsWith("i")
          (0, if (signed) 0x08 else 0x00,
            fixedProps(Npy.ItemSize(d0)))
      }
      dt.write((1 << 4) | clazz)
      dt.write(bits)
      dt.write(0); dt.write(0)
      dt.write(isz); dt.write(0); dt.write(0); dt.write(0)
      dt.write(props, 0, props.length)
      msgs += ((0x0003, dt.toByteArray))

      if (ds.compact) {
        val lay = new java.io.ByteArrayOutputStream()
        lay.write(4); lay.write(0)
        Bytes.putLe16(lay, ds.data.length)
        lay.write(ds.data, 0, ds.data.length)
        msgs += ((0x0008, lay.toByteArray))
      } else if (!chunked) {
        val dataAddr = pos
        buf.write(ds.data, 0, ds.data.length)
        val lay = new java.io.ByteArrayOutputStream()
        lay.write(4); lay.write(1)
        Bytes.putLe64(lay, dataAddr)
        Bytes.putLe64(lay, ds.data.length.toLong)
        msgs += ((0x0008, lay.toByteArray))
      } else {
        // chunks: shuffle→deflate→fletcher per the knobs, then the
        // fixed-array index (filtered client, 4-byte sizes)
        val cd = ds.chunkDims
        var chunkElems = 1L
        cd.foreach(chunkElems *= _)
        val grid = ds.dims.zip(cd).map { case (s, c) =>
          (s + c - 1) / c }
        val entries = gridOffsets(grid, cd).map { offs =>
          val chunk = gatherChunk(ds.data, ds.dims, cd, offs, isz)
          val sh = if (ds.shuffle) Blosc.shuffleBytes(isz, chunk)
            else chunk
          val defl = new java.util.zip.Deflater(6)
          defl.setInput(sh); defl.finish()
          val co = new java.io.ByteArrayOutputStream(
            chunk.length / 2 + 64)
          val tmp = new Array[Byte](8192)
          while (!defl.finished()) co.write(tmp, 0, defl.deflate(tmp))
          defl.end()
          if (ds.fletcher) {
            val body = co.toByteArray
            val ck = fletcher32(body, 0, body.length)
            Bytes.putLe32(co, ck)
          }
          val cb = co.toByteArray
          val addr = pos
          buf.write(cb, 0, cb.length)
          (addr, cb.length)
        }
        // index structure per chunkIndexKind, then the layout msg
        val lay = new java.io.ByteArrayOutputStream()
        lay.write(4); lay.write(2)
        lay.write(0)         // flags
        lay.write(rank)      // dimensionality
        lay.write(8)         // dim encode length
        cd.foreach(c => Bytes.putLe64(lay, c.toLong))
        ds.chunkIndexKind match {
          case 3 =>
            // FADB then FAHD (both addresses known up front);
            // entry counts past 2^pageBits emit the PAGED layout
            // (prefix + page-init bitmask + per-page checksums)
            val entrySize = 16 // addr(8) + size(4) + mask(4)
            val faPageBits = math.max(ds.eaPageBits, 1)
            val pageElems = 1L << faPageBits
            val n = entries.length.toLong
            val paged = n > pageElems
            val npages =
              if (paged) ((n + pageElems - 1) / pageElems).toInt
              else 0
            val bmpBytes = if (paged) (npages + 7) / 8 else 0
            val dbAddr = pos
            val dbLen =
              if (!paged) 14L + n * entrySize + 4
              else 14L + bmpBytes + 4 + (0 until npages).map { p =>
                math.min(pageElems, n - p.toLong * pageElems) *
                  entrySize + 4
              }.sum
            val fahdAddr = dbAddr + dbLen
            val db = new java.io.ByteArrayOutputStream()
            db.write('F'); db.write('A'); db.write('D'); db.write('B')
            db.write(0); db.write(1) // version, client 1 (filtered)
            Bytes.putLe64(db, fahdAddr)
            def entryBytes(b: java.io.ByteArrayOutputStream,
                i: Long): Unit = {
              val (addr, stored) = entries(i.toInt)
              Bytes.putLe64(b, addr)
              Bytes.putLe32(b, stored.toLong)
              Bytes.putLe32(b, 0L) // filter mask
            }
            if (!paged) {
              (0L until n).foreach(entryBytes(db, _))
              val dbb = db.toByteArray
              buf.write(dbb, 0, dbb.length)
              Bytes.putLe32(buf, lookup3(dbb, 0, dbb.length))
            } else {
              // page-init bitmask: every page written (MSB-first)
              val bmp = new Array[Byte](bmpBytes)
              (0 until npages).foreach(p =>
                bmp(p / 8) = (bmp(p / 8) |
                  (1 << (7 - (p % 8)))).toByte)
              db.write(bmp, 0, bmp.length)
              val dbb = db.toByteArray
              buf.write(dbb, 0, dbb.length)
              Bytes.putLe32(buf, lookup3(dbb, 0, dbb.length))
              var p = 0
              while (p < npages) {
                val lo = p.toLong * pageElems
                val hi = math.min(lo + pageElems, n)
                val pg = new java.io.ByteArrayOutputStream()
                (lo until hi).foreach(entryBytes(pg, _))
                val pgb = pg.toByteArray
                buf.write(pgb, 0, pgb.length)
                Bytes.putLe32(buf, lookup3(pgb, 0, pgb.length))
                p += 1
              }
            }
            val hd = new java.io.ByteArrayOutputStream()
            hd.write('F'); hd.write('A'); hd.write('H'); hd.write('D')
            hd.write(0); hd.write(1)
            hd.write(entrySize); hd.write(faPageBits)
            Bytes.putLe64(hd, n)
            Bytes.putLe64(hd, dbAddr)
            val hdb = hd.toByteArray
            require(fahdAddr == pos, "fixed-array layout math")
            buf.write(hdb, 0, hdb.length)
            Bytes.putLe32(buf, lookup3(hdb, 0, hdb.length))
            lay.write(3)  // fixed array index
            lay.write(faPageBits)
            Bytes.putLe64(lay, fahdAddr)
          case 4 =>
            // extensible array: data blocks, secondary blocks,
            // index block, header — addresses computed up front
            // (blocks point at EAHD). r14: growth past the
            // index-block-direct range emits real EASB secondary
            // blocks, and data blocks larger than 2^pageBits
            // elements emit the PAGED layout (per-page checksums +
            // the sblock page-init bitmap, H5VM MSB-first bits).
            val elemSize = 16 // filtered: addr(8)+size(4)+mask(4)
            val maxBits = 32
            val idxElems = 4
            val minElems = 16
            val minPtrs = 4
            val pageBits = ds.eaPageBits
            val pageElems = 1L << pageBits
            val arrOffSize = (maxBits + 7) / 8
            val n = entries.length
            val iblkNsblks = 2 * log2of2(minPtrs)
            val nsblksTotal = 1 + (maxBits - log2of2(minElems))
            val ndblkAddrs = (0 until iblkNsblks)
              .map(s => 1L << (s / 2)).sum.toInt
            val nsblkAddrs = nsblksTotal - iblkNsblks
            def sblkStartIdx(s: Int): Long =
              (0 until s).map(t => (1L << (t / 2)) *
                ((1L << ((t + 1) / 2)) * minElems)).sum
            def sblkStartDblk(s: Int): Long =
              (0 until s).map(t => 1L << (t / 2)).sum
            // index-block-direct data blocks must never page (the
            // reader matches libhdf5: paging starts with sblocks)
            require((0 until iblkNsblks).forall(s =>
              (1L << ((s + 1) / 2)) * minElems <= pageElems),
              "eaPageBits too small for the iblock-direct range")
            // which data blocks exist, and their geometry
            final case class Db(dbIdx: Int, s: Int, nel: Long,
              startAbs: Long)
            val dbs = scala.collection.mutable.LinkedHashMap[Int, Db]()
            var i = idxElems
            while (i < n) {
              val uu = (i - idxElems).toLong
              val s = log2gen(uu / minElems + 1)
              require(s < nsblksTotal, "array exceeds maxBits")
              val nel = (1L << ((s + 1) / 2)) * minElems
              val dblkIdx = ((uu - sblkStartIdx(s)) / nel).toInt
              val key = sblkStartDblk(s).toInt + dblkIdx
              if (!dbs.contains(key))
                dbs(key) = Db(key, s, nel,
                  sblkStartIdx(s) + dblkIdx * nel + idxElems)
              i += 1
            }
            // which SECONDARY blocks exist (any dblock at s ≥
            // iblkNsblks realizes its sblock)
            val sblks = dbs.values.map(_.s)
              .filter(_ >= iblkNsblks).toSeq.distinct.sorted
            def dblkLen(db: Db): Long =
              if (db.nel > pageElems)
                14L + arrOffSize + 4L + // prefix + own checksum
                  (db.nel / pageElems) *
                  (pageElems * elemSize + 4L)
              else 14L + arrOffSize + db.nel * elemSize + 4L
            def sblkLen(s: Int): Long = {
              val ndblks = 1L << (s / 2)
              val nel = (1L << ((s + 1) / 2)) * minElems
              val npages =
                if (nel > pageElems) nel / pageElems else 0L
              val bmp =
                if (npages > 0) (ndblks * npages + 7) / 8 else 0L
              14L + arrOffSize + bmp + ndblks * 8L + 4L
            }
            // layout: data blocks, then sblocks, iblock, header
            val dblkAddrs0 = pos
            val sblk0 = dblkAddrs0 +
              dbs.values.map(dblkLen).sum
            val iblkLen = 14L + idxElems.toLong * elemSize +
              (ndblkAddrs + nsblkAddrs).toLong * 8 + 4L
            val iblkAddr = sblk0 + sblks.map(sblkLen).sum
            val eahdAddr = iblkAddr + iblkLen
            def elemBytes(b: java.io.ByteArrayOutputStream,
                idx: Long): Unit =
              if (idx < n) {
                val (addr, stored) = entries(idx.toInt)
                Bytes.putLe64(b, addr); Bytes.putLe32(b, stored.toLong); Bytes.putLe32(b, 0L)
              } else {
                Bytes.putLe64(b, Undef); Bytes.putLe32(b, 0L); Bytes.putLe32(b, 0L)
              }
            val dbAddrByIdx =
              scala.collection.mutable.Map[Int, Long]()
            var wrote = 0L
            dbs.values.foreach { dbk =>
              dbAddrByIdx(dbk.dbIdx) = dblkAddrs0 + wrote
              val b = new java.io.ByteArrayOutputStream()
              b.write('E'); b.write('A'); b.write('D'); b.write('B')
              b.write(0); b.write(1)
              Bytes.putLe64(b, eahdAddr)
              var j = 0
              while (j < arrOffSize) {
                b.write(((dbk.startAbs >>> (8 * j)) & 0xff).toInt)
                j += 1
              }
              if (dbk.nel > pageElems) {
                // PAGED: prefix gets its own checksum; pages
                // follow, each with a checksum of its elements
                val bb = b.toByteArray
                buf.write(bb, 0, bb.length)
                Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
                var page = 0L
                while (page < dbk.nel / pageElems) {
                  val pb = new java.io.ByteArrayOutputStream()
                  (0L until pageElems).foreach(e => elemBytes(pb,
                    dbk.startAbs + page * pageElems + e))
                  val pbb = pb.toByteArray
                  buf.write(pbb, 0, pbb.length)
                  Bytes.putLe32(buf, lookup3(pbb, 0, pbb.length))
                  page += 1
                }
              } else {
                (0L until dbk.nel).foreach(e =>
                  elemBytes(b, dbk.startAbs + e))
                val bb = b.toByteArray
                buf.write(bb, 0, bb.length)
                Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
              }
              wrote += dblkLen(dbk)
            }
            // secondary blocks
            val sbAddrByS =
              scala.collection.mutable.Map[Int, Long]()
            sblks.foreach { s =>
              sbAddrByS(s) = pos
              val ndblks = (1L << (s / 2)).toInt
              val nel = (1L << ((s + 1) / 2)) * minElems
              val npages =
                if (nel > pageElems) (nel / pageElems).toInt else 0
              val b = new java.io.ByteArrayOutputStream()
              b.write('E'); b.write('A'); b.write('S'); b.write('B')
              b.write(0); b.write(1)
              Bytes.putLe64(b, eahdAddr)
              val off0 = sblkStartIdx(s) + idxElems
              var j = 0
              while (j < arrOffSize) {
                b.write(((off0 >>> (8 * j)) & 0xff).toInt)
                j += 1
              }
              if (npages > 0) {
                // page-init bitmap: MSB-first; every page of an
                // existing dblock is initialized
                val bits = ndblks * npages
                val bmp = new Array[Byte]((bits + 7) / 8)
                (0 until ndblks).foreach { k =>
                  if (dbs.contains(sblkStartDblk(s).toInt + k))
                    (0 until npages).foreach { pg =>
                      val bit = k * npages + pg
                      bmp(bit / 8) = (bmp(bit / 8) |
                        (1 << (7 - (bit % 8)))).toByte
                    }
                }
                b.write(bmp, 0, bmp.length)
              }
              (0 until ndblks).foreach { k =>
                Bytes.putLe64(b, dbAddrByIdx.getOrElse(
                  sblkStartDblk(s).toInt + k, Undef))
              }
              val bb = b.toByteArray
              require(bb.length + 4L == sblkLen(s))
              buf.write(bb, 0, bb.length)
              Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
            }
            // index block
            val ib = new java.io.ByteArrayOutputStream()
            ib.write('E'); ib.write('A'); ib.write('I'); ib.write('B')
            ib.write(0); ib.write(1)
            Bytes.putLe64(ib, eahdAddr)
            (0 until idxElems).foreach(e => elemBytes(ib, e.toLong))
            (0 until ndblkAddrs).foreach(k =>
              Bytes.putLe64(ib, dbAddrByIdx.getOrElse(k, Undef)))
            (0 until nsblkAddrs).foreach(slot =>
              Bytes.putLe64(ib, sbAddrByS.getOrElse(iblkNsblks + slot,
                Undef)))
            val ibb = ib.toByteArray
            require(iblkAddr == pos && ibb.length + 4L == iblkLen)
            buf.write(ibb, 0, ibb.length)
            Bytes.putLe32(buf, lookup3(ibb, 0, ibb.length))
            // header
            val hd = new java.io.ByteArrayOutputStream()
            hd.write('E'); hd.write('A'); hd.write('H'); hd.write('D')
            hd.write(0); hd.write(1)
            hd.write(elemSize); hd.write(maxBits)
            hd.write(idxElems); hd.write(minElems)
            hd.write(minPtrs); hd.write(pageBits)
            Bytes.putLe64(hd, sblks.length.toLong) // secondary blocks
            Bytes.putLe64(hd, sblks.map(sblkLen).sum) // secondary block bytes
            Bytes.putLe64(hd, dbs.size.toLong)
            Bytes.putLe64(hd, dbs.values.map(dblkLen).sum)
            Bytes.putLe64(hd, n.toLong) // max index set
            Bytes.putLe64(hd, n.toLong) // elements
            Bytes.putLe64(hd, iblkAddr)
            val hdb = hd.toByteArray
            require(eahdAddr == pos)
            buf.write(hdb, 0, hdb.length)
            Bytes.putLe32(buf, lookup3(hdb, 0, hdb.length))
            lay.write(4) // extensible array index
            lay.write(maxBits); lay.write(idxElems)
            lay.write(minPtrs); lay.write(minElems)
            lay.write(pageBits)
            Bytes.putLe64(lay, eahdAddr)
          case 5 =>
            // v2 b-tree: leaves, then the root (leaf or internal),
            // then BTHD
            val nodeSize = ds.btreeNodeSize
            val szBytes = 4
            val recSize = 8 + szBytes + 4 + 8 * rank
            val leafCap = (nodeSize - 10) / recSize
            require(leafCap >= 1, "b-tree node size too small")
            val maxNrecSize = encSize(leafCap.toLong)
            val n = entries.length
            val recs = entries.zip(gridOffsets(grid, cd))
            def writeRecord(b: java.io.ByteArrayOutputStream,
                rec: ((Long, Int), Seq[Long])): Unit = {
              val ((addr, stored), offs) = rec
              Bytes.putLe64(b, addr)
              Bytes.putLe32(b, stored.toLong)
              Bytes.putLe32(b, 0L) // filter mask
              offs.zipWithIndex.foreach { case (o, k) =>
                Bytes.putLe64(b, o / cd(k)) } // SCALED offsets
            }
            def writeLeaf(rs: Seq[((Long, Int), Seq[Long])])
                : Long = {
              val addr = pos
              val b = new java.io.ByteArrayOutputStream()
              b.write('B'); b.write('T'); b.write('L'); b.write('F')
              b.write(0); b.write(11) // version, record type 11
              rs.foreach(writeRecord(b, _))
              val bb = b.toByteArray
              buf.write(bb, 0, bb.length)
              Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
              addr
            }
            val (rootAddr, rootNrec, depth) =
              if (n <= leafCap) (writeLeaf(recs), n, 0)
              else {
                // depth 1: k leaves + (k-1) separator records
                val k = ((n + 1) + leafCap) / (leafCap + 1)
                val perLeaf = (n - (k - 1)) / k
                var extra = (n - (k - 1)) % k
                var at = 0
                val leaves = Seq.newBuilder[(Long, Int, Int)]
                val seps = Seq.newBuilder[Int]
                (0 until k).foreach { li =>
                  val take = perLeaf + (if (extra > 0) 1 else 0)
                  if (extra > 0) extra -= 1
                  val la = writeLeaf(recs.slice(at, at + take))
                  leaves += ((la, take, at))
                  at += take
                  if (li < k - 1) { seps += at; at += 1 }
                }
                val ptrSize = 8 + maxNrecSize
                val intCap = (nodeSize - (10 + ptrSize)) /
                  (recSize + ptrSize)
                require(k - 1 <= intCap,
                  "b-tree writer: depth > 1 not emitted")
                val ra = pos
                val b = new java.io.ByteArrayOutputStream()
                b.write('B'); b.write('T'); b.write('I'); b.write('N')
                b.write(0); b.write(11)
                seps.result().foreach(s => writeRecord(b, recs(s)))
                leaves.result().foreach { case (la, cnt, _) =>
                  Bytes.putLe64(b, la)
                  var j = 0
                  while (j < maxNrecSize) {
                    b.write(((cnt >>> (8 * j)) & 0xff)); j += 1 }
                }
                val bb = b.toByteArray
                buf.write(bb, 0, bb.length)
                Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
                (ra, k - 1, 1)
              }
            val bthdAddr = pos
            val hd = new java.io.ByteArrayOutputStream()
            hd.write('B'); hd.write('T'); hd.write('H'); hd.write('D')
            hd.write(0); hd.write(11)
            Bytes.putLe32(hd, nodeSize.toLong)
            Bytes.putLe16(hd, recSize)
            Bytes.putLe16(hd, depth)
            hd.write(100); hd.write(40) // split/merge percents
            Bytes.putLe64(hd, rootAddr)
            Bytes.putLe16(hd, rootNrec)
            Bytes.putLe64(hd, n.toLong)
            val hdb = hd.toByteArray
            buf.write(hdb, 0, hdb.length)
            Bytes.putLe32(buf, lookup3(hdb, 0, hdb.length))
            lay.write(5) // v2 b-tree index
            Bytes.putLe32(lay, nodeSize.toLong)
            lay.write(100); lay.write(40)
            Bytes.putLe64(lay, bthdAddr)
          case other =>
            sys.error(s"unsupported chunk index kind $other")
        }
        msgs += ((0x0008, lay.toByteArray))
        // filter pipeline v2
        val fp = new java.io.ByteArrayOutputStream()
        val nf = 1 + (if (ds.shuffle) 1 else 0) +
          (if (ds.fletcher) 1 else 0)
        fp.write(2); fp.write(nf)
        def fentry(fid: Int, values: Seq[Int]): Unit = {
          Bytes.putLe16(fp, fid)
          Bytes.putLe16(fp, 0) // flags
          Bytes.putLe16(fp, values.length)
          values.foreach(v => Bytes.putLe32(fp, v.toLong))
        }
        if (ds.shuffle) fentry(2, Seq(isz))
        fentry(1, Seq(6))
        if (ds.fletcher) fentry(3, Seq.empty)
        msgs += ((0x000b, fp.toByteArray))
      }
      (ds.name, ohdr(msgs.toSeq))
    }

    // root group: link info + group info + links either COMPACT
    // (one 0x0006 message per child) or DENSE (late r14: the links
    // as fractal-heap objects behind a name-index v2 b-tree — the
    // storage libhdf5 switches to past its compact thresholds)
    def linkBody(name: String, oha: Long): Array[Byte] = {
      val nb = name.getBytes("UTF-8")
      require(nb.length >= 1 && nb.length <= 255,
        s"link name length ${nb.length}")
      val lk = new java.io.ByteArrayOutputStream()
      lk.write(1)    // version
      lk.write(0)    // flags: 1-byte name length, hard link
      lk.write(nb.length)
      lk.write(nb, 0, nb.length)
      Bytes.putLe64(lk, oha)
      lk.toByteArray
    }
    val rootMsgs = scala.collection.mutable.ArrayBuffer[
      (Int, Array[Byte])]()
    if (!denseLinks) {
      val li = new java.io.ByteArrayOutputStream()
      li.write(0); li.write(0)
      Bytes.putLe64(li, Undef); Bytes.putLe64(li, Undef)
      rootMsgs += ((0x0002, li.toByteArray))
      rootMsgs += ((0x000a, Array[Byte](0, 0)))
      children.foreach { case (name, oha) =>
        rootMsgs += ((0x0006, linkBody(name, oha)))
      }
    } else {
      // --- fractal heap: ONE checksummed direct block ---
      val bodies = children.map { case (n, o) => linkBody(n, o) }
      val offBytes = 4 // max heap size 32 bits
      val lenBytes = 2 // max managed object size 4096
      val dbPrefix = 4 + 1 + 8 + offBytes + 4 // incl. checksum
      val total = dbPrefix + bodies.map(_.length).sum
      var blockSize = 512
      while (blockSize < total) blockSize *= 2
      require(blockSize <= 65536, "dense-link heap overflow")
      val dblockAddr = pos
      val hdrAddr = dblockAddr + blockSize // FRHP follows the block
      val db = new java.io.ByteArrayOutputStream(blockSize)
      db.write('F'); db.write('H'); db.write('D'); db.write('B')
      db.write(0) // version
      Bytes.putLe64(db, hdrAddr)
      (0 until offBytes).foreach(_ => db.write(0)) // block offset 0
      Bytes.putLe32(db, 0L) // checksum slot (patched below)
      // (heap offset, length) per object, objects packed in order
      val ids = bodies.map { b =>
        val off = db.size().toLong
        db.write(b, 0, b.length)
        (off, b.length)
      }
      while (db.size() < blockSize) db.write(0)
      val dbb = db.toByteArray
      val dbCk = lookup3(dbb, 0, blockSize)
      var ci = 0
      while (ci < 4) {
        dbb(13 + offBytes + ci) = ((dbCk >>> (8 * ci)) & 0xff).toByte
        ci += 1 }
      buf.write(dbb, 0, blockSize)
      // --- FRHP header ---
      val fh = new java.io.ByteArrayOutputStream(160)
      fh.write('F'); fh.write('R'); fh.write('H'); fh.write('P')
      fh.write(0) // version
      Bytes.putLe16(fh, 1 + offBytes + lenBytes) // heap id length (7)
      Bytes.putLe16(fh, 0) // io filter encoded length
      fh.write(0x02) // flags: direct blocks checksummed
      Bytes.putLe32(fh, 4096L) // max size of managed objects
      Bytes.putLe64(fh, 0L) // next huge id
      Bytes.putLe64(fh, Undef) // huge-object b-tree
      Bytes.putLe64(fh, blockSize.toLong - total) // free space
      Bytes.putLe64(fh, Undef) // free-space manager
      Bytes.putLe64(fh, blockSize.toLong) // managed space
      Bytes.putLe64(fh, blockSize.toLong) // allocated managed space
      Bytes.putLe64(fh, blockSize.toLong) // direct-block iterator offset
      Bytes.putLe64(fh, bodies.length.toLong) // managed objects
      Bytes.putLe64(fh, 0L); Bytes.putLe64(fh, 0L) // huge size / count
      Bytes.putLe64(fh, 0L); Bytes.putLe64(fh, 0L) // tiny size / count
      Bytes.putLe16(fh, 4) // table width
      Bytes.putLe64(fh, blockSize.toLong) // starting block size
      Bytes.putLe64(fh, 65536L) // max direct block size
      Bytes.putLe16(fh, 32) // max heap size (bits)
      Bytes.putLe16(fh, 1) // starting # rows in root indirect block
      Bytes.putLe64(fh, dblockAddr) // root block (direct: curRows == 0)
      Bytes.putLe16(fh, 0) // current # rows
      val fhb = fh.toByteArray
      require(hdrAddr == pos)
      buf.write(fhb, 0, fhb.length)
      Bytes.putLe32(buf, lookup3(fhb, 0, fhb.length))
      // --- name-index v2 b-tree (record type 5) ---
      val recSize = 4 + 1 + offBytes + lenBytes // hash + heap id
      val nodeSize = 512
      val leafCap = (nodeSize - 10) / recSize
      val maxNrecSize = encSize(leafCap.toLong)
      val recs = children.zip(ids).map { case ((name, _), (o, l)) =>
        val nb = name.getBytes("UTF-8")
        val rb = new java.io.ByteArrayOutputStream(recSize)
        Bytes.putLe32(rb, lookup3(nb, 0, nb.length)) // name hash
        rb.write(0) // managed heap id, version 0
        var j = 0
        while (j < offBytes) {
          rb.write(((o >>> (8 * j)) & 0xff).toInt); j += 1 }
        j = 0
        while (j < lenBytes) {
          rb.write(((l >>> (8 * j)) & 0xff).toInt); j += 1 }
        rb.toByteArray
      }.sortBy(rb => Bytes.le32u(rb, 0)) // hash order — the tree's key
      def writeLeaf5(rs: Seq[Array[Byte]]): Long = {
        val addr = pos
        val b = new java.io.ByteArrayOutputStream()
        b.write('B'); b.write('T'); b.write('L'); b.write('F')
        b.write(0); b.write(5)
        rs.foreach(rb => b.write(rb, 0, rb.length))
        val bb = b.toByteArray
        buf.write(bb, 0, bb.length)
        Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
        addr
      }
      val n = recs.length
      val (rootAddr, rootNrec, depth) =
        if (n <= leafCap) (writeLeaf5(recs), n, 0)
        else {
          val k = ((n + 1) + leafCap) / (leafCap + 1)
          val perLeaf = (n - (k - 1)) / k
          var extra = (n - (k - 1)) % k
          var at = 0
          val leaves = Seq.newBuilder[(Long, Int)]
          val seps = Seq.newBuilder[Int]
          (0 until k).foreach { li0 =>
            val take = perLeaf + (if (extra > 0) 1 else 0)
            if (extra > 0) extra -= 1
            val la = writeLeaf5(recs.slice(at, at + take))
            leaves += ((la, take))
            at += take
            if (li0 < k - 1) { seps += at; at += 1 }
          }
          val ptrSize = 8 + maxNrecSize
          val intCap = (nodeSize - (10 + ptrSize)) /
            (recSize + ptrSize)
          require(k - 1 <= intCap,
            "dense-link b-tree writer: depth > 1 not emitted")
          val ra = pos
          val b = new java.io.ByteArrayOutputStream()
          b.write('B'); b.write('T'); b.write('I'); b.write('N')
          b.write(0); b.write(5)
          seps.result().foreach(s => b.write(recs(s), 0, recSize))
          leaves.result().foreach { case (la, cnt) =>
            Bytes.putLe64(b, la)
            var j = 0
            while (j < maxNrecSize) {
              b.write((cnt >>> (8 * j)) & 0xff); j += 1 }
          }
          val bb = b.toByteArray
          buf.write(bb, 0, bb.length)
          Bytes.putLe32(buf, lookup3(bb, 0, bb.length))
          (ra, k - 1, 1)
        }
      val bthdAddr = pos
      val hd = new java.io.ByteArrayOutputStream()
      hd.write('B'); hd.write('T'); hd.write('H'); hd.write('D')
      hd.write(0); hd.write(5)
      Bytes.putLe32(hd, nodeSize.toLong)
      Bytes.putLe16(hd, recSize)
      Bytes.putLe16(hd, depth)
      hd.write(100); hd.write(40) // split/merge percents
      Bytes.putLe64(hd, rootAddr)
      Bytes.putLe16(hd, rootNrec)
      Bytes.putLe64(hd, n.toLong)
      val hdb = hd.toByteArray
      buf.write(hdb, 0, hdb.length)
      Bytes.putLe32(buf, lookup3(hdb, 0, hdb.length))
      // --- link info pointing at heap + name index ---
      val li = new java.io.ByteArrayOutputStream()
      li.write(0); li.write(0)
      Bytes.putLe64(li, hdrAddr); Bytes.putLe64(li, bthdAddr)
      rootMsgs += ((0x0002, li.toByteArray))
      rootMsgs += ((0x000a, Array[Byte](0, 0)))
    }
    val rootOha = ohdr(rootMsgs.toSeq)

    // superblock v3 into the reserved slot
    val out = buf.toByteArray
    System.arraycopy(Sig, 0, out, 0, 8)
    out(8) = 3; out(9) = 8; out(10) = 8; out(11) = 0
    Bytes.setLe64(out, 12, 0L)               // base address
    Bytes.setLe64(out, 20, Undef)            // superblock extension
    Bytes.setLe64(out, 28, out.length.toLong) // EOF
    Bytes.setLe64(out, 36, rootOha)
    val ck = lookup3(out, 0, 44)
    Bytes.setLe32(out, 44, ck)
    out
  }
}
