package graft.operators

/** bzip2 (the public format: Julian Seward's bzip2 1.0, as documented
  * in the format specification and the BZh stream layout) — the third
  * compressed-shard transport beside gzip ([[Tar]]'s .tgz path) and
  * LZ4/Snappy frames: `.tar.bz2` corpora are still common in academic
  * dumps. Pure-JVM, both directions, entirely closed-form — every
  * table here (the CRC-32 table, Huffman code tables) is GENERATED
  * from its defining polynomial/frequencies, nothing transcribed.
  *
  * Stream: `BZh` + level digit (block size = level × 100 000) +
  * blocks + footer. Per block: 48-bit magic 0x314159265359, block
  * CRC (bzip2's MSB-first CRC-32, poly 0x04c11db7 — NOT zlib's
  * reflected one), the deprecated `randomised` bit (encoders since
  * 0.9.5 never set it; we REJECT it rather than carry the derived
  * RNG table), 24-bit origPtr, the two-level used-symbol bitmap,
  * 2..6 Huffman groups with delta-coded code lengths (1..20),
  * selectors re-chosen every 50 symbols (MTF + unary), then the
  * symbol stream: RLE2 zero-runs (RUNA/RUNB bijective base-2), MTF
  * values, EOB. Decode inverts Huffman → RLE2+MTF → BWT (origPtr
  * back-walk) → RLE1 (4 equal bytes + count). Both block CRCs and
  * the stream-combined CRC are verified; any mismatch or
  * malformation returns None — drop, never invent.
  *
  * The encoder emits 2 identical Huffman groups (the spec minimum;
  * selectors all point at group 0) with package-style length capping
  * at 17 bits via the classic frequency-halving rebuild, and sorts
  * BWT rotations by prefix doubling — O(n log² n), no library sort
  * of suffixes needed. No reference analogue (north-star ingestion
  * surface); validated by exact round trips, hand-pinned streams,
  * mutation/garbage fuzz and FULL differentials against the
  * commons-compress 1.28 implementation Spark bundles, both
  * directions, in Bzip2Spec. */
object Bzip2 {

  /** `.bz2` sniff: BZh + level digit. */
  def isBzip2(b: Array[Byte]): Boolean =
    b.length >= 4 && b(0) == 'B' && b(1) == 'Z' && b(2) == 'h' &&
      b(3) >= '1' && b(3) <= '9'

  /** bzip2's CRC-32: MSB-first, init and xorout 0xffffffff. */
  private final class Crc {
    private var v = 0xffffffff
    def update(b: Byte): Unit = v = Bytes.crc32Msb(v, b)
    def value: Int = ~v
  }

  // ---------------------------------------------------------------
  // Decode
  // ---------------------------------------------------------------

  /** Decompress a .bz2 file, including CONCATENATED streams (what
    * pbzip2 and `cat a.bz2 b.bz2` produce — each stream restarts at
    * a byte boundary with its own BZh header and combined CRC).
    * None on ANY malformation: bad magic, the deprecated randomised
    * bit, CRC mismatch (block or stream), overrun, trailing garbage,
    * or decoded output beyond `maxOut`. */
  def decode(data: Array[Byte], maxOut: Int = 1 << 26): Option[Array[Byte]] = {
    if (data.isEmpty) return None
    val out = new java.io.ByteArrayOutputStream()
    var streamOff = 0
    while (streamOff < data.length) {
      if (streamOff + 4 > data.length || data(streamOff) != 'B' ||
        data(streamOff + 1) != 'Z' || data(streamOff + 2) != 'h' ||
        data(streamOff + 3) < '1' || data(streamOff + 3) > '9') return None
      decodeStream(data, streamOff, out, maxOut) match {
        case Some(next) => streamOff = next
        case None       => return None
      }
    }
    Some(out.toByteArray)
  }

  /** One BZh stream starting at byte `off`; appends to `out` and
    * returns the byte offset just past the stream's footer. */
  private def decodeStream(data: Array[Byte], off: Int,
      out: java.io.ByteArrayOutputStream, maxOut: Int): Option[Int] = {
    val level = data(off + 3) - '0'
    val blockMax = level * 100000
    val r = new Bytes.BitReader(data, off + 4)
    var combined = 0
    var done = false
    while (!done && r.ok) {
      val magic = (r.bits(24).toLong << 24) | (r.bits(24).toLong & 0xffffffL)
      if (!r.ok) return None
      if (magic == 0x177245385090L) {
        val streamCrc = ((r.bits(16).toLong << 16) | r.bits(16)).toInt
        if (!r.ok || streamCrc != combined) return None
        done = true
      } else if (magic != 0x314159265359L) return None
      else {
        val blockCrc = ((r.bits(16).toLong << 16) | r.bits(16)).toInt
        if (r.bits(1) != 0) return None // randomised: deprecated, reject
        val origPtr = r.bits(24)
        // used-symbol map
        val used = new Array[Boolean](256)
        val hi = r.bits(16)
        var i = 0
        while (i < 16) {
          if (((hi >>> (15 - i)) & 1) != 0) {
            val lo = r.bits(16)
            var j = 0
            while (j < 16) {
              if (((lo >>> (15 - j)) & 1) != 0) used(16 * i + j) = true
              j += 1
            }
          }
          i += 1
        }
        val seqToUnseq = (0 until 256).filter(used).toArray
        val nInUse = seqToUnseq.length
        if (!r.ok || nInUse == 0) return None
        val alphaSize = nInUse + 2
        val nGroups = r.bits(3)
        if (nGroups < 2 || nGroups > 6) return None
        val nSelectors = r.bits(15)
        if (!r.ok || nSelectors == 0) return None
        // selectors: unary + MTF over the group list
        val selMtf = Array.tabulate(nGroups)(identity)
        val selectors = new Array[Int](nSelectors)
        i = 0
        while (i < nSelectors && r.ok) {
          var j = 0
          while (r.ok && r.bits(1) == 1) { j += 1; if (j >= nGroups) r.fail() }
          if (r.ok) {
            val v = selMtf(j)
            while (j > 0) { selMtf(j) = selMtf(j - 1); j -= 1 }
            selMtf(0) = v
            selectors(i) = v
          }
          i += 1
        }
        // per-group delta-coded lengths
        val lens = Array.ofDim[Int](nGroups, alphaSize)
        var g = 0
        while (g < nGroups && r.ok) {
          var cur = r.bits(5)
          var s = 0
          while (s < alphaSize && r.ok) {
            var more = true
            while (more && r.ok) {
              if (cur < 1 || cur > 20) r.fail()
              else if (r.bits(1) == 0) more = false
              else cur += (if (r.bits(1) == 0) 1 else -1)
            }
            lens(g)(s) = cur
            s += 1
          }
          g += 1
        }
        if (!r.ok) return None
        // canonical tables per group (limit/base/perm, bzip2 style)
        val tables = (0 until nGroups).map(g => mkDecodeTable(lens(g)))
        if (tables.exists(_.isEmpty)) return None
        val tbl = tables.map(_.get)
        // symbol stream -> MTF/RLE2 decode straight into the BWT buffer
        val bwt = new Array[Byte](blockMax)
        var nblock = 0
        val mtf = seqToUnseq.clone()
        val eob = alphaSize - 1
        var groupPos = 0
        var selIdx = -1
        var t: DecodeTable = null
        def nextSym(): Int = {
          if (groupPos == 0) {
            selIdx += 1
            if (selIdx >= nSelectors) { r.fail(); return eob }
            t = tbl(selectors(selIdx))
            groupPos = 50
          }
          groupPos -= 1
          var len = t.minLen
          var v = r.bits(len)
          while (r.ok && (len > 23 || v > t.limit(len))) {
            len += 1
            if (len > 23) r.fail() else v = (v << 1) | r.bits(1)
          }
          if (!r.ok) eob else t.perm(v - t.base(len))
        }
        var sym = nextSym()
        var run = 0L
        var runShift = 0
        while (r.ok && sym != eob) {
          if (sym <= 1) { // RUNA/RUNB zero run
            run += (sym + 1).toLong << runShift
            runShift += 1
            if (run > blockMax) r.fail()
          } else {
            // flush pending zero run: `run` copies of mtf(0)
            if (run > 0) {
              if (nblock + run > blockMax) { r.fail(); run = 0 }
              else {
                val b0 = mtf(0).toByte
                var k = 0L
                while (k < run) { bwt(nblock) = b0; nblock += 1; k += 1 }
                run = 0; runShift = 0
              }
            }
            val j0 = sym - 1 // MTF position
            if (j0 >= nInUse) r.fail()
            else {
              val v = mtf(j0)
              var j = j0
              while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
              mtf(0) = v
              if (nblock >= blockMax) r.fail()
              else { bwt(nblock) = v.toByte; nblock += 1 }
            }
          }
          sym = nextSym()
        }
        if (run > 0 && r.ok) {
          if (nblock + run > blockMax) r.fail()
          else {
            val b0 = mtf(0).toByte
            var k = 0L
            while (k < run) { bwt(nblock) = b0; nblock += 1; k += 1 }
          }
        }
        if (!r.ok || origPtr >= nblock) return None
        // inverse BWT
        val cftab = new Array[Int](257)
        i = 0
        while (i < nblock) { cftab((bwt(i) & 0xff) + 1) += 1; i += 1 }
        i = 1
        while (i < 257) { cftab(i) += cftab(i - 1); i += 1 }
        val tt = new Array[Int](nblock)
        i = 0
        while (i < nblock) {
          val ch = bwt(i) & 0xff
          tt(cftab(ch)) = i
          cftab(ch) += 1
          i += 1
        }
        // RLE1 decode while walking, verifying the block CRC
        val crc = new Crc
        var p = tt(origPtr)
        var runByte = -1
        var runLen = 0
        var k = 0
        var bad = false
        while (k < nblock && !bad) {
          val ch = bwt(p)
          p = tt(p)
          k += 1
          if (runLen == 4) {
            // count byte: ch more copies of runByte
            val extra = ch & 0xff
            if (out.size() + extra > maxOut) bad = true
            else {
              var e = 0
              while (e < extra) { out.write(runByte); crc.update(runByte.toByte); e += 1 }
            }
            runLen = 0
            runByte = -1
          } else {
            if ((ch & 0xff) == runByte) runLen += 1
            else { runByte = ch & 0xff; runLen = 1 }
            if (out.size() + 1 > maxOut) bad = true
            else { out.write(ch); crc.update(ch) }
          }
        }
        if (bad || crc.value != blockCrc) return None
        combined = ((combined << 1) | (combined >>> 31)) ^ blockCrc
      }
    }
    if (done && r.ok) Some(((r.bitPos + 7) >>> 3).toInt) else None
  }

  /** bzip2's canonical Huffman decode table: symbols permuted by
    * (length, symbol index); limit/base per length. */
  private final case class DecodeTable(minLen: Int, limit: Array[Int],
      base: Array[Int], perm: Array[Int])

  private def mkDecodeTable(lens: Array[Int]): Option[DecodeTable] = {
    val n = lens.length
    if (lens.exists(l => l < 1 || l > 23)) return None
    val minLen = lens.min
    val maxLen = lens.max
    val perm = new Array[Int](n)
    var pp = 0
    var len = minLen
    while (len <= maxLen) {
      var s = 0
      while (s < n) { if (lens(s) == len) { perm(pp) = s; pp += 1 }; s += 1 }
      len += 1
    }
    val cnt = new Array[Int](24)
    lens.foreach(l => cnt(l) += 1)
    val limit = Array.fill(24)(-1)
    val base = new Array[Int](24)
    var vec = 0
    var cum = 0
    len = minLen
    while (len <= maxLen) {
      base(len) = vec - cum
      cum += cnt(len)
      vec += cnt(len)
      limit(len) = vec - 1
      vec <<= 1
      len += 1
    }
    Some(DecodeTable(minLen, limit, base, perm))
  }

  // ---------------------------------------------------------------
  // Encode
  // ---------------------------------------------------------------

  /** Compress with the given level (block size = level × 100 000).
    * Deterministic: 2 identical Huffman groups, selectors all group
    * 0, BWT by prefix-doubling rotation sort. */
  def encode(data: Array[Byte], level: Int = 1): Array[Byte] = {
    require(level >= 1 && level <= 9)
    require(data.length <= (1 << 26), "bzip2 encode bomb guard")
    val blockMax = level * 100000 - 20 // slack for RLE1 worst case
    val w = new Bytes.BitWriter
    w.write('B', 8); w.write('Z', 8); w.write('h', 8); w.write('0' + level, 8)
    var combined = 0
    var off = 0
    // an empty input emits header + footer only (combined CRC 0),
    // exactly what `bzip2 </dev/null` produces
    while (off < data.length) {
      // take whole RLE1 runs until the block's RLE1 encoding is full
      val rle = new java.io.ByteArrayOutputStream()
      val crc = new Crc
      var full = false
      while (off < data.length && !full) {
        val b = data(off)
        var run = 1
        while (off + run < data.length && run < 255 && data(off + run) == b)
          run += 1
        val encLen = if (run >= 4) 5 else run
        if (rle.size() + encLen > blockMax) full = true
        else {
          if (run >= 4) {
            var i = 0
            while (i < 4) { rle.write(b); i += 1 }
            rle.write(run - 4)
          } else {
            var i = 0
            while (i < run) { rle.write(b); i += 1 }
          }
          var i = 0
          while (i < run) { crc.update(b); i += 1 }
          off += run
        }
      }
      writeBlock(w, rle.toByteArray, crc.value)
      combined = ((combined << 1) | (combined >>> 31)) ^ crc.value
    }
    w.write(0x177245L, 24); w.write(0x385090L, 24)
    w.write((combined >>> 16) & 0xffff, 16); w.write(combined & 0xffff, 16)
    w.toByteArray
  }

  private def writeBlock(w: Bytes.BitWriter, block: Array[Byte], crc: Int): Unit = {
    val n = block.length
    // BWT by prefix-doubling over rotations
    val sa = rotationSort(block)
    val bwt = new Array[Byte](n)
    var origPtr = 0
    var i = 0
    while (i < n) {
      val s = sa(i)
      if (s == 0) origPtr = i
      bwt(i) = block(if (s == 0) n - 1 else s - 1)
      i += 1
    }
    // MTF + RLE2
    val used = new Array[Boolean](256)
    block.foreach(b => used(b & 0xff) = true)
    val seqToUnseq = (0 until 256).filter(used).toArray
    val nInUse = seqToUnseq.length
    val alphaSize = nInUse + 2
    val eob = alphaSize - 1
    val unseqToSeq = new Array[Int](256)
    i = 0
    while (i < nInUse) { unseqToSeq(seqToUnseq(i)) = i; i += 1 }
    val mtf = Array.tabulate(nInUse)(identity)
    val syms = new scala.collection.mutable.ArrayBuffer[Int](n + 16)
    var zeroRun = 0L
    def flushZeros(): Unit = {
      var r = zeroRun
      while (r > 0) {
        syms += (((r - 1) & 1).toInt) // 0 -> RUNA, 1 -> RUNB
        r = (r - 1) >> 1
      }
      zeroRun = 0
    }
    i = 0
    while (i < n) {
      val v = unseqToSeq(bwt(i) & 0xff)
      var j = 0
      while (mtf(j) != v) j += 1
      if (j == 0) zeroRun += 1
      else {
        flushZeros()
        syms += (j + 1)
        while (j > 0) { mtf(j) = mtf(j - 1); j -= 1 }
        mtf(0) = v
      }
      i += 1
    }
    flushZeros()
    syms += eob
    // one Huffman table from global freqs, emitted as 2 groups
    val freq = new Array[Long](alphaSize)
    syms.foreach(s => freq(s) += 1)
    val lens = huffLengths(freq, 17)
    val (codes, codeLens) = canonicalCodes(lens)
    val nSelectors = (syms.length + 49) / 50
    // block header
    w.write(0x314159, 24); w.write(0x265359, 24)
    w.write((crc >>> 16) & 0xffff, 16); w.write(crc & 0xffff, 16)
    w.write(0, 1) // not randomised
    w.write(origPtr, 24)
    // symbol map
    var hi = 0
    i = 0
    while (i < 16) {
      if ((0 until 16).exists(j => used(16 * i + j))) hi |= 1 << (15 - i)
      i += 1
    }
    w.write(hi, 16)
    i = 0
    while (i < 16) {
      if (((hi >>> (15 - i)) & 1) != 0) {
        var lo = 0
        var j = 0
        while (j < 16) {
          if (used(16 * i + j)) lo |= 1 << (15 - j)
          j += 1
        }
        w.write(lo, 16)
      }
      i += 1
    }
    w.write(2, 3) // nGroups = 2 (spec minimum)
    w.write(nSelectors, 15)
    i = 0
    while (i < nSelectors) { w.write(0, 1); i += 1 } // all group 0 (MTF 0)
    // two identical delta-coded length tables
    var g = 0
    while (g < 2) {
      var cur = lens(0)
      w.write(cur, 5)
      var s = 0
      while (s < alphaSize) {
        val want = lens(s)
        while (cur < want) { w.write(2, 2); cur += 1 } // 10 = increment
        while (cur > want) { w.write(3, 2); cur -= 1 } // 11 = decrement
        w.write(0, 1)
        s += 1
      }
      g += 1
    }
    // symbols
    syms.foreach(s => w.write(codes(s), codeLens(s)))
  }

  /** Rotation sort by prefix doubling: ranks over the block, doubled
    * modulo n each round — O(n log² n), deterministic. Each round
    * sorts ONE primitive long array (rank pair packed above a 24-bit
    * index: 20+20+24 bits; blocks are ≤ 900 000 so every field fits)
    * — java.util.Arrays.sort on longs, no boxing, ~4× the boxed
    * sortBy this replaced (Bzip2PerfProbe pins the numbers). */
  private[operators] def rotationSort(b: Array[Byte]): Array[Int] = {
    val n = b.length
    if (n == 0) return Array.empty
    // the packed-long layout is rank(20) | rank2(20) | idx(24): ranks
    // must stay < 2^20 for the fields not to collide, so the guard
    // protects THAT invariant, not just the 24-bit index (blockMax is
    // 900 000, comfortably inside)
    require(n <= (1 << 20))
    var rank = new Array[Int](n)
    var i = 0
    while (i < n) { rank(i) = b(i) & 0xff; i += 1 }
    val packed = new Array[Long](n)
    val sa = new Array[Int](n)
    var k = 1
    var distinct = false
    while (k < n && !distinct) {
      i = 0
      while (i < n) {
        val j = i + k
        val r2 = rank(if (j >= n) j - n else j)
        packed(i) = (rank(i).toLong << 44) | (r2.toLong << 24) | i.toLong
        i += 1
      }
      java.util.Arrays.sort(packed)
      val nr = new Array[Int](n)
      var r = 0
      sa(0) = (packed(0) & 0xffffff).toInt
      nr(sa(0)) = 0
      i = 1
      while (i < n) {
        if ((packed(i) >>> 24) != (packed(i - 1) >>> 24)) r += 1
        val idx = (packed(i) & 0xffffff).toInt
        sa(i) = idx
        nr(idx) = r
        i += 1
      }
      rank = nr
      distinct = r == n - 1
      k <<= 1
    }
    if (!distinct) {
      // fully periodic block: order by final rank, ties by index
      i = 0
      while (i < n) {
        packed(i) = (rank(i).toLong << 24) | i.toLong
        i += 1
      }
      java.util.Arrays.sort(packed)
      i = 0
      while (i < n) { sa(i) = (packed(i) & 0xffffff).toInt; i += 1 }
    }
    sa
  }

  /** Huffman code lengths capped at `maxLen` via the classic
    * frequency-halving rebuild (all symbols get a code; zero
    * frequencies count as 1, as bzip2 does). */
  private def huffLengths(freqIn: Array[Long], maxLen: Int): Array[Int] = {
    val n = freqIn.length
    if (n == 1) return Array(1)
    var freq = freqIn.map(f => math.max(f, 1L))
    var lens: Array[Int] = null
    var ok = false
    while (!ok) {
      // simple two-queue Huffman over (freq, tiebreak symbol order)
      final case class Node(w: Long, depth: Int, syms: List[Int])
      val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Int, Node)](
        Ordering.by[(Long, Int, Node), (Long, Int)](t => (t._1, t._2)).reverse)
      var seq = 0
      freq.zipWithIndex.foreach { case (f, s) =>
        pq.enqueue((f, seq, Node(f, 0, List(s)))); seq += 1
      }
      val depth = new Array[Int](n)
      while (pq.size > 1) {
        val (w1, _, a) = pq.dequeue()
        val (w2, _, b) = pq.dequeue()
        (a.syms ++ b.syms).foreach(s => depth(s) += 1)
        pq.enqueue((w1 + w2, seq, Node(w1 + w2, 0, a.syms ++ b.syms)))
        seq += 1
      }
      lens = depth
      if (lens.max <= maxLen) ok = true
      else freq = freq.map(f => (f >> 1) + 1)
    }
    lens
  }

  /** Canonical codes in bzip2's order: by (length, symbol index). */
  private def canonicalCodes(lens: Array[Int]): (Array[Int], Array[Int]) = {
    val n = lens.length
    val codes = new Array[Int](n)
    var code = 0
    var len = lens.min
    val maxLen = lens.max
    while (len <= maxLen) {
      var s = 0
      while (s < n) {
        if (lens(s) == len) { codes(s) = code; code += 1 }
        s += 1
      }
      code <<= 1
      len += 1
    }
    (codes, lens)
  }
}
