package graft.operators

/** REAL .xz compression from scratch (late r14) — the write twin of
  * [[Xz]]'s decoder and the last codec write asymmetry: until now
  * the repo could only emit `.xz` in store shape
  * ([[Xz.encodeStore]] — valid frames, zero compression) while the
  * read side decoded the full format. This is a complete LZMA
  * encoder (the public LZMA spec / RFC-less but fully documented
  * 7-zip format):
  *
  *  - the adaptive binary RANGE CODER (11-bit probabilities, 2^24
  *    renormalization, carry propagation through the cache byte) —
  *    the byte-exact mirror of [[Xz]]'s RangeDec: both renormalize
  *    on the same schedule, so the encoder's output length equals
  *    the decoder's consumption exactly (the LZMA2 chunk layer
  *    requires it);
  *  - the 12-state machine, literal coding with (lc=3, lp=0)
  *    contexts incl. MATCHED literals after a match, match coding
  *    through the length coder (choice/choice2/low/mid/high trees)
  *    and the distance model (6-bit pos-slot tree per length
  *    context, reverse special-position trees for slots < 14,
  *    direct bits + 4-bit reverse align tree above) — and REP
  *    MATCHES: the four distance registers are probed directly at
  *    every position and a repeat within 2 of the best fresh match
  *    wins (its distance costs ~2-5 bits against a full
  *    slot+offset — the difference that matters on record-shaped
  *    data where the same distances recur line after line);
  *  - greedy hash-chain LZ77 (the [[ZstdEncode]] discipline:
  *    4-byte hash, chain depth 32, mismatch-accelerated probes)
  *    with matches capped at the LZMA maximum of 273 and a window
  *    spanning the whole stream;
  *  - the LZMA2 chunk layer: ≤64 KiB-unpacked chunks, mode-3
  *    control (dict reset + props) on the first, mode-0
  *    continuation after (probabilities persist, each chunk its
  *    own range-coded stream), per-chunk fallback to UNCOMPRESSED
  *    chunks when compression doesn't pay — with the state reset
  *    the format requires on the next compressed chunk (which also
  *    wipes the trial's probability mutations identically on both
  *    sides, so no snapshotting is needed);
  *  - the XZ container (stream header/footer, LZMA2 block with a
  *    dictionary-size property covering the input, index, CRC32
  *    check) in the same framing [[Xz.encodeStore]] ships.
  *
  * Validation: XzSpec differentials — tukaani xz (the bundled
  * reference implementation) decompresses our frames byte-exactly
  * across repetitive/random/boundary shapes, our own decoder
  * agrees, and the ratio assertion proves the entropy coder
  * engages. */
object XzEncode {

  // ---------------------------------------------------------------
  // Range encoder
  // ---------------------------------------------------------------

  private final class RangeEnc(
      out: java.io.ByteArrayOutputStream) {
    private var low = 0L
    private var range = 0xffffffffL
    private var cacheSize = 1L
    private var cache = 0

    /** The standard LZMA carry-cache flush: bytes stay pending in
      * (cache, cacheSize) while they could still be bumped by a
      * carry out of bit 32; a carry turns the cache byte and every
      * pending 0xff into +1. */
    private def shiftLow(): Unit = {
      if (low < 0xff000000L || low > 0xffffffffL) {
        var temp = cache
        var continue = true
        while (continue) {
          out.write(((temp + (low >>> 32)) & 0xff).toInt)
          temp = 0xff
          cacheSize -= 1
          continue = cacheSize != 0
        }
        cache = ((low >>> 24) & 0xff).toInt
      }
      cacheSize += 1
      low = (low & 0x00ffffffL) << 8
    }

    def encodeBit(probs: Array[Short], idx: Int, bit: Int): Unit = {
      val p = probs(idx) & 0xffff
      val bound = (range >>> 11) * p
      if (bit == 0) {
        range = bound
        probs(idx) = (p + ((2048 - p) >>> 5)).toShort
      } else {
        low += bound
        range -= bound
        probs(idx) = (p - (p >>> 5)).toShort
      }
      while (range < (1L << 24)) {
        range = (range << 8) & 0xffffffffL
        shiftLow()
      }
    }

    def encodeDirect(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        range >>>= 1
        if (((v >>> i) & 1) != 0) low += range
        while (range < (1L << 24)) {
          range = (range << 8) & 0xffffffffL
          shiftLow()
        }
        i -= 1
      }
    }

    def bitTree(probs: Array[Short], off: Int, nbits: Int,
        sym: Int): Unit = {
      var m = 1
      var i = nbits - 1
      while (i >= 0) {
        val b = (sym >>> i) & 1
        encodeBit(probs, off + m, b)
        m = (m << 1) | b
        i -= 1
      }
    }

    def bitTreeRev(probs: Array[Short], off: Int, nbits: Int,
        sym: Int): Unit = {
      var m = 1
      var i = 0
      while (i < nbits) {
        val b = (sym >>> i) & 1
        encodeBit(probs, off + m, b)
        m = (m << 1) | b
        i += 1
      }
    }

    def flush(): Unit = {
      var i = 0
      while (i < 5) { shiftLow(); i += 1 }
    }
  }

  // ---------------------------------------------------------------
  // Encoder probability state — the exact layout of Xz.LzmaState
  // ---------------------------------------------------------------

  private final class EncState(val lc: Int, val lp: Int, val pb: Int) {
    var state = 0
    var rep0 = 0; var rep1 = 0; var rep2 = 0; var rep3 = 0
    val lit = Array.fill[Short](0x300 << (lc + lp))(1024)
    val isMatch = Array.fill[Short](12 << 4)(1024)
    val isRep = Array.fill[Short](12)(1024)
    val isRepG0 = Array.fill[Short](12)(1024)
    val isRepG1 = Array.fill[Short](12)(1024)
    val isRepG2 = Array.fill[Short](12)(1024)
    val isRep0Long = Array.fill[Short](12 << 4)(1024)
    val posSlot = Array.fill[Short](4 * 64)(1024)
    val specPos = Array.fill[Short](115)(1024)
    val align = Array.fill[Short](16)(1024)
    val lenProbs = Array.fill[Short](2 + 16 * 8 + 16 * 8 + 256)(1024)
    val repLenProbs =
      Array.fill[Short](2 + 16 * 8 + 16 * 8 + 256)(1024)
    def resetState(): Unit = {
      state = 0; rep0 = 0; rep1 = 0; rep2 = 0; rep3 = 0
      java.util.Arrays.fill(lit, 1024.toShort)
      java.util.Arrays.fill(isMatch, 1024.toShort)
      java.util.Arrays.fill(isRep, 1024.toShort)
      java.util.Arrays.fill(isRepG0, 1024.toShort)
      java.util.Arrays.fill(isRepG1, 1024.toShort)
      java.util.Arrays.fill(isRepG2, 1024.toShort)
      java.util.Arrays.fill(isRep0Long, 1024.toShort)
      java.util.Arrays.fill(posSlot, 1024.toShort)
      java.util.Arrays.fill(specPos, 1024.toShort)
      java.util.Arrays.fill(align, 1024.toShort)
      java.util.Arrays.fill(lenProbs, 1024.toShort)
      java.util.Arrays.fill(repLenProbs, 1024.toShort)
    }
  }

  private def encodeLen(r: RangeEnc, probs: Array[Short],
      posState: Int, len: Int): Unit = {
    if (len < 10) {
      r.encodeBit(probs, 0, 0)
      r.bitTree(probs, 2 + posState * 8, 3, len - 2)
    } else if (len < 18) {
      r.encodeBit(probs, 0, 1)
      r.encodeBit(probs, 1, 0)
      r.bitTree(probs, 2 + 128 + posState * 8, 3, len - 10)
    } else {
      r.encodeBit(probs, 0, 1)
      r.encodeBit(probs, 1, 1)
      r.bitTree(probs, 2 + 256, 8, len - 18)
    }
  }

  // ---------------------------------------------------------------
  // LZ77 (the shared Lz77 hash-chain walk, match cap 273)
  // ---------------------------------------------------------------

  private final val MinMatch = Lz77.MinMatch
  private final val MaxMatch = 273
  private final val ChainDepth = 32

  /** Encode [from, until) as one LZMA chunk stream (its own range
    * coder); matches may reach back to byte 0. Probabilities in
    * `st` carry over from previous chunks (mode-0 continuation). */
  private def lzmaChunk(data: Array[Byte], from: Int, until: Int,
      st: EncState, head: Array[Int], prev: Array[Int],
      hashLog: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream((until - from) / 2 + 32)
    val r = new RangeEnc(out)
    val pbMask = (1 << st.pb) - 1
    val lpMask = (1 << st.lp) - 1
    var i = from
    while (i < until) {
      // find the best match at i (cap 273) via the shared walk
      val pm = Lz77.probe(data, i, until, MaxMatch, MaxMatch,
        ChainDepth, head, prev, hashLog)
      val bestLen = (pm >>> 32).toInt
      val bestOff = (pm & 0xffffffffL).toInt
      val posState = i & pbMask
      // rep-match probe: the four distance registers get a direct
      // scan — a rep distance costs ~2-5 bits against a full
      // slot+offset, the difference that matters on record-shaped
      // data where the same distances recur line after line
      var repIdx = -1
      var repLen = 0
      locally {
        val maxL = math.min(until - i, MaxMatch)
        var ri = 0
        while (ri < 4 && maxL >= 2) {
          val dist = ri match {
            case 0 => st.rep0
            case 1 => st.rep1
            case 2 => st.rep2
            case _ => st.rep3
          }
          val src = i - dist - 1
          if (src >= 0) {
            val l = java.util.Arrays.mismatch(data, src, src + maxL,
              data, i, i + maxL)
            val len = if (l < 0) maxL else l
            if (len > repLen) { repLen = len; repIdx = ri }
          }
          ri += 1
        }
      }
      // a rep within 2 of the best normal match wins (the distance
      // bits it saves outweigh up to ~2 length levels); with no
      // normal match a rep of ≥ 2 still beats literals
      val useRep = repLen >= 2 &&
        (repLen + 2 >= bestLen || bestLen < MinMatch)
      if (useRep) {
        r.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
        r.encodeBit(st.isRep, st.state, 1)
        repIdx match {
          case 0 =>
            r.encodeBit(st.isRepG0, st.state, 0)
            r.encodeBit(st.isRep0Long,
              (st.state << 4) + posState, 1) // full length, not short-rep
          case 1 =>
            r.encodeBit(st.isRepG0, st.state, 1)
            r.encodeBit(st.isRepG1, st.state, 0)
            val d = st.rep1
            st.rep1 = st.rep0; st.rep0 = d
          case 2 =>
            r.encodeBit(st.isRepG0, st.state, 1)
            r.encodeBit(st.isRepG1, st.state, 1)
            r.encodeBit(st.isRepG2, st.state, 0)
            val d = st.rep2
            st.rep2 = st.rep1; st.rep1 = st.rep0; st.rep0 = d
          case _ =>
            r.encodeBit(st.isRepG0, st.state, 1)
            r.encodeBit(st.isRepG1, st.state, 1)
            r.encodeBit(st.isRepG2, st.state, 1)
            val d = st.rep3
            st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
            st.rep0 = d
        }
        encodeLen(r, st.repLenProbs, posState, repLen)
        st.state = if (st.state < 7) 8 else 11
        Lz77.insertSkipped(data, i + 1,
          math.min(i + repLen, until - MinMatch), head, prev,
          hashLog)
        i += repLen
      } else if (bestLen >= MinMatch) {
        // match: isMatch=1, isRep=0, length, slot + position bits
        r.encodeBit(st.isMatch, (st.state << 4) + posState, 1)
        r.encodeBit(st.isRep, st.state, 0)
        st.rep3 = st.rep2; st.rep2 = st.rep1; st.rep1 = st.rep0
        st.rep0 = bestOff - 1
        encodeLen(r, st.lenProbs, posState, bestLen)
        val lenToPos = math.min(bestLen - 2, 3)
        val dist = st.rep0
        val slot =
          if (dist < 4) dist
          else {
            val hb = 31 - Integer.numberOfLeadingZeros(dist)
            (hb << 1) | ((dist >>> (hb - 1)) & 1)
          }
        r.bitTree(st.posSlot, lenToPos * 64, 6, slot)
        if (slot >= 4) {
          val nd = (slot >> 1) - 1
          val base = (2 | (slot & 1)) << nd
          val rem = dist - base
          if (slot < 14)
            r.bitTreeRev(st.specPos, base - slot - 1, nd, rem)
          else {
            r.encodeDirect((rem >>> 4).toLong & 0xffffffffL, nd - 4)
            r.bitTreeRev(st.align, 0, 4, rem & 15)
          }
        }
        st.state = if (st.state < 7) 7 else 10
        Lz77.insertSkipped(data, i + 1,
          math.min(i + bestLen, until - MinMatch), head, prev,
          hashLog)
        i += bestLen
      } else {
        // literal
        r.encodeBit(st.isMatch, (st.state << 4) + posState, 0)
        val b = data(i) & 0xff
        val prevByte = if (i == 0) 0 else data(i - 1) & 0xff
        val litState = (((i & lpMask) << st.lc) +
          (prevByte >>> (8 - st.lc))) * 0x300
        var sym = 1
        var bitIdx = 7
        if (st.state >= 7) {
          // matched literal until the first mismatching bit
          var matchByte = data(i - st.rep0 - 1) & 0xff
          var broken = false
          while (bitIdx >= 0 && !broken) {
            val matchBit = (matchByte >>> 7) & 1
            matchByte = (matchByte << 1) & 0xff
            val bit = (b >>> bitIdx) & 1
            r.encodeBit(st.lit,
              litState + ((1 + matchBit) << 8) + sym, bit)
            sym = (sym << 1) | bit
            bitIdx -= 1
            if (matchBit != bit) broken = true
          }
        }
        while (bitIdx >= 0) {
          val bit = (b >>> bitIdx) & 1
          r.encodeBit(st.lit, litState + sym, bit)
          sym = (sym << 1) | bit
          bitIdx -= 1
        }
        st.state = if (st.state < 4) 0 else if (st.state < 10)
          st.state - 3 else st.state - 6
        i += 1
      }
    }
    r.flush()
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // LZMA2 chunk sequence
  // ---------------------------------------------------------------

  /** lc=3, lp=0, pb=2 — the universal default props. */
  private final val PropsByte = (2 * 5 + 0) * 9 + 3

  private[operators] def lzma2Compress(data: Array[Byte])
      : Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val st = new EncState(3, 0, 2)
    val (head, prev, hashLog) = Lz77.tables(data.length, 17)
    val chunkMax = 1 << 16
    var off = 0
    var first = true
    var propsSent = false
    var needStateReset = false
    while (off < data.length) {
      val n = math.min(chunkMax, data.length - off)
      val packed = lzmaChunk(data, off, off + n, st, head, prev,
        hashLog)
      if (packed.length < n && packed.length <= (1 << 16)) {
        // compressed chunk: mode 3 on the very first (dict reset +
        // props), mode 2 when the props byte hasn't travelled yet
        // (an uncompressed chunk came first), mode 1 after an
        // uncompressed fallback (state reset — also wiping the
        // fallback trial's probability mutations on both sides),
        // mode 0 continuation otherwise
        val mode = if (first) 3 else if (!propsSent) 2
          else if (needStateReset) 1 else 0
        out.write(0x80 | (mode << 5) | (((n - 1) >> 16) & 0x1f))
        out.write(((n - 1) >> 8) & 0xff)
        out.write((n - 1) & 0xff)
        out.write(((packed.length - 1) >> 8) & 0xff)
        out.write((packed.length - 1) & 0xff)
        if (mode >= 2) out.write(PropsByte)
        out.write(packed, 0, packed.length)
        propsSent = true
        needStateReset = false
      } else {
        // uncompressed chunk (1 = with dict reset, first only);
        // the LZMA state must reset before the next compressed
        // chunk — ours resets NOW so the discarded trial's
        // probability updates vanish exactly as the decoder's will
        out.write(if (first) 1 else 2)
        out.write(((n - 1) >> 8) & 0xff)
        out.write((n - 1) & 0xff)
        out.write(data, off, n)
        st.resetState()
        needStateReset = true
      }
      first = false
      off += n
    }
    out.write(0) // end of LZMA2 sequence
    out.toByteArray
  }

  /** The smallest LZMA2 dictionary-size property covering `n`
    * (format: size = (2 | (prop & 1)) << (prop / 2 + 11)). */
  private[operators] def dictProp(n: Int): Int = {
    var prop = 0
    while (prop < 40 &&
      ((2L | (prop & 1)) << (prop / 2 + 11)) < math.max(n, 1))
      prop += 1
    prop
  }

  /** The legacy `.lzma`-alone container (late r14): 13-byte header
    * (props, dict size LE32, known uncompressed size LE64) + one
    * raw LZMA stream — the write twin of [[Xz.decodeAlone]]'s
    * known-size mode. */
  def encodeAlone(data: Array[Byte]): Array[Byte] = {
    require(data.length <= (1 << 26), "lzma encode bomb guard")
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 32)
    out.write(PropsByte)
    val prop = dictProp(data.length)
    val dictSize = (2L | (prop & 1)) << (prop / 2 + 11)
    Bytes.putLe32(out, dictSize)
    Bytes.putLe64(out, data.length)
    val st = new EncState(3, 0, 2)
    val (head, prev, hashLog) = Lz77.tables(data.length, 17)
    val packed = lzmaChunk(data, 0, data.length, st, head, prev,
      hashLog)
    out.write(packed, 0, packed.length)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // XZ container
  // ---------------------------------------------------------------

  /** A compressed .xz stream: one LZMA2 block (CRC32 check), the
    * same container framing as [[Xz.encodeStore]]. Any xz
    * implementation reads it. */
  def encode(data: Array[Byte]): Array[Byte] = {
    require(data.length <= (1 << 26), "xz encode bomb guard")
    if (data.length < 16) return Xz.encodeStore(data)
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 128)
    out.write(0xfd); out.write('7'); out.write('z'); out.write('X')
    out.write('Z'); out.write(0)
    val flags = Array[Byte](0, 1) // check = CRC32
    out.write(flags)
    Bytes.putLe32(out, Xz.crc32(flags, 0, 2))
    // block header: LZMA2 filter, dict size covering the input
    val bh = new java.io.ByteArrayOutputStream()
    bh.write(0) // size byte placeholder
    bh.write(0) // flags
    Bytes.putVarint(bh, 0x21)
    Bytes.putVarint(bh, 1)
    bh.write(dictProp(data.length))
    while ((bh.size() + 4) % 4 != 0) bh.write(0)
    val bhArr = bh.toByteArray
    bhArr(0) = (((bhArr.length + 4) / 4) - 1).toByte
    out.write(bhArr)
    Bytes.putLe32(out, Xz.crc32(bhArr, 0, bhArr.length))
    val bodyArr = lzma2Compress(data)
    out.write(bodyArr)
    var padded = bhArr.length + 4 + bodyArr.length
    while (padded % 4 != 0) { out.write(0); padded += 1 }
    Bytes.putLe32(out, Xz.crc32(data, 0, data.length)) // the block check
    val unpadded = (bhArr.length + 4 + bodyArr.length + 4).toLong
    // index
    val idx = new java.io.ByteArrayOutputStream()
    idx.write(0)
    Bytes.putVarint(idx, 1L)
    Bytes.putVarint(idx, unpadded)
    Bytes.putVarint(idx, data.length.toLong)
    while (idx.size() % 4 != 0) idx.write(0)
    val idxArr = idx.toByteArray
    out.write(idxArr)
    Bytes.putLe32(out, Xz.crc32(idxArr, 0, idxArr.length))
    val backward = (idxArr.length + 4) / 4 - 1
    val tail = new Array[Byte](6)
    Bytes.setLe32(tail, 0, backward)
    tail(4) = 0
    tail(5) = 1
    Bytes.putLe32(out, Xz.crc32(tail, 0, 6))
    out.write(tail)
    out.write('Y'); out.write('Z')
    out.toByteArray
  }
}
