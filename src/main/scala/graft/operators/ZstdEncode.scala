package graft.operators

/** Zstandard COMPRESSING encoder (RFC 8878) — real entropy-coded
  * output, from scratch: greedy hash-chain LZ77 sequences, the
  * PREDEFINED FSE distributions for the three interleaved sequence
  * streams (literals-length / offset / match-length, §3.1.1.3.2.2
  * — the same tables [[Zstd]]'s decoder ships), and canonical
  * Huffman literals with the direct 4-bit weight description
  * (1-stream and 4-stream layouts). Every block falls back to a
  * raw block when compression doesn't pay, so output is never
  * larger than [[Zstd.encodeStore]]'s by more than the header.
  *
  * This replaces the r13 store-mode-only write path: writing
  * `.jsonl.zst` corpus shards at scale needs entropy-coded output;
  * until now only the read side was first-class (the r13 verdict's
  * known-gap #3).
  *
  * Scope and honest limits:
  *  - Sequence streams always use PREDEFINED tables (mode 0) — no
  *    per-block FSE table headers, no repeat-offset codes (every
  *    offset is emitted literally as `offset + 3`). Simpler, and
  *    within a few percent of level-1 zstd on text.
  *  - Huffman trees use the DIRECT weight description, which caps
  *    the largest literal byte at 128; blocks whose literals go
  *    higher (or don't benefit) ship raw literals instead.
  *  - Matches may reach across block boundaries (single-segment
  *    frames: window = content size), min match 4, chain depth
  *    bounded — the greedy parser, not optimal parsing.
  *
  * Validation: ZstdSpec round-trips our compressed frames through
  * zstd-jni (the C library), aircompressor (airlift's independent
  * Java port) AND our own [[Zstd.decode]]; the `jsonl_zst_write`
  * gate writes real corpus shards with this encoder and reads them
  * back under the DuckDB oracle. */
object ZstdEncode {

  private def highBit(v: Int): Int =
    31 - Integer.numberOfLeadingZeros(v)

  // ---------------------------------------------------------------
  // Backward-read bitstream WRITER (the BIT_addBits convention:
  // values append LSB-first; a final 1-bit sentinel marks the end;
  // the decoder reads from the last byte backwards)
  // ---------------------------------------------------------------

  private[graft] final class BitW {
    private val out = new java.io.ByteArrayOutputStream(256)
    private var acc = 0L
    private var nbits = 0
    def add(v: Long, n: Int): Unit = if (n > 0) {
      acc |= (v & ((1L << n) - 1)) << nbits
      nbits += n
      while (nbits >= 8) {
        out.write((acc & 0xff).toInt); acc >>>= 8; nbits -= 8
      }
    }
    /** Sentinel + flush; returns the stream bytes. */
    def close(): Array[Byte] = {
      add(1L, 1)
      if (nbits > 0) { out.write((acc & 0xff).toInt); acc = 0
        nbits = 0 }
      out.toByteArray
    }
  }

  // ---------------------------------------------------------------
  // FSE encoding tables (the inverse of Zstd.fseTable, built from
  // the same normalized counts with the reference construction)
  // ---------------------------------------------------------------

  private[graft] final class FseEnc(val log: Int,
      val deltaNbBits: Array[Int], val deltaFindState: Array[Int],
      val stateTable: Array[Int])

  private[graft] def fseEncTable(norm: Array[Int], log: Int)
      : FseEnc = {
    val size = 1 << log
    // spread — byte-identical to the decoder's
    val symbol = new Array[Int](size)
    var highThreshold = size - 1
    var s = 0
    while (s < norm.length) {
      if (norm(s) == -1) {
        symbol(highThreshold) = s; highThreshold -= 1
      }
      s += 1
    }
    val step = (size >>> 1) + (size >>> 3) + 3
    val mask = size - 1
    var pos = 0
    s = 0
    while (s < norm.length) {
      var i = 0
      while (i < norm(s)) {
        symbol(pos) = s
        pos = (pos + step) & mask
        while (pos > highThreshold) pos = (pos + step) & mask
        i += 1
      }
      s += 1
    }
    require(pos == 0, "fse spread must return to zero")
    // cumulative starts (a "less than one" symbol owns one cell)
    val cumul = new Array[Int](norm.length)
    locally {
      var acc = 0
      var t = 0
      while (t < norm.length) {
        cumul(t) = acc
        acc += (if (norm(t) == -1) 1 else math.max(norm(t), 0))
        t += 1
      }
    }
    // next-state table: walk cells in position order, handing each
    // symbol its states in increasing order (mirrors the decoder's
    // symNext walk, so encode ∘ decode is the identity)
    val stateTable = new Array[Int](size)
    val fill = cumul.clone()
    var u = 0
    while (u < size) {
      val sym = symbol(u)
      stateTable(fill(sym)) = size + u
      fill(sym) += 1
      u += 1
    }
    // per-symbol transform
    val deltaNbBits = new Array[Int](norm.length)
    val deltaFindState = new Array[Int](norm.length)
    var total = 0
    s = 0
    while (s < norm.length) {
      norm(s) match {
        case 0 => // unused symbol
          deltaNbBits(s) = ((log + 1) << 16) - (1 << log)
          deltaFindState(s) = 0
        case -1 | 1 =>
          deltaNbBits(s) = (log << 16) - (1 << log)
          deltaFindState(s) = total - 1
          total += 1
        case c =>
          val maxBitsOut = log - highBit(c - 1)
          val minStatePlus = c << maxBitsOut
          deltaNbBits(s) = (maxBitsOut << 16) - minStatePlus
          deltaFindState(s) = total - c
          total += c
      }
      s += 1
    }
    new FseEnc(log, deltaNbBits, deltaFindState, stateTable)
  }

  private[graft] final class FseCState(t: FseEnc) {
    private var state = 0
    def init(sym: Int): Unit = {
      val nbBitsOut = (t.deltaNbBits(sym) + (1 << 15)) >> 16
      val v = (nbBitsOut << 16) - t.deltaNbBits(sym)
      state = t.stateTable((v >>> nbBitsOut) + t.deltaFindState(sym))
    }
    def encode(bw: BitW, sym: Int): Unit = {
      val nb = (state + t.deltaNbBits(sym)) >> 16
      bw.add(state.toLong, nb)
      state = t.stateTable((state >> nb) + t.deltaFindState(sym))
    }
    def flush(bw: BitW): Unit = bw.add(state.toLong, t.log)
  }

  private lazy val LlEnc = fseEncTable(Zstd.LlDefault, 6)
  private lazy val MlEnc = fseEncTable(Zstd.MlDefault, 6)
  private lazy val OfEnc = fseEncTable(Zstd.OfDefault, 5)

  // ---------------------------------------------------------------
  // Sequence codes (inverse of the RFC baseline tables)
  // ---------------------------------------------------------------

  private def llCode(ll: Int): Int =
    if (ll < 16) ll
    else {
      var c = Zstd.LlBase.length - 1
      while (Zstd.LlBase(c) > ll) c -= 1
      c
    }

  private def mlCode(ml: Int): Int =
    if (ml - 3 < 32) ml - 3
    else {
      var c = Zstd.MlBase.length - 1
      while (Zstd.MlBase(c) > ml) c -= 1
      c
    }

  // ---------------------------------------------------------------
  // Greedy hash-chain LZ77
  // ---------------------------------------------------------------

  private final case class Seq3(ll: Int, ml: Int, ofVal: Int)

  private final val MinMatch = Lz77.MinMatch
  private final val ChainDepth = 32

  /** Parse [from, until) into sequences; matches may reach back to
    * byte 0 (single-segment window). Returns (sequences, literals
    * of this block in order). Match finding is the shared
    * [[Lz77]] hash-chain walk. */
  private def parse(data: Array[Byte], from: Int, until: Int,
      head: Array[Int], prev: Array[Int], hashLog: Int)
      : (IndexedSeq[Seq3], Array[Byte]) = {
    // IndexedSeq: the sequence coder walks this BACKWARDS by index
    // (FSE streams encode in reverse) — a List here is O(n^2)
    val seqs = IndexedSeq.newBuilder[Seq3]
    val lits = new java.io.ByteArrayOutputStream(until - from)
    var litStart = from
    var i = from
    val matchLimit = until
    while (i < matchLimit) {
      val pm = Lz77.probe(data, i, matchLimit, Int.MaxValue, 1024,
        ChainDepth, head, prev, hashLog)
      val bestLen = (pm >>> 32).toInt
      val bestOff = (pm & 0xffffffffL).toInt
      if (bestLen >= MinMatch) {
        val ll = i - litStart
        lits.write(data, litStart, ll)
        seqs += Seq3(ll, bestLen, bestOff + 3)
        Lz77.insertSkipped(data, i + 1,
          math.min(i + bestLen, matchLimit - MinMatch), head, prev,
          hashLog)
        i += bestLen
        litStart = i
      } else i += 1
    }
    lits.write(data, litStart, until - litStart)
    (seqs.result(), lits.toByteArray)
  }

  // ---------------------------------------------------------------
  // Huffman literals (canonical, depth ≤ 11, direct weights)
  // ---------------------------------------------------------------

  /** Code lengths for `freq` (index = byte value), max depth 11;
    * null when Huffman can't apply (1 distinct symbol, or a symbol
    * above 128 — the direct weight description lists weights for
    * 0..N-1 with N ≤ 128). */
  private def hufLengths(freq: Array[Int]): Array[Int] = {
    val maxSym = freq.lastIndexWhere(_ > 0)
    if (maxSym < 1 || maxSym > 128) return null
    val present = (0 to maxSym).count(freq(_) > 0)
    if (present < 2) return null
    // package-merge-free build: standard two-queue Huffman, then
    // depth-limit with the Kraft repair
    final case class Node(w: Long, syms: List[Int], depth: Int)
    val lens = new Array[Int](maxSym + 1)
    // iterative merge: the priority queue establishes heap order
    // itself — no pre-sort needed
    val q = scala.collection.mutable.PriorityQueue.empty[Node](
      Ordering.by[Node, Long](_.w).reverse)
    (0 to maxSym).foreach(s =>
      if (freq(s) > 0) q.enqueue(Node(freq(s).toLong, List(s), 0)))
    while (q.size > 1) {
      val a = q.dequeue(); val b = q.dequeue()
      a.syms.foreach(s => lens(s) += 1)
      b.syms.foreach(s => lens(s) += 1)
      q.enqueue(Node(a.w + b.w, a.syms ++ b.syms, 0))
    }
    // depth-limit to 11: clamp, then repair the Kraft sum exactly
    val MaxBits = 11
    var overflow = false
    (0 to maxSym).foreach { s =>
      if (lens(s) > MaxBits) { lens(s) = MaxBits; overflow = true }
    }
    if (overflow) {
      // Kraft units of 2^-MaxBits; total must equal 2^MaxBits
      def kraft: Long = (0 to maxSym).map(s =>
        if (freq(s) > 0) 1L << (MaxBits - lens(s)) else 0L).sum
      // demote short codes until the sum fits
      var k = kraft
      val target = 1L << MaxBits
      // lengthen the least-frequent symbols with the shortest codes
      while (k > target) {
        // pick the symbol whose lengthening costs least frequency:
        // among symbols with lens < MaxBits, smallest freq
        var pick = -1
        (0 to maxSym).foreach { s =>
          if (freq(s) > 0 && lens(s) < MaxBits &&
            (pick < 0 || freq(s) < freq(pick))) pick = s
        }
        if (pick < 0) return null
        k -= 1L << (MaxBits - lens(pick) - 1)
        lens(pick) += 1
      }
      if (k < target) {
        // promote (shorten) codes to land exactly on the target
        var done = false
        while (!done) {
          var pick = -1
          (0 to maxSym).foreach { s =>
            if (freq(s) > 0 && lens(s) > 1 &&
              k + (1L << (MaxBits - lens(s))) <= target &&
              (pick < 0 || freq(s) > freq(pick))) pick = s
          }
          if (pick < 0) done = true
          else {
            k += 1L << (MaxBits - lens(pick))
            lens(pick) -= 1
            if (k == target) done = true
          }
        }
        if (k != target) return null
      }
    }
    lens
  }

  /** (treeDesc bytes, per-symbol (code, nbBits)) from code
    * lengths; mirrors the decoder's weight→table fill so codes are
    * exactly the table's cell starts. */
  private def hufTable(lens: Array[Int])
      : (Array[Byte], Array[Int], Array[Int]) = {
    val maxSym = lens.length - 1
    val maxBits = lens.filter(_ > 0).max
    // weight = maxBits + 1 - nbBits (0 for absent)
    val weights = lens.map(l => if (l == 0) 0 else maxBits + 1 - l)
    // table log: smallest log with sum 2^(w-1) = 2^log (complete
    // code → log == maxBits)
    val log = maxBits
    // codes: fill order = weight ascending, symbol ascending
    val code = new Array[Int](maxSym + 1)
    val nb = new Array[Int](maxSym + 1)
    var posIdx = 0
    var w = 1
    while (w <= log) {
      var sym = 0
      while (sym <= maxSym) {
        if (weights(sym) == w) {
          code(sym) = posIdx >> (w - 1)
          nb(sym) = log + 1 - w
          posIdx += 1 << (w - 1)
        }
        sym += 1
      }
      w += 1
    }
    require(posIdx == (1 << log), "huffman code not complete")
    // direct weight description: weights for symbols 0..maxSym-1,
    // the LAST present symbol's weight implied
    val listed = weights.take(maxSym) // 0..maxSym-1
    val hdr = new java.io.ByteArrayOutputStream(1 + listed.length)
    hdr.write(127 + listed.length)
    var i = 0
    while (i < listed.length) {
      val hi = listed(i)
      val lo = if (i + 1 < listed.length) listed(i + 1) else 0
      hdr.write((hi << 4) | lo)
      i += 2
    }
    (hdr.toByteArray, code, nb)
  }

  /** One backward Huffman stream over src[from, until) (symbols
    * pushed in reverse so the decoder emits forward). */
  private def hufStream(src: Array[Byte], from: Int, until: Int,
      code: Array[Int], nb: Array[Int]): Array[Byte] = {
    val bw = new BitW
    var i = until - 1
    while (i >= from) {
      val s = src(i) & 0xff
      bw.add(code(s).toLong, nb(s))
      i -= 1
    }
    bw.close()
  }

  /** Compressed literals section (type 2) or null when raw wins:
    * header + tree description + 1 or 4 streams. */
  private def compressLiterals(lits: Array[Byte]): Array[Byte] = {
    if (lits.length < 32) return null
    val freq = new Array[Int](256)
    lits.foreach(b => freq(b & 0xff) += 1)
    val lens = hufLengths(freq)
    if (lens == null) return null
    val (tree, code, nb) = hufTable(lens)
    val bodyBits = {
      // zero-allocation sum — this runs per compressed block
      var bits = 0L
      var i = 0
      while (i < lits.length) { bits += nb(lits(i) & 0xff); i += 1 }
      bits
    }
    val est = tree.length + (bodyBits / 8) + 8
    if (est >= lits.length) return null
    val regen = lits.length
    def payload1(): Array[Byte] = {
      val p = new java.io.ByteArrayOutputStream(lits.length)
      p.write(tree, 0, tree.length)
      val s = hufStream(lits, 0, lits.length, code, nb)
      p.write(s, 0, s.length)
      p.toByteArray
    }
    def payload4(): Array[Byte] = {
      val p = new java.io.ByteArrayOutputStream(lits.length)
      p.write(tree, 0, tree.length)
      val per = (regen + 3) / 4
      val s1 = hufStream(lits, 0, per, code, nb)
      val s2 = hufStream(lits, per, 2 * per, code, nb)
      val s3 = hufStream(lits, 2 * per, 3 * per, code, nb)
      val s4 = hufStream(lits, 3 * per, regen, code, nb)
      if (s1.length > 0xffff || s2.length > 0xffff ||
        s3.length > 0xffff) return null
      p.write(s1.length & 0xff); p.write(s1.length >> 8)
      p.write(s2.length & 0xff); p.write(s2.length >> 8)
      p.write(s3.length & 0xff); p.write(s3.length >> 8)
      p.write(s1, 0, s1.length)
      p.write(s2, 0, s2.length)
      p.write(s3, 0, s3.length)
      p.write(s4, 0, s4.length)
      p.toByteArray
    }
    // stream count and size format must agree: sf0 = 1 stream
    // (10-bit sizes), sf2/sf3 = 4 streams (14-/18-bit sizes)
    var four = regen > 1023
    var payload = if (four) payload4() else payload1()
    if (payload == null) return null
    if (!four && payload.length > 1023) {
      four = true
      payload = payload4()
      if (payload == null) return null
    }
    val comp = payload.length
    val out = new java.io.ByteArrayOutputStream(comp + 5)
    if (!four) {
      val h = 2 | (0 << 2) | (regen << 4) | (comp << 14)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write((h >> 16) & 0xff)
    } else if (regen <= 16383 && comp <= 16383) {
      val h = 2 | (2 << 2) | (regen << 4) | (comp << 18)
      Bytes.putLe32(out, h)
    } else if (regen < (1 << 18) && comp < (1 << 18)) {
      val h = 2L | (3L << 2) | (regen.toLong << 4) |
        (comp.toLong << 22)
      var k = 0
      while (k < 5) { out.write(((h >> (8 * k)) & 0xff).toInt)
        k += 1 }
    } else return null
    out.write(payload, 0, comp)
    if (out.size() >= lits.length + rawLiteralsHeaderLen(regen))
      null
    else out.toByteArray
  }

  private def rawLiteralsHeaderLen(n: Int): Int =
    if (n <= 31) 1 else if (n <= 4095) 2 else 3

  private def rawLiterals(lits: Array[Byte]): Array[Byte] = {
    val n = lits.length
    val out = new java.io.ByteArrayOutputStream(n + 3)
    if (n <= 31) out.write((n << 3) | 0)
    else if (n <= 4095) {
      val h = 0 | (1 << 2) | (n << 4)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
    } else {
      val h = 0 | (3 << 2) | (n << 4)
      out.write(h & 0xff); out.write((h >> 8) & 0xff)
      out.write((h >> 16) & 0xff)
    }
    out.write(lits, 0, n)
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Block + frame assembly
  // ---------------------------------------------------------------

  /** One compressed block's content (without the 3-byte block
    * header), or null when the compressed form isn't smaller than
    * `rawLen`. */
  private def compressBlock(data: Array[Byte], from: Int,
      until: Int, head: Array[Int], prev: Array[Int],
      hashLog: Int): Array[Byte] = {
    val (seqs, lits) = parse(data, from, until, head, prev, hashLog)
    val litSec = {
      val c = compressLiterals(lits)
      if (c != null) c else rawLiterals(lits)
    }
    val out = new java.io.ByteArrayOutputStream(litSec.length + 64)
    out.write(litSec, 0, litSec.length)
    val n = seqs.length
    if (n == 0) out.write(0)
    else {
      if (n < 128) out.write(n)
      else if (n < 0x7f00) {
        out.write(128 | (n >> 8)); out.write(n & 0xff)
      } else {
        out.write(255)
        val v = n - 0x7f00
        out.write(v & 0xff); out.write((v >> 8) & 0xff)
      }
      out.write(0) // modes: all predefined
      val bw = new BitW
      val ll = new FseCState(LlEnc)
      val ml = new FseCState(MlEnc)
      val of = new FseCState(OfEnc)
      val last = seqs(n - 1)
      val llC = llCode(last.ll)
      val mlC = mlCode(last.ml)
      val ofC = highBit(last.ofVal)
      ml.init(mlC); of.init(ofC); ll.init(llC)
      bw.add((last.ll - Zstd.LlBase(llC)).toLong, Zstd.LlBits(llC))
      bw.add((last.ml - Zstd.MlBase(mlC)).toLong, Zstd.MlBits(mlC))
      bw.add(last.ofVal.toLong - (1L << ofC), ofC)
      var i = n - 2
      while (i >= 0) {
        val sq = seqs(i)
        val lc = llCode(sq.ll)
        val mc = mlCode(sq.ml)
        val oc = highBit(sq.ofVal)
        of.encode(bw, oc)
        ml.encode(bw, mc)
        ll.encode(bw, lc)
        bw.add((sq.ll - Zstd.LlBase(lc)).toLong, Zstd.LlBits(lc))
        bw.add((sq.ml - Zstd.MlBase(mc)).toLong, Zstd.MlBits(mc))
        bw.add(sq.ofVal.toLong - (1L << oc), oc)
        i -= 1
      }
      ml.flush(bw); of.flush(bw); ll.flush(bw)
      val bits = bw.close()
      out.write(bits, 0, bits.length)
    }
    val rawLen = until - from
    if (out.size() >= rawLen) null else out.toByteArray
  }

  /** A zstd frame with REAL compression: single-segment header +
    * per-128K compressed blocks (raw fallback per block) +
    * xxHash64 checksum. */
  def encode(data: Array[Byte], withChecksum: Boolean = true)
      : Array[Byte] = {
    require(data.length <= (1 << 26), "zstd encode bomb guard")
    val n = data.length
    if (n < 64) return Zstd.encodeStore(data, withChecksum)
    val out = new java.io.ByteArrayOutputStream(n / 2 + 64)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    val fcsFlag = if (n < 256) 0 else if (n < 65536 + 256) 1 else 2
    out.write((fcsFlag << 6) | 0x20 | (if (withChecksum) 4 else 0))
    fcsFlag match {
      case 0 => out.write(n & 0xff)
      case 1 =>
        val v = n - 256
        out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      case _ =>
        Bytes.putLe32(out, n)
    }
    val (head, prev, hashLog) = Lz77.tables(n, 17)
    val blockMax = 1 << 17
    var off = 0
    while (off < n) {
      val len = math.min(blockMax, n - off)
      val lastBit = if (off + len >= n) 1 else 0
      val allSame = {
        var same = len >= 2
        var k = off + 1
        while (same && k < off + len) {
          same = data(k) == data(off); k += 1
        }
        same
      }
      if (allSame) {
        val bh = lastBit | (1 << 1) | (len << 3)
        out.write(bh & 0xff); out.write((bh >>> 8) & 0xff)
        out.write((bh >>> 16) & 0xff)
        out.write(data(off))
        off += len
      } else {
      val comp = compressBlock(data, off, off + len, head, prev,
        hashLog)
      if (comp != null) {
        val bh = lastBit | (2 << 1) | (comp.length << 3)
        out.write(bh & 0xff); out.write((bh >>> 8) & 0xff)
        out.write((bh >>> 16) & 0xff)
        out.write(comp, 0, comp.length)
      } else {
        val bh = lastBit | (0 << 1) | (len << 3)
        out.write(bh & 0xff); out.write((bh >>> 8) & 0xff)
        out.write((bh >>> 16) & 0xff)
        out.write(data, off, len)
      }
      off += len
      }
    }
    if (withChecksum) {
      Bytes.putLe32(out, Zstd.xxh64(data, 0, data.length))
    }
    out.toByteArray
  }

  /** A zstd frame compressed AGAINST A RAW-CONTENT DICTIONARY
    * (late r14 — the write twin of [[Zstd.decodeWithDict]]'s
    * raw-content path): the dictionary bytes act as virtual
    * preceding window content, so matches may reach past the frame
    * start into the dictionary (RFC 8878 §3.1.1.1 allows offsets
    * into dictionary content when one is in use). No Dictionary_ID
    * is written — raw-content dictionaries carry none; the decoder
    * must be handed the same bytes (zstd-jni `loadDict`, or
    * [[Zstd.decodeWithDict]]). Small inputs that share material
    * with the dictionary compress dramatically — the per-shard
    * corpus metadata case. */
  def encodeWithDict(data: Array[Byte], dict: Array[Byte],
      withChecksum: Boolean = true): Array[Byte] = {
    require(data.length <= (1 << 26) && dict.length <= (1 << 26),
      "zstd encode bomb guard")
    if (dict.isEmpty) return encode(data, withChecksum)
    val n = data.length
    if (n < 8) return Zstd.encodeStore(data, withChecksum)
    val all = new Array[Byte](dict.length + n)
    System.arraycopy(dict, 0, all, 0, dict.length)
    System.arraycopy(data, 0, all, dict.length, n)
    val out = new java.io.ByteArrayOutputStream(n / 2 + 64)
    out.write(0x28); out.write(0xb5); out.write(0x2f); out.write(0xfd)
    val fcsFlag = if (n < 256) 0 else if (n < 65536 + 256) 1 else 2
    out.write((fcsFlag << 6) | 0x20 | (if (withChecksum) 4 else 0))
    fcsFlag match {
      case 0 => out.write(n & 0xff)
      case 1 =>
        val v = n - 256
        out.write(v & 0xff); out.write((v >>> 8) & 0xff)
      case _ =>
        Bytes.putLe32(out, n)
    }
    // index the whole dictionary into the hash chains so the first
    // frame bytes can already match into it
    val (head, prev, hashLog) = Lz77.tables(all.length, 17)
    var k = 0
    while (k + MinMatch <= dict.length) {
      val h = Lz77.hash4(all, k, hashLog)
      prev(k & (prev.length - 1)) = head(h)
      head(h) = k
      k += 1
    }
    val blockMax = 1 << 17
    var off = dict.length
    val end = all.length
    while (off < end) {
      val len = math.min(blockMax, end - off)
      val lastBit = if (off + len >= end) 1 else 0
      val comp = compressBlock(all, off, off + len, head, prev,
        hashLog)
      if (comp != null) {
        val bh = lastBit | (2 << 1) | (comp.length << 3)
        out.write(bh & 0xff); out.write((bh >>> 8) & 0xff)
        out.write((bh >>> 16) & 0xff)
        out.write(comp, 0, comp.length)
      } else {
        val bh = lastBit | (0 << 1) | (len << 3)
        out.write(bh & 0xff); out.write((bh >>> 8) & 0xff)
        out.write((bh >>> 16) & 0xff)
        out.write(all, off, len)
      }
      off += len
    }
    if (withChecksum) {
      Bytes.putLe32(out, Zstd.xxh64(data, 0, data.length))
    }
    out.toByteArray
  }
}
