package graft.operators

/** Pure-JVM JPEG (ITU-T T.81) — baseline sequential (SOF0) AND
  * progressive (SOF2) FULL pixel decode, no codec library.
  *
  * Encoders — fixture-grade but REAL: valid interleaved baseline
  * streams and multi-scan progressive streams (spectral selection +
  * successive approximation for DC and AC) from caller-supplied
  * QUANTIZED zigzag coefficient blocks. Huffman tables are generated
  * canonically (all DC categories at one code length, all 162 AC
  * run/size symbols at one code length — valid per §C.2 since the
  * all-ones code stays unassigned, so 1-padding can never alias a
  * symbol).
  *
  * Decoder — general: marker walk (DQT 8/16-bit, DHT, SOF0/1/2, DRI,
  * SOS), canonical Huffman decode per §F.2.2 (MINCODE/MAXCODE/VALPTR),
  * a per-component QUANTIZED-coefficient store refined scan by scan —
  * sequential full-band scans, progressive DC first/refinement
  * (point transform = arithmetic shift), progressive AC first/
  * refinement (point transform = integer divide; EOBRUN; correction
  * bits per §G.1.2.3) — with per-scan DC prediction, 0xFF00
  * unstuffing and RSTn restarts; then dequantization, separable
  * double-precision IDCT, nearest chroma upsampling, BT.601
  * YCbCr→RGB. Returns None on malformed input (arithmetic coding,
  * missing tables, truncated entropy data, coefficient overrun...).
  *
  * Scale: decode is a pure per-row map over the binary column —
  * embarrassingly parallel, no shuffle; the same 100 TB shape as the
  * PNG/GIF/TIFF pixel paths (operators/Multimodal.scala).
  */
object Jpeg {

  /** Natural-order index of the k-th zigzag coefficient (T.81 Fig. A.6). */
  val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // ---- generated canonical Huffman specs (encoder side) ----------------

  /** DC: 12 category symbols, all at code length 4 (12 ≤ 2⁴−1 keeps the
    * all-ones code free). Code for symbol s is simply s. */
  private val DcSymbols: Array[Int] = (0 to 11).toArray

  /** AC: EOB/EOBn (run 0–14, size 0 — the n>1 codes are progressive-
    * only), ZRL and every (run,size) pair — 176 symbols, all at code
    * length 8 (176 ≤ 2⁸−1). Code = index in this list. */
  private val AcSymbols: Array[Int] = {
    val b = Array.newBuilder[Int]
    for (r <- 0 to 14) b += (r << 4) // EOB1..EOB32767
    b += 0xF0 // ZRL
    for (r <- 0 to 15; s <- 1 to 10) b += (r << 4) | s
    b.result()
  }

  private val AcCode: Map[Int, Int] = AcSymbols.zipWithIndex.toMap

  private def huffSpec(symbols: Array[Int], len: Int): (Array[Int], Array[Int]) = {
    require(symbols.length < (1 << len), "all-ones code must stay unassigned")
    val bits = Array.fill(16)(0)
    bits(len - 1) = symbols.length
    (bits, symbols)
  }

  // ---- bit I/O with byte stuffing --------------------------------------

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0
    private var nb = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        nb += 1
        if (nb == 8) {
          out.write(acc & 0xff)
          if ((acc & 0xff) == 0xFF) out.write(0x00) // §B.1.1.5 stuffing
          acc = 0; nb = 0
        }
        i -= 1
      }
    }
    /** Pad the current byte with 1-bits (§F.1.2.3). */
    def align(): Unit = if (nb > 0) put((1 << (8 - nb)) - 1, 8 - nb)
    def writeMarker(m: Int): Unit = { align(); out.write(0xFF); out.write(m) }
    def bytes: Array[Byte] = { align(); out.toByteArray }
  }

  private final class Malformed extends RuntimeException

  private final class BitReader(data: Array[Byte], start: Int) {
    private var i = start
    private var acc = 0
    private var nb = 0
    /** Position of the next unread byte (for post-scan marker checks). */
    def pos: Int = i
    def bit(): Int = {
      if (nb == 0) {
        if (i >= data.length) throw new Malformed
        val b = data(i) & 0xff
        i += 1
        if (b == 0xFF) {
          if (i >= data.length) throw new Malformed
          val n = data(i) & 0xff
          if (n == 0x00) i += 1 // stuffed FF
          else throw new Malformed // marker inside entropy data
        }
        acc = b; nb = 8
      }
      nb -= 1
      (acc >>> nb) & 1
    }
    def bits(n: Int): Int = {
      var v = 0
      var k = 0
      while (k < n) { v = (v << 1) | bit(); k += 1 }
      v
    }
    /** Byte-align and consume an expected RSTn marker (§E.2.4). A
      * stuffed FF00 produced by 1-padding the final entropy byte is
      * skipped first (§F.1.2.3 padding + §B.1.1.5 stuffing). */
    def restart(expected: Int): Unit = {
      nb = 0
      while (i + 1 < data.length && (data(i) & 0xff) == 0xFF &&
        (data(i + 1) & 0xff) == 0x00) i += 2
      if (i + 1 >= data.length || (data(i) & 0xff) != 0xFF ||
        (data(i + 1) & 0xff) != (0xD0 | expected)) throw new Malformed
      i += 2
    }
    /** Byte-align after the last decoded unit and return the offset of
      * the next marker (skipping any stuffed pad byte). */
    def endOfScan(): Int = {
      nb = 0
      while (i + 1 < data.length && (data(i) & 0xff) == 0xFF &&
        (data(i + 1) & 0xff) == 0x00) i += 2
      i
    }
  }

  // ---- canonical Huffman decode tables (§F.2.2.1) ----------------------

  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    private var code = 0
    private var k = 0
    for (l <- 1 to 16) {
      if (bits(l - 1) > 0) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        maxCode(l) = code - 1
      }
      code <<= 1
    }
    def decode(r: BitReader): Int = {
      var c = r.bit()
      var l = 1
      while (maxCode(l) < 0 || c > maxCode(l)) {
        c = (c << 1) | r.bit()
        l += 1
        if (l > 16) throw new Malformed
      }
      vals(valPtr(l) + c - minCode(l))
    }
  }

  /** §F.2.2.1 EXTEND: map an s-bit magnitude to its signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private def category(v: Int): Int = {
    var a = math.abs(v)
    var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  // ---- shared segment writer -------------------------------------------

  private def writeHeaders(out: java.io.ByteArrayOutputStream,
                           sofMarker: Int, w: Int, h: Int,
                           samp: Seq[(Int, Int)], quant: Seq[Array[Int]],
                           qsel: Seq[Int], restartInterval: Int): Unit = {
    val nc = samp.length
    def u8(v: Int): Unit = out.write(v & 0xff)
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    marker(0xD8) // SOI
    marker(0xE0); Bytes.putBe16(out, 16) // APP0/JFIF
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1); u8(0); Bytes.putBe16(out, 1); Bytes.putBe16(out, 1); u8(0); u8(0)
    for ((q, tq) <- quant.zipWithIndex) { // DQT, 8-bit precision
      marker(0xDB); Bytes.putBe16(out, 67); u8(tq)
      q.foreach(u8)
    }
    marker(sofMarker); Bytes.putBe16(out, 8 + 3 * nc); u8(8)
    Bytes.putBe16(out, h); Bytes.putBe16(out, w); u8(nc)
    for (c <- 0 until nc) {
      u8(c + 1); u8((samp(c)._1 << 4) | samp(c)._2); u8(qsel(c))
    }
    val (dcBits, dcVals) = huffSpec(DcSymbols, 4)
    val (acBits, acVals) = huffSpec(AcSymbols, 8)
    for ((cls, id, bits, vals) <- Seq(
      (0, 0, dcBits, dcVals), (1, 0, acBits, acVals),
      (0, 1, dcBits, dcVals), (1, 1, acBits, acVals))) {
      marker(0xC4); Bytes.putBe16(out, 19 + vals.length); u8((cls << 4) | id)
      bits.foreach(u8); vals.foreach(u8)
    }
    if (restartInterval > 0) { marker(0xDD); Bytes.putBe16(out, 4); Bytes.putBe16(out, restartInterval) }
  }

  // ---- baseline encoder ------------------------------------------------

  /** Encode an interleaved baseline JPEG from quantized zigzag blocks.
    *
    * @param samp    per-component (h, v) sampling factors (1 or 3 comps)
    * @param quant   the two quant tables in zigzag order (luma, chroma)
    * @param qsel    per-component quant table selector
    * @param blocks  (comp, seq) → 64 quantized zigzag coefficients; seq
    *                counts blocks of that component in MCU scan order
    * @param restartInterval MCUs between RSTn markers; 0 = none
    */
  def encodeBaseline(w: Int, h: Int,
                     samp: Seq[(Int, Int)],
                     quant: Seq[Array[Int]],
                     qsel: Seq[Int],
                     blocks: (Int, Int) => Array[Int],
                     restartInterval: Int = 0): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 65535 && h <= 65535)
    require(samp.length == 1 || samp.length == 3)
    val nc = samp.length
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    writeHeaders(out, 0xC0, w, h, samp, quant, qsel, restartInterval)
    marker(0xDA); Bytes.putBe16(out, 6 + 2 * nc); u8(nc) // SOS
    for (c <- 0 until nc) {
      val t = if (c == 0) 0 else 1
      u8(c + 1); u8((t << 4) | t)
    }
    u8(0); u8(63); u8(0)
    val bw = new BitWriter
    val hmax = samp.map(_._1).max
    val vmax = samp.map(_._2).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    val pred = new Array[Int](nc)
    val seq = new Array[Int](nc)
    var rst = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bw.writeMarker(0xD0 | rst)
        rst = (rst + 1) % 8
        java.util.Arrays.fill(pred, 0)
      }
      for (c <- 0 until nc; _ <- 0 until samp(c)._1 * samp(c)._2) {
        val zz = blocks(c, seq(c))
        seq(c) += 1
        require(zz.length == 64)
        val diff = zz(0) - pred(c)
        pred(c) = zz(0)
        val s = category(diff)
        bw.put(s, 4) // DC: code == symbol at length 4
        if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
        var k = 1
        var run = 0
        while (k <= 63) {
          if (zz(k) == 0) run += 1
          else {
            while (run > 15) { bw.put(AcCode(0xF0), 8); run -= 16 }
            val sz = category(zz(k))
            require(sz <= 10, "AC coefficient too large for baseline fixture")
            bw.put(AcCode((run << 4) | sz), 8)
            bw.put(if (zz(k) >= 0) zz(k) else zz(k) + (1 << sz) - 1, sz)
            run = 0
          }
          k += 1
        }
        if (run > 0) bw.put(AcCode(0x00), 8) // EOB
      }
      mcu += 1
    }
    out.write(bw.bytes)
    marker(0xD9) // EOI
    out.toByteArray
  }

  // ---- progressive encoder ---------------------------------------------

  /** One progressive scan: which components (indices into samp), the
    * spectral band [ss, se] and the successive-approximation bits
    * (ah = previous Al or 0 for a first scan; al = this scan's low
    * bit). DC scans have ss=se=0 and may interleave components; AC
    * scans cover one component. */
  final case class ScanSpec(comps: Seq[Int], ss: Int, se: Int,
                            ah: Int, al: Int)

  /** Encode a multi-scan progressive (SOF2) JPEG from quantized zigzag
    * blocks — spectral selection and successive approximation for both
    * DC (point transform = arithmetic shift, §G.1.2.1) and AC (point
    * transform = integer divide toward zero, §G.1.2.2; EOBRUN with
    * buffered correction bits in refinement scans, mirroring the
    * decoder's §G.1.2.3). blocks(comp, seq) always indexes blocks in
    * MCU scan order (the baseline encoder's convention); AC scans walk
    * the component's raster grid and map back to that order. */
  def encodeProgressive(w: Int, h: Int,
                        samp: Seq[(Int, Int)],
                        quant: Seq[Array[Int]],
                        qsel: Seq[Int],
                        blocks: (Int, Int) => Array[Int],
                        scans: Seq[ScanSpec]): Array[Byte] = {
    require(w > 0 && h > 0 && w <= 65535 && h <= 65535)
    require(samp.length == 1 || samp.length == 3)
    val nc = samp.length
    val hmax = samp.map(_._1).max
    val vmax = samp.map(_._2).max
    val mcusX = (w + 8 * hmax - 1) / (8 * hmax)
    val mcusY = (h + 8 * vmax - 1) / (8 * vmax)
    // exact (non-padded) block grid per component for AC scans
    def nbx(c: Int): Int = (((w * samp(c)._1 + hmax - 1) / hmax) + 7) / 8
    def nby(c: Int): Int = (((h * samp(c)._2 + vmax - 1) / vmax) + 7) / 8
    // raster grid position → the provider's MCU-scan-order sequence
    def rasterSeq(c: Int, b: Int): Int = {
      val (ch, cv) = samp(c)
      val bx = b % nbx(c)
      val by = b / nbx(c)
      val mcu = (by / cv) * mcusX + (bx / ch)
      mcu * ch * cv + (by % cv) * ch + (bx % ch)
    }
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def marker(m: Int): Unit = { u8(0xFF); u8(m) }
    writeHeaders(out, 0xC2, w, h, samp, quant, qsel, 0)
    for (scan <- scans) {
      val ScanSpec(sc, ss, se, ah, al) = scan
      require(ss >= 0 && se <= 63 && ss <= se)
      require(if (ss == 0) se == 0 else sc.length == 1,
        "progressive: DC alone; AC single-component")
      marker(0xDA); Bytes.putBe16(out, 6 + 2 * sc.length); u8(sc.length)
      for (c <- sc) {
        val t = if (c == 0) 0 else 1
        u8(c + 1); u8((t << 4) | t)
      }
      u8(ss); u8(se); u8((ah << 4) | al)
      val bw = new BitWriter
      if (ss == 0 && ah == 0) { // DC first scan
        val pred = new Array[Int](nc)
        val seq = new Array[Int](nc)
        var mcu = 0
        while (mcu < mcusX * mcusY) {
          for (c <- sc; _ <- 0 until samp(c)._1 * samp(c)._2) {
            val v = blocks(c, seq(c))(0) >> al // arithmetic shift
            seq(c) += 1
            val diff = v - pred(c)
            pred(c) = v
            val s = category(diff)
            bw.put(s, 4)
            if (s > 0) bw.put(if (diff >= 0) diff else diff + (1 << s) - 1, s)
          }
          mcu += 1
        }
      } else if (ss == 0) { // DC refinement: one bit per block
        val seq = new Array[Int](nc)
        var mcu = 0
        while (mcu < mcusX * mcusY) {
          for (c <- sc; _ <- 0 until samp(c)._1 * samp(c)._2) {
            bw.put((blocks(c, seq(c))(0) >> al) & 1, 1)
            seq(c) += 1
          }
          mcu += 1
        }
      } else if (ah == 0) { // AC first scan (single component)
        val c = sc.head
        val n = nbx(c) * nby(c)
        var eobrun = 0
        def flushEob(): Unit = if (eobrun > 0) {
          val r = 31 - Integer.numberOfLeadingZeros(eobrun)
          bw.put(AcCode(r << 4), 8)
          if (r > 0) bw.put(eobrun - (1 << r), r)
          eobrun = 0
        }
        var b = 0
        while (b < n) {
          val zz = blocks(c, rasterSeq(c, b))
          // point-transformed band values (integer divide toward zero)
          var k = ss
          var run = 0
          var any = false
          while (k <= se) {
            val vt = zz(k) / (1 << al)
            if (vt == 0) run += 1
            else {
              if (!any) { flushEob(); any = true }
              while (run > 15) { bw.put(AcCode(0xF0), 8); run -= 16 }
              val s = category(vt)
              require(s <= 10)
              bw.put(AcCode((run << 4) | s), 8)
              bw.put(if (vt >= 0) vt else vt + (1 << s) - 1, s)
              run = 0
            }
            k += 1
          }
          if (!any) {
            eobrun += 1
            if (eobrun == 0x7FFF) flushEob()
          } else if (run > 0) bw.put(AcCode(0x00), 8) // in-block EOB
          b += 1
        }
        flushEob()
      } else { // AC refinement scan (§G.1.2.3 mirror)
        require(ah == al + 1, "successive approximation refines one bit")
        val c = sc.head
        val n = nbx(c) * nby(c)
        val p1 = 1 << al
        var eobrun = 0
        val pending = new scala.collection.mutable.ArrayBuffer[Int]()
        def flushEob(): Unit = {
          if (eobrun > 0) {
            val r = 31 - Integer.numberOfLeadingZeros(eobrun)
            bw.put(AcCode(r << 4), 8)
            if (r > 0) bw.put(eobrun - (1 << r), r)
            eobrun = 0
          }
          pending.foreach(bw.put(_, 1))
          pending.clear()
        }
        var b = 0
        while (b < n) {
          val zz = blocks(c, rasterSeq(c, b))
          val absT = new Array[Int](64)
          var eobPos = ss - 1 // last newly-significant index
          var k = ss
          while (k <= se) {
            absT(k) = math.abs(zz(k)) >> al
            if (absT(k) == 1) eobPos = k
            k += 1
          }
          var run = 0
          val corr = new scala.collection.mutable.ArrayBuffer[Int]()
          k = ss
          while (k <= se) {
            val t = absT(k)
            if (t == 0) run += 1
            else {
              // ZRL drain happens at EVERY nonzero position so no
              // buffered correction bit ever sits more than 15 zeros
              // deep — that keeps the decoder's walk (which reads a
              // ZRL's correction bits only up to its 16th zero slot)
              // in sync. Runs past the last placement fold into EOB.
              while (run > 15 && k <= eobPos) {
                flushEob()
                bw.put(AcCode(0xF0), 8); run -= 16
                corr.foreach(bw.put(_, 1)); corr.clear()
              }
              if (t > 1) corr += (t & 1) // already-significant: bit
              else { // newly significant (|Vt| == 1)
                flushEob()
                bw.put(AcCode((run << 4) | 1), 8)
                bw.put(if (zz(k) >= 0) 1 else 0, 1) // sign bit
                corr.foreach(bw.put(_, 1)); corr.clear()
                run = 0
              }
            }
            k += 1
          }
          if (run > 0 || corr.nonEmpty) {
            eobrun += 1
            pending ++= corr
            if (eobrun == 0x7FFF) flushEob()
          }
          b += 1
        }
        flushEob()
      }
      out.write(bw.bytes)
    }
    marker(0xD9)
    out.toByteArray
  }

  // ---- decoder ---------------------------------------------------------

  private final case class Comp(id: Int, h: Int, v: Int, tq: Int,
                                var td: Int = 0, var ta: Int = 0)

  private val idctCos: Array[Array[Double]] = {
    val m = Array.ofDim[Double](8, 8)
    for (u <- 0 until 8; x <- 0 until 8) {
      val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
      m(u)(x) = c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
    }
    m
  }

  /** Separable IDCT of a natural-order coefficient block → 64 pixel
    * bytes (level-shifted +128, clamped). Double precision: DC-only
    * blocks with DC a multiple of 8 reconstruct bit-exactly. */
  private def idct(coef: Array[Int], outPx: Array[Int]): Unit = {
    val tmp = new Array[Double](64)
    var v = 0
    while (v < 8) { // rows: tmp(v, x) = Σ_u C(u) F(v,u) cos_u(x)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += idctCos(u)(x) * coef(v * 8 + u); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    var y = 0
    while (y < 8) { // cols: f(y,x) = ¼ Σ_v C(v) tmp(v,x) cos_v(y)
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += idctCos(vv)(y) * tmp(vv * 8 + x); vv += 1 }
        val p = Math.round(s / 4.0 + 128.0).toInt
        outPx(y * 8 + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
  }

  /** Full decode (baseline or progressive) → (width, height, RGB
    * bytes). None on any malformed structure. */
  def decodePixels(data: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    try decode0(data) catch {
      case _: Malformed | _: ArrayIndexOutOfBoundsException => None
    }

  private def decode0(data: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (data.length < 4 || (data(0) & 0xff) != 0xFF ||
      (data(1) & 0xff) != 0xD8) return None
    val quant = new Array[Array[Int]](4)
    val huffDC = new Array[HuffTable](4)
    val huffAC = new Array[HuffTable](4)
    var comps: Array[Comp] = null
    var progressive = false
    var w = 0
    var h = 0
    var restartInterval = 0
    // per-component quantized coefficient stores (MCU-padded grids)
    var coefs: Array[Array[Int]] = null
    var bwBlocks: Array[Int] = null // padded blocks per line, per comp
    var bhBlocks: Array[Int] = null
    var hmax = 0
    var vmax = 0
    var mcusX = 0
    var mcusY = 0
    var nScans = 0
    var i = 2
    var done = false
    while (!done) {
      if (i + 1 >= data.length) return None
      if ((data(i) & 0xff) != 0xFF) return None
      var m = data(i + 1) & 0xff
      while (m == 0xFF && i + 2 < data.length) { i += 1; m = data(i + 1) & 0xff }
      if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) { i += 2 }
      else if (m == 0xD9) { done = true } // EOI
      else {
        if (i + 3 >= data.length) return None
        val len = ((data(i + 2) & 0xff) << 8) | (data(i + 3) & 0xff)
        if (len < 2 || i + 2 + len > data.length) return None
        val seg = i + 4
        val segEnd = i + 2 + len
        var next = segEnd
        m match {
          case 0xDB => // DQT: one or more tables per segment
            var p = seg
            while (p < segEnd) {
              val pq = (data(p) & 0xff) >> 4
              val tq = data(p) & 0x0f
              if (tq > 3 || pq > 1) return None
              val n = if (pq == 0) 64 else 128
              if (p + 1 + n > segEnd) return None
              val q = new Array[Int](64)
              var k = 0
              while (k < 64) {
                q(k) =
                  if (pq == 0) data(p + 1 + k) & 0xff
                  else ((data(p + 1 + 2 * k) & 0xff) << 8) |
                    (data(p + 2 + 2 * k) & 0xff)
                k += 1
              }
              quant(tq) = q
              p += 1 + n
            }
          case 0xC4 => // DHT: one or more tables per segment
            var p = seg
            while (p < segEnd) {
              val cls = (data(p) & 0xff) >> 4
              val id = data(p) & 0x0f
              if (cls > 1 || id > 3 || p + 17 > segEnd) return None
              val bits = Array.tabulate(16)(k => data(p + 1 + k) & 0xff)
              val n = bits.sum
              if (n > 256 || p + 17 + n > segEnd) return None
              val vals = Array.tabulate(n)(k => data(p + 17 + k) & 0xff)
              val t = new HuffTable(bits, vals)
              if (cls == 0) huffDC(id) = t else huffAC(id) = t
              p += 17 + n
            }
          case 0xC0 | 0xC1 | 0xC2 => // SOF0/1 sequential, SOF2 progressive
            if (comps != null || len < 11) return None
            progressive = m == 0xC2
            if ((data(seg) & 0xff) != 8) return None // precision
            h = ((data(seg + 1) & 0xff) << 8) | (data(seg + 2) & 0xff)
            w = ((data(seg + 3) & 0xff) << 8) | (data(seg + 4) & 0xff)
            val nc = data(seg + 5) & 0xff
            if (w == 0 || h == 0 || (nc != 1 && nc != 3)) return None
            if (len != 8 + 3 * nc) return None
            comps = Array.tabulate(nc) { c =>
              val o = seg + 6 + 3 * c
              val cc = Comp(data(o) & 0xff, (data(o + 1) & 0xff) >> 4,
                data(o + 1) & 0x0f, data(o + 2) & 0xff)
              if (cc.h < 1 || cc.h > 4 || cc.v < 1 || cc.v > 4 || cc.tq > 3)
                return None
              cc
            }
            hmax = comps.map(_.h).max
            vmax = comps.map(_.v).max
            mcusX = (w + 8 * hmax - 1) / (8 * hmax)
            mcusY = (h + 8 * vmax - 1) / (8 * vmax)
            bwBlocks = comps.map(c => mcusX * c.h)
            bhBlocks = comps.map(c => mcusY * c.v)
            coefs = comps.indices.map(c =>
              new Array[Int](bwBlocks(c) * bhBlocks(c) * 64)).toArray
          case 0xC3 | 0xC5 | 0xC6 | 0xC7 | 0xC9 | 0xCA | 0xCB |
               0xCD | 0xCE | 0xCF =>
            return None // lossless / arithmetic / hierarchical
          case 0xDD =>
            if (len != 4) return None
            restartInterval = ((data(seg) & 0xff) << 8) | (data(seg + 1) & 0xff)
          case 0xDA =>
            if (comps == null) return None
            val ns = data(seg) & 0xff
            if (ns < 1 || ns > comps.length || len != 6 + 2 * ns) return None
            val scanComps = new Array[Int](ns)
            for (k <- 0 until ns) {
              val cid = data(seg + 1 + 2 * k) & 0xff
              val tt = data(seg + 2 + 2 * k) & 0xff
              val ci = comps.indexWhere(_.id == cid)
              if (ci < 0) return None
              comps(ci).td = tt >> 4
              comps(ci).ta = tt & 0x0f
              scanComps(k) = ci
            }
            val ss = data(segEnd - 3) & 0xff
            val se = data(segEnd - 2) & 0xff
            val ah = (data(segEnd - 1) & 0xff) >> 4
            val al = data(segEnd - 1) & 0x0f
            if (!progressive && (ss != 0 || se != 63 || ah != 0 || al != 0))
              return None
            if (progressive) {
              if (ss == 0 && se != 0) return None // DC scans are DC-only
              if (ss > 0 && (se > 63 || ss > se || ns != 1)) return None
              if (al > 13 || (ah != 0 && ah != al + 1)) return None
            }
            next = decodeScan(data, segEnd, comps, scanComps, ss, se, ah, al,
              quant, huffDC, huffAC, restartInterval, w, h, hmax, vmax,
              mcusX, mcusY, coefs, bwBlocks, progressive)
            nScans += 1
          case _ => // APPn/COM/unknown: skip
        }
        if (!done) i = next
      }
    }
    if (comps == null || nScans == 0) return None
    for (c <- comps) if (quant(c.tq) == null) return None
    // dequantize + IDCT every stored block into MCU-padded planes
    val planeW = bwBlocks.map(_ * 8)
    val planes = comps.indices.map(c =>
      new Array[Byte](planeW(c) * bhBlocks(c) * 8)).toArray
    val nat = new Array[Int](64)
    val px = new Array[Int](64)
    // quant table in natural order per comp
    val qNat = comps.map { c =>
      val q = new Array[Int](64)
      var k = 0
      while (k < 64) { q(Zigzag(k)) = quant(c.tq)(k); k += 1 }
      q
    }
    var ci = 0
    while (ci < comps.length) {
      val cf = coefs(ci)
      val pw = planeW(ci)
      var by = 0
      while (by < bhBlocks(ci)) {
        var bx = 0
        while (bx < bwBlocks(ci)) {
          val base = (by * bwBlocks(ci) + bx) * 64
          var k = 0
          while (k < 64) { nat(k) = cf(base + k) * qNat(ci)(k); k += 1 }
          idct(nat, px)
          var yy = 0
          while (yy < 8) {
            var xx = 0
            while (xx < 8) {
              planes(ci)((by * 8 + yy) * pw + bx * 8 + xx) =
                px(yy * 8 + xx).toByte
              xx += 1
            }
            yy += 1
          }
          bx += 1
        }
        by += 1
      }
      ci += 1
    }
    // compose RGB (nearest upsampling of subsampled components)
    val rgb = new Array[Byte](w * h * 3)
    if (comps.length == 1) {
      val pw = planeW(0)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val g = planes(0)(y * pw + x)
          val o = (y * w + x) * 3
          rgb(o) = g; rgb(o + 1) = g; rgb(o + 2) = g
          x += 1
        }
        y += 1
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          def sample(ci: Int): Int = {
            val c = comps(ci)
            val sx = x * c.h / hmax
            val sy = y * c.v / vmax
            planes(ci)(sy * planeW(ci) + sx) & 0xff
          }
          val yy = sample(0).toDouble
          val cb = sample(1) - 128.0
          val cr = sample(2) - 128.0
          def clamp(d: Double): Byte = {
            val p = Math.round(d).toInt
            (if (p < 0) 0 else if (p > 255) 255 else p).toByte
          }
          val o = (y * w + x) * 3
          rgb(o) = clamp(yy + 1.402 * cr)
          rgb(o + 1) = clamp(yy - 0.344136 * cb - 0.714136 * cr)
          rgb(o + 2) = clamp(yy + 1.772 * cb)
          x += 1
        }
        y += 1
      }
    }
    Some((w, h, rgb))
  }

  /** Decode one entropy-coded scan into the coefficient stores; returns
    * the offset of the marker that follows the scan data. */
  private def decodeScan(data: Array[Byte], start: Int, comps: Array[Comp],
                         scanComps: Array[Int], ss: Int, se: Int,
                         ah: Int, al: Int, quant: Array[Array[Int]],
                         huffDC: Array[HuffTable], huffAC: Array[HuffTable],
                         restartInterval: Int, w: Int, h: Int,
                         hmax: Int, vmax: Int, mcusX: Int, mcusY: Int,
                         coefs: Array[Array[Int]], bwBlocks: Array[Int],
                         progressive: Boolean): Int = {
    val r = new BitReader(data, start)
    val pred = new Array[Int](comps.length)
    var eobrun = 0
    val dcScan = ss == 0
    val needDC = dcScan
    val needAC = !dcScan || !progressive
    for (ci <- scanComps) {
      val c = comps(ci)
      if (needDC && ah == 0 && huffDC(c.td) == null) throw new Malformed
      if (needAC && huffAC(c.ta) == null) throw new Malformed
    }

    // ---- per-block decoders (store QUANTIZED coefficients) -------------
    def seqBlock(ci: Int, base: Int): Unit = {
      val c = comps(ci)
      val cf = coefs(ci)
      val t = huffDC(c.td).decode(r)
      if (t > 11) throw new Malformed
      pred(ci) += extend(r.bits(t), t)
      cf(base) = pred(ci)
      var k = 1
      var eob = false
      while (k <= 63 && !eob) {
        val rs = huffAC(c.ta).decode(r)
        val run = rs >> 4
        val sz = rs & 0x0f
        if (sz == 0) {
          if (run == 15) k += 16 else eob = true
        } else {
          k += run
          if (k > 63) throw new Malformed
          cf(base + Zigzag(k)) = extend(r.bits(sz), sz)
          k += 1
        }
      }
    }

    def dcFirst(ci: Int, base: Int): Unit = {
      val c = comps(ci)
      val t = huffDC(c.td).decode(r)
      if (t > 11) throw new Malformed
      pred(ci) += extend(r.bits(t), t)
      coefs(ci)(base) = pred(ci) << al
    }

    def dcRefine(ci: Int, base: Int): Unit =
      if (r.bit() == 1) coefs(ci)(base) += (1 << al)

    def acFirst(ci: Int, base: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      val cf = coefs(ci)
      val ac = huffAC(comps(ci).ta)
      var k = ss
      var eob = false
      while (k <= se && !eob) {
        val rs = ac.decode(r)
        val run = rs >> 4
        val sz = rs & 0x0f
        if (sz == 0) {
          if (run < 15) {
            eobrun = (1 << run) + (if (run > 0) r.bits(run) else 0) - 1
            eob = true
          } else k += 16
        } else {
          k += run
          if (k > se) throw new Malformed
          cf(base + Zigzag(k)) = extend(r.bits(sz), sz) << al
          k += 1
        }
      }
    }

    /** §G.1.2.3 AC refinement (structure mirrors the public IJG
      * decode_mcu_AC_refine): newly-significant coefficients arrive as
      * ±1<<Al at zero-history positions; every nonzero-history
      * coefficient passed — including during ZRL runs and EOB runs —
      * absorbs one correction bit. */
    def acRefine(ci: Int, base: Int): Unit = {
      val cf = coefs(ci)
      val ac = huffAC(comps(ci).ta)
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var eob = false
        while (k <= se && !eob) {
          val rs = ac.decode(r)
          var run = rs >> 4
          val sz = rs & 0x0f
          var newval = 0
          if (sz == 0) {
            if (run < 15) {
              eobrun = (1 << run) + (if (run > 0) r.bits(run) else 0)
              eob = true // remaining band handled below; eobrun-- there
            }
            // run == 15: ZRL — skip 16 zero-history positions
          } else {
            if (sz != 1) throw new Malformed
            newval = if (r.bit() == 1) p1 else m1
          }
          if (!eob) {
            var placed = false
            while (!placed && k <= se) {
              val idx = base + Zigzag(k)
              if (cf(idx) != 0) {
                if (r.bit() == 1 && (cf(idx) & p1) == 0)
                  cf(idx) += (if (cf(idx) >= 0) p1 else m1)
              } else {
                if (run == 0) placed = true
                else run -= 1
              }
              if (!placed) k += 1
            }
            if (sz != 0) {
              if (k > se) throw new Malformed
              cf(base + Zigzag(k)) = newval
            }
            k += 1
          }
        }
      }
      if (eobrun > 0) {
        // correction bits for every remaining nonzero coefficient
        while (k <= se) {
          val idx = base + Zigzag(k)
          if (cf(idx) != 0) {
            if (r.bit() == 1 && (cf(idx) & p1) == 0)
              cf(idx) += (if (cf(idx) >= 0) p1 else m1)
          }
          k += 1
        }
        eobrun -= 1
      }
    }

    def decodeBlock(ci: Int, bx: Int, by: Int): Unit = {
      val base = (by * bwBlocks(ci) + bx) * 64
      if (!progressive) seqBlock(ci, base)
      else if (dcScan) { if (ah == 0) dcFirst(ci, base) else dcRefine(ci, base) }
      else { if (ah == 0) acFirst(ci, base) else acRefine(ci, base) }
    }

    // ---- scan loop: interleaved MCUs or single-component raster --------
    var rst = 0
    def maybeRestart(unit: Int): Unit =
      if (restartInterval > 0 && unit > 0 && unit % restartInterval == 0) {
        r.restart(rst)
        rst = (rst + 1) % 8
        java.util.Arrays.fill(pred, 0)
        eobrun = 0
      }
    if (scanComps.length > 1) { // interleaved (MCU order)
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        maybeRestart(mcu)
        val mx = mcu % mcusX
        val my = mcu / mcusX
        for (ci <- scanComps) {
          val c = comps(ci)
          var by = 0
          while (by < c.v) {
            var bx = 0
            while (bx < c.h) {
              decodeBlock(ci, mx * c.h + bx, my * c.v + by)
              bx += 1
            }
            by += 1
          }
        }
        mcu += 1
      }
    } else { // single component: raster over its exact block grid
      val ci = scanComps(0)
      val c = comps(ci)
      val nx = (((w * c.h + hmax - 1) / hmax) + 7) / 8
      val ny = (((h * c.v + vmax - 1) / vmax) + 7) / 8
      var b = 0
      while (b < nx * ny) {
        maybeRestart(b)
        decodeBlock(ci, b % nx, b / nx)
        b += 1
      }
    }
    r.endOfScan()
  }

  // ---- fixture encoders for the oracle queries -------------------------

  /** Oracle-exact BASELINE fixture: a bw×bh-block 4:4:4 color JPEG
    * where Y block k (raster order) is the CONSTANT payload byte
    * k mod len, Cb is constant 128 and Cr constant 133, all
    * quantizers 1. Constant blocks are DC-only, DC = 8·(v−128) is a
    * multiple of 8, so the double IDCT reconstructs v bit-exactly; the
    * fixed chroma offsets make the BT.601 conversion land at exactly
    * (v+7, v−4, v) per pixel (fractions .01 and .43 — no rounding
    * ties), so the DuckDB oracle predicts per-channel sums in pure
    * integer arithmetic while the decode still runs the whole baseline
    * path: Huffman, DC prediction, stuffing, dequant, IDCT, color
    * convert. */
  def encodePixels(bw: Int, bh: Int, payload: Array[Byte]): Array[Byte] = {
    require(bw > 0 && bh > 0 && payload.nonEmpty)
    val ones = Array.fill(64)(1)
    def dcOnly(dc: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = dc
      a
    }
    val cb = dcOnly(0) // 128 after level shift
    val cr = dcOnly(8 * 5) // 133
    encodeBaseline(8 * bw, 8 * bh, Seq((1, 1), (1, 1), (1, 1)),
      Seq(ones, ones), Seq(0, 1, 1),
      (c, seq) => c match {
        case 0 => dcOnly(8 * ((payload(seq % payload.length) & 0xff) - 128))
        case 1 => cb
        case _ => cr
      })
  }

  /** Oracle-exact PROGRESSIVE fixture: the same constant-block color
    * construction re-expressed as a 7-scan SOF2 stream — but with DC
    * quantizer 8 (stored DC = v−128, dequant restores 8·(v−128)
    * exactly) so the DC values carry live low bits through TWO
    * successive-approximation refinement scans, and split AC bands so
    * spectral selection and EOBRUN decode are on the oracle path too.
    * Scans: DC first Al=2 (all comps interleaved), DC refine Al=1,
    * DC refine Al=0, then per-component AC 1–5 and 6–63 first scans
    * (all-zero bands → pure EOBn runs). Decoded pixels are exactly
    * (v+7, v−4, v) — the baseline oracle arithmetic. */
  def encodeProgressivePixels(bw: Int, bh: Int,
                              payload: Array[Byte]): Array[Byte] = {
    require(bw > 0 && bh > 0 && payload.nonEmpty)
    val q = Array.tabulate(64)(k => if (k == 0) 8 else 1)
    def dcOnly(dc: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = dc
      a
    }
    val cb = dcOnly(0)
    val cr = dcOnly(5) // ×8 → 40 → Cr = 133
    encodeProgressive(8 * bw, 8 * bh, Seq((1, 1), (1, 1), (1, 1)),
      Seq(q, q), Seq(0, 1, 1),
      (c, seq) => c match {
        case 0 => dcOnly((payload(seq % payload.length) & 0xff) - 128)
        case 1 => cb
        case _ => cr
      },
      Seq(
        ScanSpec(Seq(0, 1, 2), 0, 0, 0, 2),
        ScanSpec(Seq(0, 1, 2), 0, 0, 2, 1),
        ScanSpec(Seq(0, 1, 2), 0, 0, 1, 0),
        ScanSpec(Seq(0), 1, 5, 0, 0),
        ScanSpec(Seq(0), 6, 63, 0, 0),
        ScanSpec(Seq(1), 1, 63, 0, 0),
        ScanSpec(Seq(2), 1, 63, 0, 0)))
  }
}
