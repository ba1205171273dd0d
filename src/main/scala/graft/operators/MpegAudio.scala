package graft.operators

/** MPEG-1 Audio Layer I (ISO 11172-3) — REAL bitstream decode in pure
  * JVM: frame-header walk, 4-bit subband allocation, 6-bit
  * scalefactors, the interleaved 12×32 sample grid, and the Layer I
  * requantization formula
  * `s' = sf · (2^nb/(2^nb−1)) · (c/2^(nb−1) − 1 + 2^(1−nb))`.
  * Scalefactors follow the closed form `sf(idx) = 2·2^(−idx/3)` (the
  * table in the spec IS this geometric sequence), so no opaque
  * tabulated data is needed; the synthesis polyphase WINDOW (Table
  * 3-B.3) is numerically tabulated in the spec with no closed form,
  * so the PCM synthesis step stays honestly out of scope — subband
  * amplitudes are the decoder's output, exactly as a feature
  * extractor consumes them.
  *
  * Fixtures keep scalefactor indices at multiples of 3, making every
  * factor a power of two: the whole requantization chain is then
  * exact-or-single-rounded IEEE arithmetic that a SQL oracle
  * reproduces bit-identically. */
object MpegAudio {

  /** The frame's bits, zero-padded to `padTo` bytes. */
  private def paddedFrame(w: Bytes.BitWriter, padTo: Int): Array[Byte] = {
    val b = w.toByteArray
    java.util.Arrays.copyOf(b, b.length max padTo)
  }

  /** 32000 Hz mono, 64 kbps → 24 four-byte slots = 96-byte frames. */
  final val FrameBytes = 96

  /** One Layer I frame from per-subband (allocationNb, scfIdx, codes):
    * `allocs(sb)` is the CODED allocation (0 = silent, a → a+1 sample
    * bits); codes are the 12 raw samples of each active subband,
    * written in the spec's sample-major interleave. */
  def encodeFrame(allocs: Array[Int], scf: Array[Int],
      codes: Array[Array[Int]]): Array[Byte] = {
    require(allocs.length == 32)
    val w = new Bytes.BitWriter
    w.write(0xFFF, 12) // sync
    w.write(1, 1)      // MPEG1
    w.write(3, 2)      // Layer I
    w.write(1, 1)      // no CRC
    w.write(2, 4)      // bitrate index 2 = 64 kbps
    w.write(2, 2)      // 32000 Hz
    w.write(0, 2)      // no padding, private 0
    w.write(3, 2)      // mono
    w.write(0, 6)      // mode ext / copyright / original / emphasis
    for (sb <- 0 until 32) w.write(allocs(sb), 4)
    for (sb <- 0 until 32; if allocs(sb) > 0) w.write(scf(sb), 6)
    for (s <- 0 until 12; sb <- 0 until 32; if allocs(sb) > 0)
      w.write(codes(sb)(s), allocs(sb) + 1)
    paddedFrame(w, FrameBytes)
  }

  /** Decoded facts of one frame: active subbands, the raw-code sum,
    * and the requantized amplitude in summed integer micro-units. */
  final case class Mp1Frame(nActive: Int, sumCodes: Long, ampMicro: Long)

  private def rndAway(d: Double): Long =
    (if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)).toLong

  // ── MPEG-1 Audio Layer II (ISO 11172-3 §2.4.2.6 / §2.4.3.3) ──────
  //
  // Real bitstream decode of the dominant broadcast layer: the
  // table-driven bit allocation of Table 3-B.2a (27 subbands in four
  // nbal classes), SCFSI scalefactor sharing, grouped quantizers
  // (3/5/9 steps pack three samples into one 5/7/10-bit codeword) and
  // the Layer II requantization s'' = C·(s''' + D) with
  // C = 2^nb / m and D = 0.5 (grouped) or 2^(1−nb) (ungrouped) —
  // Table 3-B.4's constants ARE these closed forms, so like Layer I
  // no opaque tabulated data is needed; the synthesis window stays
  // out of scope (same honesty boundary as Layer I).

  /** Table 3-B.2a quantizer step-lists per subband class (the printed
    * allocation table): coded index 0 = silent, index k ≥ 1 selects
    * the k-th step count. */
  private val Q2aLow = Array( // sb 0..2, nbal = 4
    3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 16383,
    32767, 65535)
  private val Q2aMid = Array( // sb 3..10, nbal = 4
    3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047, 4095, 8191, 65535)
  private val Q2aHigh = Array( // sb 11..22, nbal = 3
    3, 5, 7, 9, 15, 31, 65535)
  private val Q2aTop = Array( // sb 23..26, nbal = 2
    3, 5, 65535)

  /** Subbands coded under Table 3-B.2a. */
  final val L2SbLimit = 27

  private[graft] def l2Nbal(sb: Int): Int =
    if (sb < 11) 4 else if (sb < 23) 3 else 2
  private[graft] def l2Steps(sb: Int, idx: Int): Int =
    if (idx == 0) 0
    else (if (sb < 3) Q2aLow
      else if (sb < 11) Q2aMid
      else if (sb < 23) Q2aHigh
      else Q2aTop)(idx - 1)

  /** Grouped quantizers pack 3 samples into one codeword. */
  private[graft] def l2Grouped(m: Int): Boolean =
    m == 3 || m == 5 || m == 9
  /** Bits of one (ungrouped) sample / of the degrouped fraction:
    * smallest nb with 2^nb > m. */
  private[graft] def l2SampleBits(m: Int): Int =
    32 - Integer.numberOfLeadingZeros(m)
  /** Bits of one codeword: grouped quantizers code 3 samples at once
    * (5/7/10 bits for 3/5/9 steps — ⌈log2 m³⌉). */
  private[graft] def l2CodeBits(m: Int): Int = m match {
    case 3 => 5
    case 5 => 7
    case 9 => 10
    case _ => l2SampleBits(m)
  }

  /** 32000 Hz mono 64 kbps Layer II → 144·64000/32000 = 288-byte
    * frames (1152 samples). */
  final val L2FrameBytes = 288

  /** One Layer II frame (Table 3-B.2a layout, 32 kHz / 64 kbps mono)
    * from per-subband coded allocation indices, SCFSI, the
    * TRANSMITTED scalefactor slots (3 values; which ones hit the
    * stream follows scfsi) and 36 raw samples per active subband.
    * Grouped quantizers pack each sample triple into one codeword. */
  def encodeFrameL2(allocIdx: Array[Int], scfsi: Array[Int],
      scf: Array[Array[Int]], samples: Array[Array[Int]]): Array[Byte] = {
    require(allocIdx.length == L2SbLimit)
    val w = new Bytes.BitWriter
    w.write(0xFFF, 12) // sync
    w.write(1, 1)      // MPEG1
    w.write(2, 2)      // Layer II
    w.write(1, 1)      // no CRC
    w.write(4, 4)      // bitrate index 4 = 64 kbps (Layer II table)
    w.write(2, 2)      // 32000 Hz
    w.write(0, 2)      // no padding, private 0
    w.write(3, 2)      // mono
    w.write(0, 6)      // mode ext / copyright / original / emphasis
    for (sb <- 0 until L2SbLimit) w.write(allocIdx(sb), l2Nbal(sb))
    for (sb <- 0 until L2SbLimit if allocIdx(sb) > 0) w.write(scfsi(sb), 2)
    for (sb <- 0 until L2SbLimit if allocIdx(sb) > 0) scfsi(sb) match {
      case 0 => w.write(scf(sb)(0), 6); w.write(scf(sb)(1), 6)
        w.write(scf(sb)(2), 6)
      case 1 => w.write(scf(sb)(0), 6); w.write(scf(sb)(2), 6)
      case 2 => w.write(scf(sb)(0), 6)
      case _ => w.write(scf(sb)(0), 6); w.write(scf(sb)(1), 6)
    }
    // 12 granules × 3 samples; part boundary every 4 granules
    for (gr <- 0 until 12; sb <- 0 until L2SbLimit if allocIdx(sb) > 0) {
      val m = l2Steps(sb, allocIdx(sb))
      val s0 = samples(sb)(gr * 3)
      val s1 = samples(sb)(gr * 3 + 1)
      val s2 = samples(sb)(gr * 3 + 2)
      if (l2Grouped(m)) w.write(s0 + m * s1 + m * m * s2, l2CodeBits(m))
      else {
        val nb = l2SampleBits(m)
        w.write(s0, nb); w.write(s1, nb); w.write(s2, nb)
      }
    }
    paddedFrame(w, L2FrameBytes)
  }

  /** Decoded facts of one Layer II frame — the Layer I readout plus
    * the count of grouped codewords actually degrouped. */
  final case class Mp2Frame(nActive: Int, nGrouped: Long, sumCodes: Long,
      ampMicro: Long)

  /** Is (samplingIdx, bitrateIdx) a Table 3-B.2a combination for mono
    * MPEG-1 Layer II? 48 kHz: 56–192 kbps; 44.1/32 kHz: 56–80 kbps. */
  private def l2TableA(srIdx: Int, brKbps: Int): Boolean =
    if (srIdx == 1) brKbps >= 56 && brKbps <= 192
    else brKbps >= 56 && brKbps <= 80

  private val L2Bitrates = Array(0, 32, 48, 56, 64, 80, 96, 112, 128,
    160, 192, 224, 256, 320, 384)
  private val SampleRates = Array(44100, 48000, 32000)

  /** Walk a Layer II mono stream (Table 3-B.2a combinations);
    * malformed frames (bad sync, wrong layer, non-B.2a rate combo,
    * forbidden allocation, truncation) end the walk. Frame advance is
    * header-derived: 144·bitrate/fs bytes. */
  def decodeL2(data: Array[Byte]): Seq[Mp2Frame] = {
    val out = Seq.newBuilder[Mp2Frame]
    var p = 0
    var ok = true
    while (ok && p + 4 <= data.length) {
      val h = Bytes.be32(data, p)
      val sync = (h >>> 20) == 0xFFF
      val version = (h >>> 19) & 1
      val layer = (h >>> 17) & 3
      val brIdx = (h >>> 12) & 0xf
      val srIdx = (h >>> 10) & 3
      val mode = (h >>> 6) & 3
      if (!sync || version != 1 || layer != 2 || mode != 3 ||
        brIdx == 0 || brIdx == 15 || srIdx == 3 ||
        !l2TableA(srIdx, L2Bitrates(brIdx))) ok = false
      else {
        val frameBytes = 144 * L2Bitrates(brIdx) * 1000 /
          SampleRates(srIdx)
        if (p + frameBytes > data.length) ok = false
        else {
          val r = new Bytes.BitReader(data, p + 4, p + frameBytes)
          val steps = Array.tabulate(L2SbLimit) { sb =>
            val idx = r.bits(l2Nbal(sb))
            if (!r.ok) -1 else l2Steps(sb, idx)
          }
          if (steps.exists(_ < 0)) ok = false
          else {
            val scfsi = Array.fill(L2SbLimit)(0)
            for (sb <- 0 until L2SbLimit if steps(sb) > 0)
              scfsi(sb) = r.bits(2)
            // effective per-part scalefactor index (parts = granule/4)
            val scfEff = Array.ofDim[Int](L2SbLimit, 3)
            var trunc = !r.ok
            for (sb <- 0 until L2SbLimit if steps(sb) > 0) scfsi(sb) match {
              case 0 =>
                val a = r.bits(6); val b = r.bits(6); val c = r.bits(6)
                if (!r.ok) trunc = true
                else { scfEff(sb)(0) = a; scfEff(sb)(1) = b
                  scfEff(sb)(2) = c }
              case 1 =>
                val a = r.bits(6); val c = r.bits(6)
                if (!r.ok) trunc = true
                else { scfEff(sb)(0) = a; scfEff(sb)(1) = a
                  scfEff(sb)(2) = c }
              case 2 =>
                val a = r.bits(6)
                if (!r.ok) trunc = true
                else { scfEff(sb)(0) = a; scfEff(sb)(1) = a
                  scfEff(sb)(2) = a }
              case _ =>
                val a = r.bits(6); val b = r.bits(6)
                if (!r.ok) trunc = true
                else { scfEff(sb)(0) = a; scfEff(sb)(1) = b
                  scfEff(sb)(2) = b }
            }
            var sum = 0L
            var amp = 0L
            var nGrouped = 0L
            for (gr <- 0 until 12 if !trunc;
                sb <- 0 until L2SbLimit if steps(sb) > 0) {
              val m = steps(sb)
              val part = gr / 4
              val cs =
                if (l2Grouped(m)) {
                  val cw = r.bits(l2CodeBits(m))
                  if (!r.ok) { trunc = true; Array.empty[Int] }
                  else { nGrouped += 1
                    Array(cw % m, (cw / m) % m, cw / (m * m)) }
                } else {
                  val nb = l2SampleBits(m)
                  val a = r.bits(nb); val b = r.bits(nb)
                  val c = r.bits(nb)
                  if (!r.ok) { trunc = true; Array.empty[Int] }
                  else Array(a, b, c)
                }
              if (!trunc) {
                val nb = l2SampleBits(m)
                val g = (1 << nb).toDouble
                val dD = if (l2Grouped(m)) 0.5 else 2.0 / g
                val k = scfEff(sb)(part)
                val sf = 2.0 * math.pow(2.0, -(k / 3)) * (k % 3 match {
                  case 0 => 1.0
                  case 1 => math.pow(2.0, -1.0 / 3.0)
                  case _ => math.pow(2.0, -2.0 / 3.0)
                })
                cs.foreach { c =>
                  sum += c
                  amp += rndAway((c / (g / 2) - 1.0 + dD) * (g / m) *
                    sf * 1e6)
                }
              }
            }
            if (trunc) ok = false
            else {
              out += Mp2Frame(steps.count(_ > 0), nGrouped, sum, amp)
              p += frameBytes
            }
          }
        }
      }
    }
    out.result()
  }

  /** Walk a Layer I stream; malformed frames (bad sync, non-Layer-I,
    * forbidden allocation 15, truncation) end the walk. */
  def decode(data: Array[Byte]): Seq[Mp1Frame] = {
    val out = Seq.newBuilder[Mp1Frame]
    var p = 0
    var ok = true
    while (ok && p + 4 <= data.length) {
      val h = Bytes.be32(data, p)
      val sync = (h >>> 20) == 0xFFF
      val version = (h >>> 19) & 1
      val layer = (h >>> 17) & 3
      if (!sync || version != 1 || layer != 3 ||
        p + FrameBytes > data.length) ok = false
      else {
        val r = new Bytes.BitReader(data, p + 4, p + FrameBytes)
        val allocs = Array.fill(32)(r.bits(4))
        if (!r.ok || allocs.contains(15)) ok = false
        else {
          val scf = Array.fill(32)(0)
          for (sb <- 0 until 32 if allocs(sb) > 0) scf(sb) = r.bits(6)
          var sum = 0L
          var amp = 0L
          var trunc = false
          for (s <- 0 until 12; sb <- 0 until 32 if allocs(sb) > 0) {
            val nb = allocs(sb) + 1
            val c = r.bits(nb)
            if (!r.ok) trunc = true
            else {
              sum += c
              val p2 = (1 << nb).toDouble
              val s2 = c / (p2 / 2) - 1.0 + 2.0 / p2
              val sf = 2.0 * math.pow(2.0, -(scf(sb) / 3)) *
                (scf(sb) % 3 match {
                  case 0 => 1.0
                  // non-multiple-of-3 indices use the spec's 2^(-1/3)
                  // geometric steps — correct but not oracle-exact;
                  // fixtures avoid them (scaladoc)
                  case 1 => math.pow(2.0, -1.0 / 3.0)
                  case _ => math.pow(2.0, -2.0 / 3.0)
                })
              amp += rndAway(s2 * (p2 / (p2 - 1.0)) * sf * 1e6)
            }
          }
          if (trunc) ok = false
          else {
            out += Mp1Frame(allocs.count(_ > 0), sum, amp)
            p += FrameBytes
          }
        }
      }
    }
    out.result()
  }
}
