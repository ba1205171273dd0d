package graft.operators

/** H.264 / AVC (ITU-T Rec. H.264, ISO 14496-10) — Annex B stream walk
  * and REAL sequence-parameter-set parse in pure JVM: start-code
  * scanning, NAL unit classification, emulation-prevention-byte
  * removal (§7.4.1: `00 00 03` → `00 00`), and the Exp-Golomb bit
  * parse of the SPS (§7.3.2.1) down to the frame dimensions
  * `16·(pic_width_in_mbs_minus1+1) − SubWidthC·(crop_left+crop_right)`
  * — the same honesty level as the WebP/MP4 walks (container facts +
  * dimensions; pixel reconstruction needs CABAC/CAVLC tables and
  * stays out of scope, documented in COVERAGE.md).
  *
  * No reference analogue (north-star multimodal surface); the format
  * layout is the public spec. */
object H264 {

  /** Parsed stream facts: dimensions from the first SPS plus NAL
    * counts by class. */
  final case class H264Facts(width: Int, height: Int, nNals: Int,
      nSps: Int, nPps: Int, nIdr: Int, nVcl: Int)

  // ── bit I/O over RBSP payloads ──────────────────────────────────

  /** H.264 reads over the shared MSB-first reader: −1 (se:
    * Int.MinValue) once the reader has run out. */
  private final class RbspReader(data: Array[Byte]) {
    private val r = new Bytes.BitReader(data)
    def u(n: Int): Int = { val v = r.bits(n); if (r.ok) v else -1 }
    /** Exp-Golomb ue(v): countLeadingZeroBits zeros, a 1, then that
      * many info bits; value = 2^k − 1 + info. */
    def ue(): Int = {
      var zeros = 0
      var b = u(1)
      while (b == 0) {
        zeros += 1
        if (zeros > 31) return -1
        b = u(1)
      }
      if (b < 0) -1
      else if (zeros == 0) 0
      else {
        val info = u(zeros)
        if (info < 0) -1 else (1 << zeros) - 1 + info
      }
    }
    /** se(v): signed mapping (−1)^(k+1)·⌈k/2⌉ over ue. */
    def se(): Int = {
      val k = ue()
      if (k < 0) Int.MinValue
      else if (k % 2 == 0) -(k / 2)
      else (k + 1) / 2
    }
    /** pcm_alignment_zero_bit consumption: skip to the next byte
      * boundary (§7.3.5: the bits MUST be zero; a set bit is a
      * malformed stream). Returns false on a non-zero pad bit. */
    def alignZero(): Boolean = {
      val pad = ((8 - r.bitPos % 8) % 8).toInt
      r.read(pad) == 0 && r.ok
    }
    /** One raw byte at a byte-aligned position (I_PCM samples);
      * −1 past the end. */
    def byte(): Int = if (r.bitPos % 8 != 0) -1 else u(8)
  }

  private final class RbspWriter {
    private val w = new Bytes.BitWriter
    def u(v: Int, bits: Int): Unit = w.write(v, bits)
    def ue(v: Int): Unit = {
      val code = v + 1
      val bits = 32 - Integer.numberOfLeadingZeros(code)
      u(0, bits - 1)
      u(code, bits)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    /** pcm_alignment_zero_bit emission: zero-pad to a byte boundary
      * (NOT the rbsp stop bit — I_PCM samples follow). */
    def alignZero(): Unit = w.align()
    /** rbsp_trailing_bits: stop bit + zero pad to a byte boundary. */
    def trailing(): Array[Byte] = { u(1, 1); w.toByteArray }
  }

  // ── emulation prevention (§7.3.1 / §7.4.1) ──────────────────────

  /** RBSP → NAL payload: insert `03` after any `00 00` followed by a
    * byte ≤ 3. */
  private[operators] def escape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var zeros = 0
    rbsp.foreach { b =>
      if (zeros >= 2 && (b & 0xff) <= 3) { out.write(3); zeros = 0 }
      out.write(b & 0xff)
      if (b == 0) zeros += 1 else zeros = 0
    }
    out.toByteArray
  }

  /** NAL payload → RBSP: drop the `03` of every `00 00 03`. */
  private[operators] def unescape(nal: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var zeros = 0
    var i = 0
    while (i < nal.length) {
      val b = nal(i) & 0xff
      if (zeros >= 2 && b == 3) zeros = 0 // emulation byte: skip
      else {
        out.write(b)
        if (b == 0) zeros += 1 else zeros = 0
      }
      i += 1
    }
    out.toByteArray
  }

  // ── SPS ─────────────────────────────────────────────────────────

  /** Minimal baseline-profile SPS for the given frame size: 4:2:0, so
    * width and height must be even (crop units are 2 px each way with
    * frame_mbs_only = 1). */
  def buildSps(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width % 2 == 0 && height % 2 == 0,
      "4:2:0 cropping works in 2-px units")
    val mbW = (width + 15) / 16
    val mbH = (height + 15) / 16
    val cropR = (mbW * 16 - width) / 2
    val cropB = (mbH * 16 - height) / 2
    val w = new RbspWriter
    w.u(66, 8)          // profile_idc: baseline
    w.u(0, 8)           // constraint flags + reserved
    w.u(30, 8)          // level_idc 3.0
    w.ue(0)             // seq_parameter_set_id
    w.ue(0)             // log2_max_frame_num_minus4
    w.ue(2)             // pic_order_cnt_type
    w.ue(1)             // max_num_ref_frames
    w.u(0, 1)           // gaps_in_frame_num_value_allowed_flag
    w.ue(mbW - 1)       // pic_width_in_mbs_minus1
    w.ue(mbH - 1)       // pic_height_in_map_units_minus1
    w.u(1, 1)           // frame_mbs_only_flag
    w.u(0, 1)           // direct_8x8_inference_flag
    val crop = cropR > 0 || cropB > 0
    w.u(if (crop) 1 else 0, 1) // frame_cropping_flag
    if (crop) { w.ue(0); w.ue(cropR); w.ue(0); w.ue(cropB) }
    w.u(0, 1)           // vui_parameters_present_flag
    w.trailing()
  }

  /** Parse an SPS RBSP to (width, height); (−1, −1) on malformed
    * input. */
  private[operators] def parseSps(rbsp: Array[Byte]): (Int, Int) = {
    val r = new RbspReader(rbsp)
    val profile = r.u(8)
    r.u(8) // constraint flags
    r.u(8) // level
    r.ue() // sps id
    // High profiles (100, 110, 122, 244, 44, 83, 86, 118, 128) carry
    // chroma/bit-depth/scaling fields before the frame-size fields.
    // chroma_format_idc defaults to 1 (4:2:0) when absent.
    var chroma = 1
    var separateColourPlane = 0
    if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128).contains(profile)) {
      chroma = r.ue()
      if (chroma < 0 || chroma > 3) return (-1, -1)
      if (chroma == 3) separateColourPlane = r.u(1)
      r.ue(); r.ue(); r.u(1)
      val scaling = r.u(1)
      if (scaling == 1) return (-1, -1) // scaling lists: not carried
    }
    val logMaxFrame = r.ue()
    if (logMaxFrame < 0) return (-1, -1)
    val poc = r.ue()
    if (poc == 0) r.ue()
    else if (poc == 1) {
      r.u(1); r.se(); r.se()
      val n = r.ue()
      (0 until n).foreach(_ => r.se())
    }
    r.ue() // max_num_ref_frames
    r.u(1) // gaps allowed
    val mbW = r.ue()
    val mbH = r.ue()
    if (mbW < 0 || mbH < 0) return (-1, -1)
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly == 0) r.u(1) // mb_adaptive_frame_field_flag
    r.u(1) // direct_8x8
    var (cl, cr, ct, cb) = (0, 0, 0, 0)
    if (r.u(1) == 1) { cl = r.ue(); cr = r.ue(); ct = r.ue(); cb = r.ue() }
    if (cl < 0 || cr < 0 || ct < 0 || cb < 0) return (-1, -1)
    // Crop units per H.264 7.4.2.1.1 / Table 6-1: ChromaArrayType 0
    // (monochrome or separate colour planes) crops in luma samples;
    // otherwise in SubWidthC × SubHeightC chroma sample units.
    val chromaArrayType = if (separateColourPlane == 1) 0 else chroma
    val (subW, subH) = chroma match {
      case 1 => (2, 2) // 4:2:0
      case 2 => (2, 1) // 4:2:2
      case _ => (1, 1) // 4:4:4 (and unused for monochrome)
    }
    val cropUnitX = if (chromaArrayType == 0) 1 else subW
    val cropUnitY =
      (if (chromaArrayType == 0) 1 else subH) * (2 - frameMbsOnly)
    val width = (mbW + 1) * 16 - cropUnitX * (cl + cr)
    val height = (2 - frameMbsOnly) * (mbH + 1) * 16 - cropUnitY * (ct + cb)
    (width, height)
  }

  // ── Annex B stream ──────────────────────────────────────────────

  private val StartCode = Array[Byte](0, 0, 0, 1)

  /** One NAL unit with 4-byte start code, header and escaped
    * payload. */
  def buildNal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Array[Byte] =
    StartCode ++ Array(((refIdc << 5) | nalType).toByte) ++ escape(rbsp)

  /** Minimal PPS (entropy_coding = CAVLC, no extras). */
  def buildPps(): Array[Byte] = {
    val w = new RbspWriter
    w.ue(0); w.ue(0) // pps id, sps id
    w.u(0, 1)        // entropy_coding_mode_flag: CAVLC
    w.u(0, 1)        // bottom_field_pic_order_in_frame_present
    w.ue(0)          // num_slice_groups_minus1
    w.ue(0); w.ue(0) // num_ref_idx defaults
    w.u(0, 1); w.u(0, 2) // weighted pred / bipred
    w.ue(0)          // pic_init_qp_minus26 (ue of se 0)
    w.ue(0); w.ue(0) // pic_init_qs, chroma_qp_offset (se 0)
    w.u(0, 1); w.u(0, 1); w.u(0, 1) // deblocking/constrained/redundant
    w.trailing()
  }

  /** Walk an Annex B byte stream: find start codes (3- or 4-byte),
    * classify NAL units, parse the first SPS for dimensions. A stream
    * with no SPS (or a malformed one) reports −1 dims; the walk
    * itself never throws. */
  def parse(data: Array[Byte]): H264Facts = {
    // start-code positions (payload start, after the 01)
    val starts = collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 2 < data.length) {
      if (data(i) == 0 && data(i + 1) == 0 && data(i + 2) == 1) {
        starts += i + 3
        i += 3
      } else i += 1
    }
    var (w, h) = (-1, -1)
    var nSps = 0
    var nPps = 0
    var nIdr = 0
    var nVcl = 0
    val bounds = starts.toSeq :+ (data.length + 3)
    bounds.sliding(2).filter(_.size == 2).foreach { win =>
      val a = win(0)
      val b = win(1)
      // strip the next start code (and its possible leading zero)
      var end = b - 3
      while (end > a && data(end - 1) == 0) end -= 1
      if (a < end) {
        val nalType = data(a) & 0x1f
        val payload = data.slice(a + 1, end)
        nalType match {
          case 7 =>
            nSps += 1
            if (w < 0) {
              val (pw, ph) = parseSps(unescape(payload))
              w = pw; h = ph
            }
          case 8 => nPps += 1
          case 5 => nIdr += 1; nVcl += 1
          case 1 => nVcl += 1
          case _ =>
        }
      }
    }
    H264Facts(w, h, starts.length, nSps, nPps, nIdr, nVcl)
  }

  // ── I_PCM pixels (§7.3.5 / §8.3.5) ──────────────────────────────

  /** A decoded I_PCM frame: full 4:2:0 planes in raster order.
    * `y` is width×height; `cb`/`cr` are (width/2)×(height/2). */
  final case class IPcmFrame(width: Int, height: Int, y: Array[Byte],
      cb: Array[Byte], cr: Array[Byte])

  /** Build an IDR slice RBSP in which EVERY macroblock is I_PCM —
    * the one entropy-free pixel path in H.264 (mb_type 25 in an I
    * slice: byte-align, then 256 luma + 64 Cb + 64 Cr raw samples
    * per MB). Slice-header fields match [[buildSps]]/[[buildPps]]
    * (log2_max_frame_num 4 bits, poc type 2, CAVLC, no deblocking
    * override). Sample generators are indexed by WRITE order: `luma`
    * by the running luma-sample counter, `cb`/`cr` by
    * (macroblock, sample-in-block). */
  def buildIPcmSlice(wMbs: Int, hMbs: Int, luma: Int => Int,
      cb: (Int, Int) => Int, cr: (Int, Int) => Int): Array[Byte] = {
    require(wMbs > 0 && hMbs > 0)
    val w = new RbspWriter
    w.ue(0)      // first_mb_in_slice
    w.ue(7)      // slice_type: I (all slices of the picture are I)
    w.ue(0)      // pic_parameter_set_id
    w.u(0, 4)    // frame_num (log2_max_frame_num_minus4 = 0)
    w.ue(0)      // idr_pic_id (IDR NAL)
    w.u(0, 1)    // no_output_of_prior_pics_flag
    w.u(0, 1)    // long_term_reference_flag
    w.se(0)      // slice_qp_delta (ignored by I_PCM anyway)
    var k = 0
    for (m <- 0 until wMbs * hMbs) {
      w.ue(25)   // mb_type: I_PCM
      w.alignZero()
      var i = 0
      while (i < 256) { w.u(luma(k), 8); k += 1; i += 1 }
      var j = 0
      while (j < 64) { w.u(cb(m, j), 8); j += 1 }
      j = 0
      while (j < 64) { w.u(cr(m, j), 8); j += 1 }
    }
    w.trailing()
  }

  /** Decode an Annex B stream whose IDR slice is all-I_PCM into full
    * pixel planes: SPS → dimensions (must be uncropped MB multiples
    * — I_PCM carries whole macroblocks), IDR slice → header parse +
    * per-MB raw-sample scatter into raster planes. None on any
    * malformation (no SPS, cropped dims, a non-I_PCM mb_type, short
    * stream, set alignment bit) — never throws. */
  def decodeIPcmPixels(data: Array[Byte]): Option[IPcmFrame] = {
    var sps: Array[Byte] = null
    var idr: Array[Byte] = null
    // the parse() start-code walk, keeping payloads this time
    val starts = collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i + 2 < data.length) {
      if (data(i) == 0 && data(i + 1) == 0 && data(i + 2) == 1) {
        starts += i + 3
        i += 3
      } else i += 1
    }
    val bounds = starts.toSeq :+ (data.length + 3)
    bounds.sliding(2).filter(_.size == 2).foreach { win =>
      val a = win(0)
      var end = win(1) - 3
      while (end > a && data(end - 1) == 0) end -= 1
      if (a < end) {
        val nalType = data(a) & 0x1f
        if (nalType == 7 && sps == null)
          sps = unescape(data.slice(a + 1, end))
        if (nalType == 5 && idr == null)
          idr = unescape(data.slice(a + 1, end))
      }
    }
    if (sps == null || idr == null) return None
    val (w, h) = parseSps(sps)
    if (w <= 0 || h <= 0 || w % 16 != 0 || h % 16 != 0) return None
    val (wMbs, hMbs) = (w / 16, h / 16)
    val y = new Array[Byte](w * h)
    val cbP = new Array[Byte]((w / 2) * (h / 2))
    val crP = new Array[Byte]((w / 2) * (h / 2))
    val r = new RbspReader(idr)
    // slice header, mirroring buildIPcmSlice's field schedule
    if (r.ue() != 0) return None            // first_mb_in_slice
    val st = r.ue()                         // slice_type ∈ {2, 7}: I
    if (st != 2 && st != 7) return None
    if (r.ue() < 0) return None             // pps id
    if (r.u(4) < 0) return None             // frame_num
    if (r.ue() < 0) return None             // idr_pic_id
    if (r.u(2) < 0) return None             // dec_ref_pic_marking
    if (r.se() == Int.MinValue) return None // slice_qp_delta
    for (m <- 0 until wMbs * hMbs) {
      if (r.ue() != 25) return None         // mb_type must be I_PCM
      if (!r.alignZero()) return None
      val mbX = (m % wMbs) * 16
      val mbY = (m / wMbs) * 16
      var i2 = 0
      while (i2 < 256) {
        val v = r.byte()
        if (v < 0) return None
        y((mbY + i2 / 16) * w + mbX + i2 % 16) = v.toByte
        i2 += 1
      }
      var j = 0
      while (j < 64) {
        val v = r.byte()
        if (v < 0) return None
        cbP((mbY / 2 + j / 8) * (w / 2) + mbX / 2 + j % 8) = v.toByte
        j += 1
      }
      j = 0
      while (j < 64) {
        val v = r.byte()
        if (v < 0) return None
        crP((mbY / 2 + j / 8) * (w / 2) + mbX / 2 + j % 8) = v.toByte
        j += 1
      }
    }
    Some(IPcmFrame(w, h, y, cbP, crP))
  }
}
