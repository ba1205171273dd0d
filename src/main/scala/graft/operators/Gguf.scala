package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** GGUF v3 (the public ggml/llama.cpp format spec, docs/gguf.md) —
  * the single-file model+metadata container the local-inference
  * ecosystem standardized on; a data engine meets it when a corpus
  * pipeline needs a model's tokenizer vocabulary, embedding matrix
  * or projection weights without a Python round trip. Pure-JVM,
  * both directions:
  *
  *  - layout: magic "GGUF", u32 version (3), u64 tensor count, u64
  *    metadata-KV count; then KVs (u64-length strings, u32-typed
  *    values incl. nested-by-one arrays); then tensor infos (name,
  *    u32 n_dims, u64 dims in ggml order — ne[0] is the INNERMOST
  *    axis, the reverse of numpy —, u32 ggml type, u64 offset into
  *    the data section); then padding to `general.alignment`
  *    (default 32) and the tensor data, each tensor's offset
  *    aligned.
  *  - types: all 13 metadata value types; tensor types F32, F16,
  *    BF16, F64, I8/I16/I32/I64 and the CLOSED-FORM block
  *    quantizations — the whole family whose layout is pure
  *    arithmetic, no tabulated constants:
  *      Q8_0 (34 B / 32 elems: f16 scale `d = max|x|/127` + 32
  *        signed bytes `round(x/d)`),
  *      Q4_0 (18 B: f16 `d = signedmax/-8` + 16 nibble bytes, first
  *        half of the block in LOW nibbles, second half in HIGH —
  *        the ggml split layout),
  *      Q4_1 (20 B: f16 `d = (max-min)/15`, f16 `m = min`, 16
  *        nibble bytes, `x = q·d + m`),
  *      Q5_0 (22 B: f16 `d = signedmax/-16`, u32 LE `qh` carrying
  *        each lane's 5th bit, 16 nibble bytes),
  *      Q5_1 (24 B: f16 d, f16 m, u32 qh, 16 nibble bytes),
  *    via [[quantizeQ8_0]]/[[dequantizeQ8_0]] and the
  *    [[quantizeQ4_0]]…[[dequantizeQ5_1]] family on the shared
  *    half-float arithmetic in [[Safetensors]] — and the K-QUANTS
  *    Q2_K…Q6_K (256-element super-blocks with 4/6/8-bit
  *    sub-scales under one fp16 super-scale; the public ggml block
  *    structs are pure arithmetic, see the K-quants section below).
  *    Only the IQ types reject honestly — their layouts really are
  *    defined by hundreds of tabulated grid constants this repo's
  *    policy excludes.
  *
  * Validation mirrors gguf.py's reader rules: counts and string
  * lengths bounded, metadata value types must be known (arrays
  * nest one level), tensor dims positive with element count ≤
  * 2^31, offsets must be alignment-multiples AND tile the data
  * section in declared order (the canonical writer layout), and
  * the file must end exactly at the last tensor's end. None on any
  * malformation — drop, never invent. Validation is hand-pinned
  * layouts from the spec document, round trips across all types,
  * Q8_0 error-bound checks, and mutation fuzz — GgufSpec. */
object Gguf {

  /** Metadata value — one case per wire type so round trips are
    * byte-exact. */
  sealed trait Gv
  final case class GvU8(v: Int) extends Gv
  final case class GvI8(v: Int) extends Gv
  final case class GvU16(v: Int) extends Gv
  final case class GvI16(v: Int) extends Gv
  final case class GvU32(v: Long) extends Gv
  final case class GvI32(v: Int) extends Gv
  final case class GvF32(v: Float) extends Gv
  final case class GvBool(v: Boolean) extends Gv
  final case class GvStr(v: String) extends Gv
  /** Homogeneous array: `tpe` is the ELEMENT wire type. */
  final case class GvArr(tpe: Int, vs: Seq[Gv]) extends Gv
  /** u64 — raw bits (may exceed Long.MaxValue). */
  final case class GvU64(raw: Long) extends Gv
  final case class GvI64(v: Long) extends Gv
  final case class GvF64(v: Double) extends Gv

  /** Wire type ids (spec enum gguf_metadata_value_type). */
  private def typeOf(v: Gv): Int = v match {
    case _: GvU8 => 0
    case _: GvI8 => 1
    case _: GvU16 => 2
    case _: GvI16 => 3
    case _: GvU32 => 4
    case _: GvI32 => 5
    case _: GvF32 => 6
    case _: GvBool => 7
    case _: GvStr => 8
    case _: GvArr => 9
    case _: GvU64 => 10
    case _: GvI64 => 11
    case _: GvF64 => 12
  }

  /** One tensor: dims in GGML order (ne[0] innermost), type tag,
    * raw data bytes. */
  final case class GTensor(name: String, dims: Seq[Long],
      tpe: String, data: Array[Byte]) {
    def elems: Long = dims.foldLeft(1L)(_ * _)
  }

  /** ggml type id ↔ tag for the supported (non-table-quantized)
    * set; Q8_0 is the one block type (34 bytes / 32 elems). */
  private val TypeIds: Map[String, Int] = Map(
    "F32" -> 0, "F16" -> 1, "Q4_0" -> 2, "Q4_1" -> 3, "Q5_0" -> 6,
    "Q5_1" -> 7, "Q8_0" -> 8, "Q2_K" -> 10, "Q3_K" -> 11,
    "Q4_K" -> 12, "Q5_K" -> 13, "Q6_K" -> 14, "I8" -> 24,
    "I16" -> 25, "I32" -> 26, "I64" -> 27, "F64" -> 28,
    "BF16" -> 30)
  private val TypeTags: Map[Int, String] = TypeIds.map(_.swap)

  /** Bytes for `n` elements of tensor type `tag`. */
  def byteSize(tag: String, n: Long): Option[Long] = tag match {
    case "F32" => Some(n * 4)
    case "F16" | "BF16" => Some(n * 2)
    case "F64" | "I64" => Some(n * 8)
    case "I32" => Some(n * 4)
    case "I16" => Some(n * 2)
    case "I8" => Some(n)
    case "Q8_0" => if (n % 32 == 0) Some(n / 32 * 34) else None
    case "Q4_0" => if (n % 32 == 0) Some(n / 32 * 18) else None
    case "Q4_1" => if (n % 32 == 0) Some(n / 32 * 20) else None
    case "Q5_0" => if (n % 32 == 0) Some(n / 32 * 22) else None
    case "Q5_1" => if (n % 32 == 0) Some(n / 32 * 24) else None
    case "Q2_K" => if (n % 256 == 0) Some(n / 256 * 84) else None
    case "Q3_K" => if (n % 256 == 0) Some(n / 256 * 110) else None
    case "Q4_K" => if (n % 256 == 0) Some(n / 256 * 144) else None
    case "Q5_K" => if (n % 256 == 0) Some(n / 256 * 176) else None
    case "Q6_K" => if (n % 256 == 0) Some(n / 256 * 210) else None
    case _ => None
  }

  private final val MaxStr = 1 << 20
  private final val MaxCount = 1 << 20
  private final val MaxElems = Int.MaxValue.toLong

  // ---------------------------------------------------------------
  // Build (canonical: declared order, aligned contiguous offsets)
  // ---------------------------------------------------------------

  def build(metadata: Seq[(String, Gv)], tensors: Seq[GTensor],
      alignment: Int = 32): Array[Byte] = {
    require(alignment > 0 && (alignment & (alignment - 1)) == 0,
      "alignment must be a power of two")
    require(tensors.map(_.name).distinct.length == tensors.length,
      "duplicate tensor name")
    val out = new java.io.ByteArrayOutputStream(1024)
    def gstr(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      Bytes.putLe64(out, b.length.toLong); out.write(b, 0, b.length)
    }
    def value(v: Gv): Unit = v match {
      case GvU8(x) => out.write(x & 0xff)
      case GvI8(x) => out.write(x & 0xff)
      case GvU16(x) => out.write(x & 0xff); out.write((x >> 8) & 0xff)
      case GvI16(x) => out.write(x & 0xff); out.write((x >> 8) & 0xff)
      case GvU32(x) => Bytes.putLe32(out, x)
      case GvI32(x) => Bytes.putLe32(out, x.toLong)
      case GvF32(x) => Bytes.putLe32(out, java.lang.Float.floatToIntBits(x).toLong)
      case GvBool(x) => out.write(if (x) 1 else 0)
      case GvStr(x) => gstr(x)
      case GvArr(tpe, vs) =>
        Bytes.putLe32(out, tpe.toLong); Bytes.putLe64(out, vs.length.toLong)
        vs.foreach { e =>
          require(typeOf(e) == tpe, "heterogeneous gguf array")
          require(tpe != 9, "nested gguf arrays")
          value(e)
        }
      case GvU64(x) => Bytes.putLe64(out, x)
      case GvI64(x) => Bytes.putLe64(out, x)
      case GvF64(x) => Bytes.putLe64(out, java.lang.Double.doubleToLongBits(x))
    }
    out.write("GGUF".getBytes("ASCII"))
    Bytes.putLe32(out, 3L)
    Bytes.putLe64(out, tensors.length.toLong)
    Bytes.putLe64(out, metadata.length.toLong)
    metadata.foreach { case (k, v) =>
      gstr(k); Bytes.putLe32(out, typeOf(v).toLong); value(v)
    }
    var off = 0L
    val offsets = tensors.map { t =>
      require(t.dims.nonEmpty && t.dims.forall(_ > 0),
        s"tensor ${t.name}: dims must be positive")
      require(t.elems <= MaxElems, s"tensor ${t.name} too large")
      val sz = byteSize(t.tpe, t.elems).getOrElse(
        sys.error(s"tensor ${t.name}: type ${t.tpe}"))
      require(t.data.length.toLong == sz,
        s"tensor ${t.name}: ${t.data.length} bytes, expected $sz")
      val o = off
      off = (o + sz + alignment - 1) / alignment * alignment
      o
    }
    tensors.zip(offsets).foreach { case (t, o) =>
      gstr(t.name)
      Bytes.putLe32(out, t.dims.length.toLong)
      t.dims.foreach(Bytes.putLe64(out, _))
      Bytes.putLe32(out, TypeIds(t.tpe).toLong)
      Bytes.putLe64(out, o)
    }
    // pad to alignment, then the data section (each tensor padded
    // up to the next alignment boundary, except after the last)
    while (out.size() % alignment != 0) out.write(0)
    tensors.zip(offsets).zipWithIndex.foreach { case ((t, o), i) =>
      out.write(t.data)
      if (i != tensors.length - 1) {
        val end = o + t.data.length
        var pad = ((alignment - (end % alignment)) % alignment).toInt
        while (pad > 0) { out.write(0); pad -= 1 }
      }
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------

  private final class Cur(data: Array[Byte]) extends Bytes.Cursor(data) {
    def take(n: Long): Array[Byte] =
      if (n < 0 || n > end - p) { fail(); Array.emptyByteArray }
      else { val r = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
        p += n.toInt; r }
  }

  /** None on any malformation. Metadata keeps declaration order. */
  def parse(data: Array[Byte])
      : Option[(Seq[(String, Gv)], Seq[GTensor])] = {
    val c = new Cur(data)
    if (!new String(c.take(4), "ASCII").equals("GGUF") || !c.ok)
      return None
    if (c.le32u() != 3L) return None // v1/v2 use 32-bit counts — reject
    val nTensors = c.le64()
    val nKv = c.le64()
    if (!c.ok || nTensors < 0 || nTensors > MaxCount ||
      nKv < 0 || nKv > MaxCount) return None

    def gstr(): Option[String] = {
      val n = c.le64()
      if (!c.ok || n < 0 || n > MaxStr) { c.fail(); return None }
      val b = c.take(n)
      if (!c.ok) return None
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
      try Some(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
      catch { case _: java.nio.charset.CharacterCodingException =>
        c.fail(); None }
    }

    def value(tpe: Int, depth: Int): Option[Gv] = {
      if (!c.ok) return None
      tpe match {
        case 0 => Some(GvU8(c.u8()))
        case 1 => Some(GvI8(c.u8().toByte.toInt))
        case 2 => Some(GvU16((c.u8() | (c.u8() << 8)) & 0xffff))
        case 3 => Some(GvI16((c.u8() | (c.u8() << 8)).toShort.toInt))
        case 4 => Some(GvU32(c.le32u()))
        case 5 => Some(GvI32(c.le32u().toInt))
        case 6 => Some(GvF32(java.lang.Float.intBitsToFloat(
          c.le32u().toInt)))
        case 7 => c.u8() match {
          case 0 => Some(GvBool(false))
          case 1 => Some(GvBool(true))
          case _ => c.fail(); None
        }
        case 8 => gstr().map(GvStr)
        case 9 =>
          if (depth > 0) { c.fail(); return None } // one level
          val et = c.le32u().toInt
          val n = c.le64()
          if (!c.ok || n < 0 || n > MaxCount || et == 9) {
            c.fail(); return None }
          val vs = Seq.newBuilder[Gv]
          var i = 0L
          while (c.ok && i < n) {
            value(et, depth + 1) match {
              case Some(x) => vs += x
              case None => c.fail()
            }
            i += 1
          }
          if (c.ok) Some(GvArr(et, vs.result())) else None
        case 10 => Some(GvU64(c.le64()))
        case 11 => Some(GvI64(c.le64()))
        case 12 => Some(GvF64(java.lang.Double.longBitsToDouble(
          c.le64())))
        case _ => c.fail(); None
      }
    }

    val kvs = Seq.newBuilder[(String, Gv)]
    var alignment = 32L
    var i = 0L
    while (c.ok && i < nKv) {
      val k = gstr().getOrElse(return None)
      val t = c.le32u().toInt
      value(t, 0) match {
        case Some(v) =>
          if (k == "general.alignment") v match {
            case GvU32(a) if a > 0 && (a & (a - 1)) == 0 =>
              alignment = a
            case _ => c.fail()
          }
          kvs += ((k, v))
        case None => c.fail()
      }
      i += 1
    }
    if (!c.ok) return None

    final case class Info(name: String, dims: Seq[Long], tag: String,
        offset: Long, size: Long)
    val infos = Seq.newBuilder[Info]
    i = 0L
    while (c.ok && i < nTensors) {
      val name = gstr().getOrElse(return None)
      val nd = c.le32u()
      if (!c.ok || nd < 1 || nd > 8) return None
      val dims = (0L until nd).map(_ => c.le64())
      if (!c.ok || dims.exists(_ <= 0)) return None
      var elems = 1L
      dims.foreach { d =>
        elems *= d
        if (elems > MaxElems) { c.fail() } }
      if (!c.ok) return None
      val tid = c.le32u().toInt
      val tag = TypeTags.getOrElse(tid, { c.fail(); return None })
      val off = c.le64()
      if (!c.ok || off < 0 || off % alignment != 0) return None
      val sz = byteSize(tag, elems).getOrElse { c.fail()
        return None }
      infos += Info(name, dims, tag, off, sz)
      i += 1
    }
    if (!c.ok) return None
    val infoSeq = infos.result()
    if (infoSeq.map(_.name).distinct.length != infoSeq.length)
      return None

    // data section starts at the next alignment boundary
    val dataStart = (c.p.toLong + alignment - 1) / alignment * alignment
    if (dataStart > data.length) return None
    // canonical layout: offsets tile the section in declared order
    var expect = 0L
    infoSeq.foreach { t =>
      if (t.offset != expect) return None
      expect = (t.offset + t.size + alignment - 1) /
        alignment * alignment
    }
    val lastEnd = infoSeq.lastOption
      .map(t => t.offset + t.size).getOrElse(0L)
    if (dataStart + lastEnd != data.length) return None

    val tensors = infoSeq.map { t =>
      GTensor(t.name, t.dims, t.tag,
        java.util.Arrays.copyOfRange(data,
          (dataStart + t.offset).toInt,
          (dataStart + t.offset + t.size).toInt))
    }
    Some((kvs.result(), tensors))
  }

  // ---------------------------------------------------------------
  // Q8_0 — the closed-form block quantization
  // ---------------------------------------------------------------

  /** n must be a multiple of 32. Per 32-block: f16 scale
    * d = max|x|/127, then 32 bytes round(x/d) (0 scale → 0s). */
  def quantizeQ8_0(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 32 == 0, "Q8_0 needs 32-element blocks")
    val out = ByteBuffer.allocate(xs.length / 32 * 34)
      .order(ByteOrder.LITTLE_ENDIAN)
    var b = 0
    while (b < xs.length) {
      var amax = 0f
      var j = 0
      while (j < 32) {
        val a = math.abs(xs(b + j)); if (a > amax) amax = a; j += 1
      }
      val dHalf = Safetensors.floatToHalf(amax / 127f)
      val d = Safetensors.halfToFloat(dHalf & 0xffff)
      out.putShort(dHalf)
      j = 0
      while (j < 32) {
        val q = if (d == 0f) 0
          else math.max(-127, math.min(127,
            math.round(xs(b + j) / d)))
        out.put(q.toByte)
        j += 1
      }
      b += 32
    }
    out.array()
  }

  def dequantizeQ8_0(data: Array[Byte]): Array[Float] = {
    require(data.length % 34 == 0, "Q8_0 data is 34-byte blocks")
    val in = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Float](data.length / 34 * 32)
    var b = 0
    while (b < out.length) {
      val d = Safetensors.halfToFloat(in.getShort() & 0xffff)
      var j = 0
      while (j < 32) { out(b + j) = in.get() * d; j += 1 }
      b += 32
    }
    out
  }

  // ---------------------------------------------------------------
  // Q4_0 / Q4_1 / Q5_0 / Q5_1 — the rest of the closed-form family.
  // Shared split layout: within each 32-block the FIRST 16 lanes go
  // in the low nibbles of qs[0..15] and the SECOND 16 in the high
  // nibbles (ggml's SIMD-friendly split, not interleaved pairs).
  // ---------------------------------------------------------------

  private def half(x: Float): (Short, Float) = {
    val h = Safetensors.floatToHalf(x)
    (h, Safetensors.halfToFloat(h & 0xffff))
  }

  /** Q4_0: d = signedmax/-8 (the max-|x| element keeps its sign so
    * the extreme lane lands exactly on code 0), q = trunc(x/d+8.5)
    * clamped to 15, x back = (q-8)·d. 18-byte blocks of 32. */
  def quantizeQ4_0(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 32 == 0, "Q4_0 needs 32-element blocks")
    val out = ByteBuffer.allocate(xs.length / 32 * 18)
      .order(ByteOrder.LITTLE_ENDIAN)
    var b = 0
    while (b < xs.length) {
      var amax = 0f; var smax = 0f
      var j = 0
      while (j < 32) {
        val v = xs(b + j)
        if (math.abs(v) > amax) { amax = math.abs(v); smax = v }
        j += 1
      }
      val (dh, d) = half(smax / -8f)
      val id = if (d == 0f) 0f else 1f / d
      out.putShort(dh)
      j = 0
      while (j < 16) {
        val q0 = math.min(15, (xs(b + j) * id + 8.5f).toInt)
        val q1 = math.min(15, (xs(b + 16 + j) * id + 8.5f).toInt)
        out.put(((q0 & 0x0f) | ((q1 & 0x0f) << 4)).toByte)
        j += 1
      }
      b += 32
    }
    out.array()
  }

  def dequantizeQ4_0(data: Array[Byte]): Array[Float] = {
    require(data.length % 18 == 0, "Q4_0 data is 18-byte blocks")
    val in = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Float](data.length / 18 * 32)
    var b = 0
    while (b < out.length) {
      val d = Safetensors.halfToFloat(in.getShort() & 0xffff)
      var j = 0
      while (j < 16) {
        val q = in.get() & 0xff
        out(b + j) = ((q & 0x0f) - 8) * d
        out(b + 16 + j) = ((q >>> 4) - 8) * d
        j += 1
      }
      b += 32
    }
    out
  }

  /** Q4_1: affine — d = (max-min)/15, m = min, q = trunc((x-m)/d
    * + 0.5), x back = q·d + m. 20-byte blocks of 32. */
  def quantizeQ4_1(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 32 == 0, "Q4_1 needs 32-element blocks")
    val out = ByteBuffer.allocate(xs.length / 32 * 20)
      .order(ByteOrder.LITTLE_ENDIAN)
    var b = 0
    while (b < xs.length) {
      var mn = xs(b); var mx = xs(b)
      var j = 1
      while (j < 32) {
        val v = xs(b + j)
        if (v < mn) mn = v; if (v > mx) mx = v
        j += 1
      }
      val (dh, d) = half((mx - mn) / 15f)
      val (mh, _) = half(mn)
      val id = if (d == 0f) 0f else 1f / d
      out.putShort(dh); out.putShort(mh)
      j = 0
      while (j < 16) {
        val q0 = math.min(15, ((xs(b + j) - mn) * id + 0.5f).toInt)
        val q1 = math.min(15,
          ((xs(b + 16 + j) - mn) * id + 0.5f).toInt)
        out.put(((q0 & 0x0f) | ((q1 & 0x0f) << 4)).toByte)
        j += 1
      }
      b += 32
    }
    out.array()
  }

  def dequantizeQ4_1(data: Array[Byte]): Array[Float] = {
    require(data.length % 20 == 0, "Q4_1 data is 20-byte blocks")
    val in = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Float](data.length / 20 * 32)
    var b = 0
    while (b < out.length) {
      val d = Safetensors.halfToFloat(in.getShort() & 0xffff)
      val m = Safetensors.halfToFloat(in.getShort() & 0xffff)
      var j = 0
      while (j < 16) {
        val q = in.get() & 0xff
        out(b + j) = (q & 0x0f) * d + m
        out(b + 16 + j) = (q >>> 4) * d + m
        j += 1
      }
      b += 32
    }
    out
  }

  /** Q5_0: d = signedmax/-16, q = trunc(x/d+16.5) clamped to 31;
    * low 4 bits in the nibble plane, 5th bit of lane j at qh bit j
    * (second half at bit j+16). 22-byte blocks of 32. */
  def quantizeQ5_0(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 32 == 0, "Q5_0 needs 32-element blocks")
    val out = ByteBuffer.allocate(xs.length / 32 * 22)
      .order(ByteOrder.LITTLE_ENDIAN)
    var b = 0
    while (b < xs.length) {
      var amax = 0f; var smax = 0f
      var j = 0
      while (j < 32) {
        val v = xs(b + j)
        if (math.abs(v) > amax) { amax = math.abs(v); smax = v }
        j += 1
      }
      val (dh, d) = half(smax / -16f)
      val id = if (d == 0f) 0f else 1f / d
      out.putShort(dh)
      var qh = 0
      val qs = new Array[Byte](16)
      j = 0
      while (j < 16) {
        val q0 = math.min(31, (xs(b + j) * id + 16.5f).toInt)
        val q1 = math.min(31, (xs(b + 16 + j) * id + 16.5f).toInt)
        qs(j) = ((q0 & 0x0f) | ((q1 & 0x0f) << 4)).toByte
        qh |= ((q0 & 0x10) >>> 4) << j
        qh |= ((q1 & 0x10) >>> 4) << (j + 16)
        j += 1
      }
      out.putInt(qh)
      out.put(qs)
      b += 32
    }
    out.array()
  }

  def dequantizeQ5_0(data: Array[Byte]): Array[Float] = {
    require(data.length % 22 == 0, "Q5_0 data is 22-byte blocks")
    val in = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Float](data.length / 22 * 32)
    var b = 0
    while (b < out.length) {
      val d = Safetensors.halfToFloat(in.getShort() & 0xffff)
      val qh = in.getInt()
      var j = 0
      while (j < 16) {
        val q = in.get() & 0xff
        val h0 = ((qh >>> j) << 4) & 0x10
        val h1 = (qh >>> (j + 12)) & 0x10
        out(b + j) = (((q & 0x0f) | h0) - 16) * d
        out(b + 16 + j) = (((q >>> 4) | h1) - 16) * d
        j += 1
      }
      b += 32
    }
    out
  }

  /** Q5_1: affine 5-bit — d = (max-min)/31, m = min, same qh bit
    * plane as Q5_0, x back = q·d + m. 24-byte blocks of 32. */
  def quantizeQ5_1(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 32 == 0, "Q5_1 needs 32-element blocks")
    val out = ByteBuffer.allocate(xs.length / 32 * 24)
      .order(ByteOrder.LITTLE_ENDIAN)
    var b = 0
    while (b < xs.length) {
      var mn = xs(b); var mx = xs(b)
      var j = 1
      while (j < 32) {
        val v = xs(b + j)
        if (v < mn) mn = v; if (v > mx) mx = v
        j += 1
      }
      val (dh, d) = half((mx - mn) / 31f)
      val (mh, _) = half(mn)
      val id = if (d == 0f) 0f else 1f / d
      out.putShort(dh); out.putShort(mh)
      var qh = 0
      val qs = new Array[Byte](16)
      j = 0
      while (j < 16) {
        val q0 = math.min(31, ((xs(b + j) - mn) * id + 0.5f).toInt)
        val q1 = math.min(31,
          ((xs(b + 16 + j) - mn) * id + 0.5f).toInt)
        qs(j) = ((q0 & 0x0f) | ((q1 & 0x0f) << 4)).toByte
        qh |= ((q0 & 0x10) >>> 4) << j
        qh |= ((q1 & 0x10) >>> 4) << (j + 16)
        j += 1
      }
      out.putInt(qh)
      out.put(qs)
      b += 32
    }
    out.array()
  }

  def dequantizeQ5_1(data: Array[Byte]): Array[Float] = {
    require(data.length % 24 == 0, "Q5_1 data is 24-byte blocks")
    val in = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val out = new Array[Float](data.length / 24 * 32)
    var b = 0
    while (b < out.length) {
      val d = Safetensors.halfToFloat(in.getShort() & 0xffff)
      val m = Safetensors.halfToFloat(in.getShort() & 0xffff)
      val qh = in.getInt()
      var j = 0
      while (j < 16) {
        val q = in.get() & 0xff
        val h0 = ((qh >>> j) << 4) & 0x10
        val h1 = (qh >>> (j + 12)) & 0x10
        out(b + j) = ((q & 0x0f) | h0) * d + m
        out(b + 16 + j) = ((q >>> 4) | h1) * d + m
        j += 1
      }
      b += 32
    }
    out
  }

  // ---------------------------------------------------------------
  // K-quants — Q2_K…Q6_K. 256-element (QK_K) super-blocks: one fp16
  // super-scale `d` (affine forms add a super-min `dmin`) over
  // per-group sub-scales (Q2_K: 4-bit scale+min per 16 lanes; Q3_K:
  // 6-bit signed scale per 16; Q4_K/Q5_K: 6-bit scale+min per 32;
  // Q6_K: int8 scale per 16). The wire layouts follow the public
  // ggml block structs (gguf.md / k_quants); everything is closed
  // arithmetic — no tabulated constants, those live only in the IQ
  // family, which stays rejected. Decoders are hand-pinned against
  // layout vectors computed by hand from the published dequant
  // formulas; encoders are OUR closed-form scale fits (any encoder
  // emitting in-bound blocks is conformant — the format pins the
  // decode, not the scale search), held to analytic error bounds by
  // [[checkKQuantBounds]] in specs AND in-flight in the gate lane.
  // ---------------------------------------------------------------

  private def halfAt(data: Array[Byte], off: Int): Float =
    Safetensors.halfToFloat(
      (data(off) & 0xff) | ((data(off + 1) & 0xff) << 8))

  /** Q6_K (210 B / 256): ql[128] nibbles, qh[64] 2-bit planes,
    * scales[16] int8 (one per 16 lanes), fp16 d at byte 208.
    * x = d · scales[e/16] · (q6 − 32). */
  def dequantizeQ6_K(data: Array[Byte]): Array[Float] = {
    require(data.length % 210 == 0, "Q6_K data is 210-byte blocks")
    val out = new Array[Float](data.length / 210 * 256)
    var blk = 0
    while (blk * 210 < data.length) {
      val base = blk * 210
      val d = halfAt(data, base + 208)
      var n = 0
      while (n < 256) {
        val ql = base + (n >> 7) * 64
        val qh = base + 128 + (n >> 7) * 32
        val sc = base + 192 + (n >> 7) * 8
        var l = 0
        while (l < 32) {
          val is = l >> 4
          val h = data(qh + l) & 0xff
          val q1 = ((data(ql + l) & 0x0f) | (((h >> 0) & 3) << 4)) - 32
          val q2 = ((data(ql + 32 + l) & 0x0f) | (((h >> 2) & 3) << 4)) - 32
          val q3 = (((data(ql + l) & 0xff) >>> 4) | (((h >> 4) & 3) << 4)) - 32
          val q4 = (((data(ql + 32 + l) & 0xff) >>> 4) | (((h >> 6) & 3) << 4)) - 32
          val o = blk * 256 + n
          out(o + l) = d * data(sc + is) * q1
          out(o + 32 + l) = d * data(sc + is + 2) * q2
          out(o + 64 + l) = d * data(sc + is + 4) * q3
          out(o + 96 + l) = d * data(sc + is + 6) * q4
          l += 1
        }
        n += 128
      }
      blk += 1
    }
    out
  }

  /** Q6_K encode: per-16-group scale f = signedmax/−32 (the extreme
    * lane lands exactly on code −32), super-scale d = max|f|/127,
    * int8 sub-scales round(f/d), q = round(x/(d·sc)) in [−32, 31]. */
  def quantizeQ6_K(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 256 == 0, "Q6_K needs 256-element blocks")
    val out = new Array[Byte](xs.length / 256 * 210)
    var blk = 0
    while (blk * 256 < xs.length) {
      val xb = blk * 256; val ob = blk * 210
      val f = new Array[Float](16)
      var fmax = 0f
      var g = 0
      while (g < 16) {
        var amax = 0f; var smax = 0f
        var k = 0
        while (k < 16) {
          val v = xs(xb + g * 16 + k)
          if (math.abs(v) > amax) { amax = math.abs(v); smax = v }
          k += 1
        }
        f(g) = smax / -32f
        if (math.abs(f(g)) > fmax) fmax = math.abs(f(g))
        g += 1
      }
      val (dh, d) = half(fmax / 127f)
      out(ob + 208) = (dh & 0xff).toByte
      out(ob + 209) = ((dh >> 8) & 0xff).toByte
      val sc = new Array[Int](16)
      g = 0
      while (g < 16) {
        sc(g) = if (d == 0f) 0
          else math.max(-127, math.min(127, math.round(f(g) / d)))
        out(ob + 192 + g) = sc(g).toByte
        g += 1
      }
      val q = new Array[Int](256)
      var e = 0
      while (e < 256) {
        val s = d * sc(e >> 4)
        q(e) = if (s == 0f) 0
          else math.max(-32, math.min(31, math.round(xs(xb + e) / s)))
        e += 1
      }
      var n = 0
      while (n < 256) {
        val ql = ob + (n >> 7) * 64
        val qh = ob + 128 + (n >> 7) * 32
        var l = 0
        while (l < 32) {
          val v1 = q(n + l) + 32; val v2 = q(n + 32 + l) + 32
          val v3 = q(n + 64 + l) + 32; val v4 = q(n + 96 + l) + 32
          out(ql + l) = ((v1 & 0x0f) | ((v3 & 0x0f) << 4)).toByte
          out(ql + 32 + l) = ((v2 & 0x0f) | ((v4 & 0x0f) << 4)).toByte
          out(qh + l) = (((v1 >> 4) & 3) | (((v2 >> 4) & 3) << 2) |
            (((v3 >> 4) & 3) << 4) | (((v4 >> 4) & 3) << 6)).toByte
          l += 1
        }
        n += 128
      }
      blk += 1
    }
    out
  }

  /** The 12-byte 6-bit scale/min packing shared by Q4_K and Q5_K:
    * j<4 → scale j in b[j] bits 0-5, min j in b[j+4] bits 0-5;
    * j≥4 → scale low4 in b[j+4] bits 0-3 with high2 in b[j−4] bits
    * 6-7, min low4 in b[j+4] bits 4-7 with high2 in b[j] bits 6-7. */
  private def scaleMinK4(j: Int, b: Array[Byte], off: Int)
      : (Int, Int) =
    if (j < 4)
      (b(off + j) & 63, b(off + j + 4) & 63)
    else
      ((b(off + j + 4) & 0x0f) | (((b(off + j - 4) & 0xff) >> 6) << 4),
        ((b(off + j + 4) & 0xff) >> 4) |
          (((b(off + j) & 0xff) >> 6) << 4))

  private def packScaleMinK4(sc: Array[Int], mn: Array[Int])
      : Array[Byte] = {
    val b = new Array[Byte](12)
    var j = 0
    while (j < 4) {
      b(j) = ((sc(j) & 63) | ((sc(j + 4) >> 4) << 6)).toByte
      b(j + 4) = ((mn(j) & 63) | ((mn(j + 4) >> 4) << 6)).toByte
      b(j + 8) = ((sc(j + 4) & 0x0f) | ((mn(j + 4) & 0x0f) << 4)).toByte
      j += 1
    }
    b
  }

  /** Q4_K (144 B / 256): fp16 d, fp16 dmin, scales[12] (8 × 6-bit
    * scale+min pairs, one per 32 lanes), qs[128] nibbles — even
    * groups in low nibbles, odd in high. x = d·sc·q − dmin·m. */
  def dequantizeQ4_K(data: Array[Byte]): Array[Float] = {
    require(data.length % 144 == 0, "Q4_K data is 144-byte blocks")
    val out = new Array[Float](data.length / 144 * 256)
    var blk = 0
    while (blk * 144 < data.length) {
      val base = blk * 144
      val d = halfAt(data, base)
      val dmin = halfAt(data, base + 2)
      var g = 0
      while (g < 8) {
        val (sc, m) = scaleMinK4(g, data, base + 4)
        val dl = d * sc; val ml = dmin * m
        val qOff = base + 16 + (g >> 1) * 32
        val hi = (g & 1) == 1
        var l = 0
        while (l < 32) {
          val qb = data(qOff + l) & 0xff
          out(blk * 256 + g * 32 + l) =
            dl * (if (hi) qb >>> 4 else qb & 0x0f) - ml
          l += 1
        }
        g += 1
      }
      blk += 1
    }
    out
  }

  /** Shared affine K-quant scale fit for Q2_K/Q4_K/Q5_K: per group
    * offset off = max(0, −min), span scale f = (max+off)/levels;
    * super-scales d = max f/scMax, dmin = max off/scMax. Returns
    * (d, dmin, sc[], m[], fp16 d bits, fp16 dmin bits). */
  private def affineFit(xs: Array[Float], xb: Int, groups: Int,
      groupLen: Int, levels: Int, scMax: Int)
      : (Float, Float, Array[Int], Array[Int], Short, Short) = {
    val f = new Array[Float](groups); val off = new Array[Float](groups)
    var fmax = 0f; var omax = 0f
    var g = 0
    while (g < groups) {
      var mn = xs(xb + g * groupLen); var mx = mn
      var k = 1
      while (k < groupLen) {
        val v = xs(xb + g * groupLen + k)
        if (v < mn) mn = v; if (v > mx) mx = v
        k += 1
      }
      off(g) = math.max(0f, -mn)
      f(g) = (mx + off(g)) / levels
      if (f(g) > fmax) fmax = f(g)
      if (off(g) > omax) omax = off(g)
      g += 1
    }
    val (dh, d) = half(fmax / scMax)
    val (mh, dmin) = half(omax / scMax)
    val sc = new Array[Int](groups); val mq = new Array[Int](groups)
    g = 0
    while (g < groups) {
      sc(g) = if (d == 0f) 0
        else math.max(0, math.min(scMax, math.round(f(g) / d)))
      mq(g) = if (dmin == 0f) 0
        else math.max(0, math.min(scMax, math.round(off(g) / dmin)))
      g += 1
    }
    (d, dmin, sc, mq, dh, mh)
  }

  def quantizeQ4_K(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 256 == 0, "Q4_K needs 256-element blocks")
    val out = new Array[Byte](xs.length / 256 * 144)
    var blk = 0
    while (blk * 256 < xs.length) {
      val xb = blk * 256; val ob = blk * 144
      val (d, dmin, sc, mq, dh, mh) = affineFit(xs, xb, 8, 32, 15, 63)
      out(ob) = (dh & 0xff).toByte; out(ob + 1) = ((dh >> 8) & 0xff).toByte
      out(ob + 2) = (mh & 0xff).toByte; out(ob + 3) = ((mh >> 8) & 0xff).toByte
      System.arraycopy(packScaleMinK4(sc, mq), 0, out, ob + 4, 12)
      var g = 0
      while (g < 8) {
        val s = d * sc(g); val m = dmin * mq(g)
        val qOff = ob + 16 + (g >> 1) * 32
        val hi = (g & 1) == 1
        var l = 0
        while (l < 32) {
          val q = if (s == 0f) 0
            else math.max(0, math.min(15,
              math.round((xs(xb + g * 32 + l) + m) / s)))
          val old = out(qOff + l) & 0xff
          out(qOff + l) =
            (if (hi) (old & 0x0f) | (q << 4) else (old & 0xf0) | q).toByte
          l += 1
        }
        g += 1
      }
      blk += 1
    }
    out
  }

  /** Q5_K (176 B / 256): like Q4_K plus qh[32] — the 5th bit of
    * element e is qh[e & 31] bit (e >> 5). */
  def dequantizeQ5_K(data: Array[Byte]): Array[Float] = {
    require(data.length % 176 == 0, "Q5_K data is 176-byte blocks")
    val out = new Array[Float](data.length / 176 * 256)
    var blk = 0
    while (blk * 176 < data.length) {
      val base = blk * 176
      val d = halfAt(data, base)
      val dmin = halfAt(data, base + 2)
      var g = 0
      while (g < 8) {
        val (sc, m) = scaleMinK4(g, data, base + 4)
        val dl = d * sc; val ml = dmin * m
        val qOff = base + 48 + (g >> 1) * 32
        val hi = (g & 1) == 1
        var l = 0
        while (l < 32) {
          val qb = data(qOff + l) & 0xff
          val nib = if (hi) qb >>> 4 else qb & 0x0f
          val h = ((data(base + 16 + l) & 0xff) >>> g) & 1
          out(blk * 256 + g * 32 + l) = dl * (nib | (h << 4)) - ml
          l += 1
        }
        g += 1
      }
      blk += 1
    }
    out
  }

  def quantizeQ5_K(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 256 == 0, "Q5_K needs 256-element blocks")
    val out = new Array[Byte](xs.length / 256 * 176)
    var blk = 0
    while (blk * 256 < xs.length) {
      val xb = blk * 256; val ob = blk * 176
      val (d, dmin, sc, mq, dh, mh) = affineFit(xs, xb, 8, 32, 31, 63)
      out(ob) = (dh & 0xff).toByte; out(ob + 1) = ((dh >> 8) & 0xff).toByte
      out(ob + 2) = (mh & 0xff).toByte; out(ob + 3) = ((mh >> 8) & 0xff).toByte
      System.arraycopy(packScaleMinK4(sc, mq), 0, out, ob + 4, 12)
      var g = 0
      while (g < 8) {
        val s = d * sc(g); val m = dmin * mq(g)
        val qOff = ob + 48 + (g >> 1) * 32
        val hi = (g & 1) == 1
        var l = 0
        while (l < 32) {
          val q = if (s == 0f) 0
            else math.max(0, math.min(31,
              math.round((xs(xb + g * 32 + l) + m) / s)))
          val old = out(qOff + l) & 0xff
          out(qOff + l) = (if (hi) (old & 0x0f) | ((q & 0x0f) << 4)
            else (old & 0xf0) | (q & 0x0f)).toByte
          out(ob + 16 + l) =
            ((out(ob + 16 + l) & 0xff) | ((q >> 4) << g)).toByte
          l += 1
        }
        g += 1
      }
      blk += 1
    }
    out
  }

  /** Q2_K (84 B / 256): scales[16] (low nibble scale, high nibble
    * min, one per 16 lanes), qs[64] 2-bit planes (element e reads
    * qs[(e>>7)·32 + (e&31)] bits 2·((e>>5)&3)), fp16 d at 80, dmin
    * at 82. x = d·(sc&0xF)·q − dmin·(sc>>4). */
  def dequantizeQ2_K(data: Array[Byte]): Array[Float] = {
    require(data.length % 84 == 0, "Q2_K data is 84-byte blocks")
    val out = new Array[Float](data.length / 84 * 256)
    var blk = 0
    while (blk * 84 < data.length) {
      val base = blk * 84
      val d = halfAt(data, base + 80)
      val dmin = halfAt(data, base + 82)
      var e = 0
      while (e < 256) {
        val sb = data(base + (e >> 4)) & 0xff
        val q = ((data(base + 16 + ((e >> 7) << 5) + (e & 31)) & 0xff)
          >>> (2 * ((e >> 5) & 3))) & 3
        out(blk * 256 + e) = d * (sb & 0x0f) * q - dmin * (sb >>> 4)
        e += 1
      }
      blk += 1
    }
    out
  }

  def quantizeQ2_K(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 256 == 0, "Q2_K needs 256-element blocks")
    val out = new Array[Byte](xs.length / 256 * 84)
    var blk = 0
    while (blk * 256 < xs.length) {
      val xb = blk * 256; val ob = blk * 84
      val (d, dmin, sc, mq, dh, mh) = affineFit(xs, xb, 16, 16, 3, 15)
      out(ob + 80) = (dh & 0xff).toByte
      out(ob + 81) = ((dh >> 8) & 0xff).toByte
      out(ob + 82) = (mh & 0xff).toByte
      out(ob + 83) = ((mh >> 8) & 0xff).toByte
      var g = 0
      while (g < 16) {
        out(ob + g) = ((sc(g) & 0x0f) | ((mq(g) & 0x0f) << 4)).toByte
        g += 1
      }
      var e = 0
      while (e < 256) {
        val s = d * sc(e >> 4); val m = dmin * mq(e >> 4)
        val q = if (s == 0f) 0
          else math.max(0, math.min(3, math.round((xs(xb + e) + m) / s)))
        val idx = ob + 16 + ((e >> 7) << 5) + (e & 31)
        out(idx) = ((out(idx) & 0xff) | (q << (2 * ((e >> 5) & 3)))).toByte
        e += 1
      }
      blk += 1
    }
    out
  }

  /** The Q3_K 12-byte packing of 16 6-bit scales: scale i low4 —
    * i<8 in b[i] bits 0-3, i≥8 in b[i−8] bits 4-7; high2 in b[8 +
    * (i&3)] bits 2·(i>>2). Stored value − 32 is the signed scale. */
  private def q3Scale(i: Int, b: Array[Byte], off: Int): Int = {
    val low4 = if (i < 8) b(off + i) & 0x0f
      else ((b(off + i - 8) & 0xff) >>> 4) & 0x0f
    val hi2 = ((b(off + 8 + (i & 3)) & 0xff) >>> (2 * (i >> 2))) & 3
    (low4 | (hi2 << 4)) - 32
  }

  private def packQ3Scales(sc: Array[Int]): Array[Byte] = {
    val b = new Array[Byte](12)
    var i = 0
    while (i < 16) {
      val v = sc(i) + 32
      if (i < 8) b(i) = ((b(i) & 0xf0) | (v & 0x0f)).toByte
      else b(i - 8) = ((b(i - 8) & 0x0f) | ((v & 0x0f) << 4)).toByte
      b(8 + (i & 3)) =
        ((b(8 + (i & 3)) & 0xff) | (((v >> 4) & 3) << (2 * (i >> 2)))).toByte
      i += 1
    }
    b
  }

  /** Q3_K (110 B / 256): hmask[32] (element e's 3rd bit is
    * hmask[e & 31] bit (e >> 5); SET means the −4 offset is NOT
    * applied), qs[64] 2-bit planes (same walk as Q2_K), scales[12]
    * (16 × 6-bit signed-as-stored−32, one per 16 lanes), fp16 d at
    * 108. x = d·(scale−32)·(q2 − (hbit ? 0 : 4)). */
  def dequantizeQ3_K(data: Array[Byte]): Array[Float] = {
    require(data.length % 110 == 0, "Q3_K data is 110-byte blocks")
    val out = new Array[Float](data.length / 110 * 256)
    var blk = 0
    while (blk * 110 < data.length) {
      val base = blk * 110
      val d = halfAt(data, base + 108)
      var e = 0
      while (e < 256) {
        val q2 = ((data(base + 32 + ((e >> 7) << 5) + (e & 31)) & 0xff)
          >>> (2 * ((e >> 5) & 3))) & 3
        val hbit = ((data(base + (e & 31)) & 0xff) >>> (e >> 5)) & 1
        val v = q2 - (if (hbit == 1) 0 else 4)
        out(blk * 256 + e) = d * q3Scale(e >> 4, data, base + 96) * v
        e += 1
      }
      blk += 1
    }
    out
  }

  def quantizeQ3_K(xs: Array[Float]): Array[Byte] = {
    require(xs.length % 256 == 0, "Q3_K needs 256-element blocks")
    val out = new Array[Byte](xs.length / 256 * 110)
    var blk = 0
    while (blk * 256 < xs.length) {
      val xb = blk * 256; val ob = blk * 110
      val f = new Array[Float](16)
      var fmax = 0f
      var g = 0
      while (g < 16) {
        var amax = 0f; var smax = 0f
        var k = 0
        while (k < 16) {
          val v = xs(xb + g * 16 + k)
          if (math.abs(v) > amax) { amax = math.abs(v); smax = v }
          k += 1
        }
        f(g) = smax / -4f
        if (math.abs(f(g)) > fmax) fmax = math.abs(f(g))
        g += 1
      }
      val (dh, d) = half(fmax / 31f)
      out(ob + 108) = (dh & 0xff).toByte
      out(ob + 109) = ((dh >> 8) & 0xff).toByte
      val sc = new Array[Int](16)
      g = 0
      while (g < 16) {
        sc(g) = if (d == 0f) 0
          else math.max(-32, math.min(31, math.round(f(g) / d)))
        g += 1
      }
      System.arraycopy(packQ3Scales(sc), 0, out, ob + 96, 12)
      var e = 0
      while (e < 256) {
        val s = d * sc(e >> 4)
        val v = if (s == 0f) 0
          else math.max(-4, math.min(3, math.round(xs(xb + e) / s)))
        val qIdx = ob + 32 + ((e >> 7) << 5) + (e & 31)
        out(qIdx) =
          ((out(qIdx) & 0xff) | ((v & 3) << (2 * ((e >> 5) & 3)))).toByte
        if (v >= 0) {
          val hIdx = ob + (e & 31)
          out(hIdx) = ((out(hIdx) & 0xff) | (1 << (e >> 5))).toByte
        }
        e += 1
      }
      blk += 1
    }
    out
  }

  /** Per-block per-group analytic K-quant error bound, asserted
    * against our encode→decode: rounding pays half a level, the
    * asymmetric clamp pays the provable excess of the group's true
    * range over the representable one, affine forms additionally
    * pay the offset-quantization error |off − dmin·m|. A wrong
    * scale index, bit plane or byte walk blows these bounds by
    * whole levels. Throws on violation. */
  def checkKQuantBounds(tag: String, xs: Array[Float],
      data: Array[Byte]): Unit = {
    val blockBytes = Map("Q2_K" -> 84, "Q3_K" -> 110, "Q4_K" -> 144,
      "Q5_K" -> 176, "Q6_K" -> 210)(tag)
    require(xs.length % 256 == 0 &&
      data.length == xs.length / 256 * blockBytes, s"$tag sizes")
    val deq = tag match {
      case "Q2_K" => dequantizeQ2_K(data)
      case "Q3_K" => dequantizeQ3_K(data)
      case "Q4_K" => dequantizeQ4_K(data)
      case "Q5_K" => dequantizeQ5_K(data)
      case "Q6_K" => dequantizeQ6_K(data)
    }
    val (groupLen, levels) = tag match {
      case "Q2_K" => (16, 3)
      case "Q3_K" => (16, 7) // signed −4..3: 7 steps end to end
      case "Q4_K" => (32, 15)
      case "Q5_K" => (32, 31)
      case "Q6_K" => (16, 63)
    }
    val affine = tag == "Q2_K" || tag == "Q4_K" || tag == "Q5_K"
    var blk = 0
    while (blk * 256 < xs.length) {
      val base = blk * blockBytes
      var g = 0
      while (g * groupLen < 256) {
        val x0 = blk * 256 + g * groupLen
        var mn = xs(x0); var mx = mn
        var k = 1
        while (k < groupLen) {
          val v = xs(x0 + k)
          if (v < mn) mn = v; if (v > mx) mx = v
          k += 1
        }
        // stored effective scale/min for this group
        val (lvl, offq) = tag match {
          case "Q2_K" =>
            val sb = data(base + g) & 0xff
            (halfAt(data, base + 80) * (sb & 0x0f),
              halfAt(data, base + 82) * (sb >>> 4))
          case "Q3_K" =>
            (math.abs(halfAt(data, base + 108) *
              q3Scale(g, data, base + 96)), 0f)
          case "Q4_K" | "Q5_K" =>
            val (sc, m) = scaleMinK4(g, data, base + 4)
            (halfAt(data, base) * sc, halfAt(data, base + 2) * m)
          case "Q6_K" =>
            (math.abs(halfAt(data, base + 208) *
              data(base + 192 + g)), 0f)
        }
        val amax = math.max(math.abs(mn), math.abs(mx))
        val bound =
          if (lvl == 0f) amax + offq + 1e-6f
          else if (affine)
            // offset error + clamp excess past levels·lvl + half a
            // rounding level
            0.5f * lvl + math.abs(math.max(0f, -mn) - offq) +
              math.max(0f, mx + offq - levels * lvl) + 1e-6f
          else
            // symmetric: clamp excess past the short (positive)
            // side — 3 of 7 levels for Q3_K, 31 of 63 for Q6_K
            0.5f * lvl + math.max(0f, amax - (levels / 2) * lvl) +
              1e-6f
        k = 0
        while (k < groupLen) {
          val err = math.abs(deq(x0 + k) - xs(x0 + k))
          require(err <= bound,
            s"$tag bound broken: block $blk group $g lane $k: " +
              s"${xs(x0 + k)} -> ${deq(x0 + k)} (err $err > $bound)")
          k += 1
        }
        g += 1
      }
      blk += 1
    }
  }

  /** F32 lane accessor for a parsed tensor. */
  def f32At(t: GTensor, i: Int): Float = {
    require(t.tpe == "F32")
    ByteBuffer.wrap(t.data).order(ByteOrder.LITTLE_ENDIAN)
      .getFloat(i * 4)
  }

  def i64At(t: GTensor, i: Int): Long = {
    require(t.tpe == "I64")
    ByteBuffer.wrap(t.data).order(ByteOrder.LITTLE_ENDIAN)
      .getLong(i * 8)
  }
}
