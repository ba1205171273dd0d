package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** safetensors (the public format spec, huggingface/safetensors
  * README + format.md) — THE shard format modern model weights and
  * precomputed embedding dumps ship in: an 8-byte little-endian
  * header length, a JSON header mapping tensor names to
  * `{dtype, shape, data_offsets}` (plus an optional `__metadata__`
  * string map), then one flat little-endian data buffer the offsets
  * index into. A training-data engine meets `.safetensors` files the
  * day someone hands it an embedding dump, so both directions are
  * real here: [[build]] writes the canonical layout (tensors packed
  * in insertion order, offsets contiguous from 0) and [[parse]]
  * reads any spec-conforming file back.
  *
  * Validation mirrors the reference deserializer's rules: the
  * header length must fit the input and stay under the spec's
  * 100 MB bound, every `data_offsets` pair must satisfy
  * begin ≤ end ≤ buffer length, the byte span must equal
  * `product(shape) · itemsize(dtype)` exactly, and — the canonical-
  * form check the serializer guarantees — the spans must tile the
  * data buffer contiguously with no holes and no overlap. Unknown
  * dtypes, negative dims, element-count overflow (> 2^31 elements)
  * and trailing bytes all reject. None on any malformation — drop,
  * never invent.
  *
  * No JVM safetensors implementation is bundled to differential
  * against, so validation is hand-pinned byte layouts from the spec
  * document, exhaustive round trips across every dtype, and
  * mutation fuzz — SafetensorsSpec. F16 lanes decode through the
  * closed-form IEEE 754 binary16 conversion below (subnormals,
  * infinities and NaN payloads included, round-to-nearest-even on
  * the build side); BF16 is the top half of a binary32 by
  * construction.
  */
object Safetensors {

  /** One tensor: dtype tag, dims, and its raw little-endian bytes. */
  final case class Tensor(name: String, dtype: String,
      shape: Seq[Long], data: Array[Byte]) {
    def elems: Long = shape.foldLeft(1L)(_ * _)
  }

  /** Bytes per element for every spec dtype (format.md table). */
  val ItemSize: Map[String, Int] = Map(
    "BOOL" -> 1, "U8" -> 1, "I8" -> 1, "F8_E4M3" -> 1, "F8_E5M2" -> 1,
    "I16" -> 2, "U16" -> 2, "F16" -> 2, "BF16" -> 2,
    "I32" -> 4, "U32" -> 4, "F32" -> 4,
    "I64" -> 8, "U64" -> 8, "F64" -> 8)

  private final val MaxHeader = 100 * 1000 * 1000 // spec: 100 MB
  private final val MaxElems = Int.MaxValue.toLong

  // ---------------------------------------------------------------
  // Build (canonical: insertion order, contiguous offsets from 0)
  // ---------------------------------------------------------------

  def build(tensors: Seq[Tensor],
      metadata: Map[String, String] = Map.empty): Array[Byte] = {
    require(tensors.map(_.name).distinct.length == tensors.length,
      "duplicate tensor name")
    tensors.foreach { t =>
      val isz = ItemSize.getOrElse(t.dtype,
        sys.error(s"unknown dtype ${t.dtype}"))
      require(t.shape.forall(_ >= 0), s"negative dim in ${t.name}")
      require(t.elems <= MaxElems, s"tensor ${t.name} too large")
      require(t.data.length.toLong == t.elems * isz,
        s"tensor ${t.name}: ${t.data.length} bytes for ${t.elems} " +
          s"elems of ${t.dtype}")
    }
    val sb = new StringBuilder
    sb += '{'
    var first = true
    if (metadata.nonEmpty) {
      sb ++= "\"__metadata__\":{"
      sb ++= metadata.toSeq.sortBy(_._1).map { case (k, v) =>
        JsonMini.quote(k) + ":" + JsonMini.quote(v) }.mkString(",")
      sb += '}'
      first = false
    }
    var off = 0L
    tensors.foreach { t =>
      if (!first) sb += ','
      first = false
      val end = off + t.data.length
      sb ++= JsonMini.quote(t.name)
      sb ++= ":{\"dtype\":" + JsonMini.quote(t.dtype)
      sb ++= ",\"shape\":[" + t.shape.mkString(",") + "]"
      sb ++= s""","data_offsets":[$off,$end]}"""
      off = end
    }
    sb += '}'
    val header = sb.toString.getBytes("UTF-8")
    // spec recommendation: pad the header with spaces to 8-align the
    // data buffer start
    val pad = (8 - (header.length % 8)) % 8
    val hlen = header.length + pad
    val out = new java.io.ByteArrayOutputStream(
      8 + hlen + off.toInt)
    Bytes.putLe64(out, hlen)
    out.write(header)
    var i = 0
    while (i < pad) { out.write(' '); i += 1 }
    tensors.foreach(t => out.write(t.data))
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------

  /** None on any malformation; Some(metadata, tensors) with tensors
    * in data-buffer offset order. */
  def parse(data: Array[Byte])
      : Option[(Map[String, String], Seq[Tensor])] = {
    if (data.length < 8) return None
    val hlen = Bytes.le64(data, 0)
    if (hlen < 2 || hlen > MaxHeader ||
      8 + hlen > data.length) return None
    val json = new String(data, 8, hlen.toInt, "UTF-8")
    val top = JsonMini.parse(json) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case _ => return None
    }
    val bufStart = 8 + hlen.toInt
    val bufLen = (data.length - bufStart).toLong

    val metadata: Map[String, String] = top.get("__metadata__") match {
      case None => Map.empty
      case Some(m: Map[_, _]) =>
        val mm = m.asInstanceOf[Map[String, Any]]
        if (!mm.values.forall(_.isInstanceOf[String])) return None
        mm.asInstanceOf[Map[String, String]]
      case Some(_) => return None
    }

    val entries = Seq.newBuilder[(Long, Tensor)]
    top.foreach {
      case ("__metadata__", _) => ()
      case (name, v) =>
        val m = JsonMini.obj(v).getOrElse(return None)
        val dtype = JsonMini.str(m.getOrElse("dtype", return None))
          .getOrElse(return None)
        val isz = ItemSize.getOrElse(dtype, return None)
        val shape = JsonMini.arr(m.getOrElse("shape", return None))
          .getOrElse(return None)
          .map(d => JsonMini.long(d).getOrElse(return None))
        if (shape.exists(_ < 0)) return None
        var elems = 1L
        shape.foreach { d =>
          elems *= d
          if (elems > MaxElems) return None
        }
        val offs = JsonMini.arr(m.getOrElse("data_offsets", return None))
          .getOrElse(return None)
          .map(d => JsonMini.long(d).getOrElse(return None))
        if (offs.length != 2) return None
        val (b, e) = (offs(0), offs(1))
        if (b < 0 || b > e || e > bufLen) return None
        if (e - b != elems * isz) return None
        val bytes = java.util.Arrays.copyOfRange(
          data, bufStart + b.toInt, bufStart + e.toInt)
        entries += ((b, Tensor(name, dtype, shape, bytes)))
    }
    val sorted = entries.result().sortBy(_._1)
    // canonical-form check: spans tile the buffer exactly
    var expect = 0L
    sorted.foreach { case (b, t) =>
      if (b != expect) return None
      expect = b + t.data.length
    }
    if (expect != bufLen) return None
    Some((metadata, sorted.map(_._2)))
  }

  // ---------------------------------------------------------------
  // Lane accessors (little-endian, like the format)
  // ---------------------------------------------------------------

  private def bb(t: Tensor): ByteBuffer =
    ByteBuffer.wrap(t.data).order(ByteOrder.LITTLE_ENDIAN)

  def f32At(t: Tensor, i: Int): Float = bb(t).getFloat(i * 4)
  def f64At(t: Tensor, i: Int): Double = bb(t).getDouble(i * 8)
  def i64At(t: Tensor, i: Int): Long = bb(t).getLong(i * 8)
  def i32At(t: Tensor, i: Int): Int = bb(t).getInt(i * 4)
  def i16At(t: Tensor, i: Int): Short = bb(t).getShort(i * 2)

  /** IEEE 754 binary16 → Float (the ArrowIpc temporal decode's
    * half-float arithmetic, shared convention). */
  def f16At(t: Tensor, i: Int): Float =
    halfToFloat(bb(t).getShort(i * 2) & 0xffff)

  /** bfloat16 → Float: the top 16 bits of a binary32. */
  def bf16At(t: Tensor, i: Int): Float =
    java.lang.Float.intBitsToFloat((bb(t).getShort(i * 2) & 0xffff) << 16)

  /** float8 E4M3 lane (the FN variant the format ships — torch
    * float8_e4m3fn): no infinities, NaN only at S.1111.111. */
  def f8e4m3At(t: Tensor, i: Int): Float =
    f8e4m3ToFloat(t.data(i) & 0xff)

  /** float8 E5M2 lane: IEEE-style, exp 31 carries inf/NaN. */
  def f8e5m2At(t: Tensor, i: Int): Float =
    f8e5m2ToFloat(t.data(i) & 0xff)

  /** E4M3(FN) bits → Float. 1-4-3, bias 7; exponent 15 codes are
    * NORMAL numbers up to 448 except mantissa 111 (NaN); there is
    * no infinity. Subnormals: f/8 · 2^-6. Closed form — no table. */
  def f8e4m3ToFloat(b: Int): Float = {
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val e = (b >>> 3) & 0x0f
    val f = b & 0x07
    if (e == 0x0f && f == 0x07) Float.NaN
    else if (e == 0) sign * f / 8f * math.pow(2, -6).toFloat
    else sign * (1f + f / 8f) *
      java.lang.Math.scalb(1f, e - 7)
  }

  /** E5M2 bits → Float. 1-5-2, bias 15; exponent 31 is inf (f=0)
    * or NaN. Subnormals: f/4 · 2^-14. */
  def f8e5m2ToFloat(b: Int): Float = {
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val e = (b >>> 2) & 0x1f
    val f = b & 0x03
    if (e == 0x1f) {
      if (f == 0) sign * Float.PositiveInfinity else Float.NaN
    }
    else if (e == 0) sign * f / 4f * math.pow(2, -14).toFloat
    else sign * (1f + f / 4f) *
      java.lang.Math.scalb(1f, e - 15)
  }

  /** Float → E4M3(FN) bits, round-to-nearest-even; values past the
    * max finite 448 SATURATE (the FN convention — there is no inf
    * to overflow into); NaN → 0x7f. */
  def floatToF8E4M3(x: Float): Byte = {
    if (x.isNaN) return 0x7f.toByte
    val sign = if (x < 0f ||
      (x == 0f && (java.lang.Float.floatToIntBits(x) < 0))) 0x80
      else 0
    val a = math.abs(x)
    if (a > 448f || a.isInfinite) return (sign | 0x7e).toByte
    if (a < math.pow(2, -10)) return sign.toByte // below half-min
    // scaled integer round: find e with 1 ≤ a/2^e < 2 (or subnormal)
    var e = math.getExponent(a)
    if (e < -6) e = -6 // subnormal plane
    val scaled = a / java.lang.Math.scalb(1f, e) * 8f
    var m = math.rint(scaled).toInt // ties-to-even
    if (m >= 16) { m = 8; e += 1 } // mantissa carry
    if (e > 8 || (e == 8 && m > 14)) (sign | 0x7e).toByte // saturate
    else if (m < 8) (sign | (m & 0x07)).toByte // stayed subnormal
    else (sign | ((e + 7) << 3) | (m & 0x07)).toByte
  }

  /** Float → E5M2 bits, round-to-nearest-even; overflow → ±inf,
    * NaN → 0x7f. */
  def floatToF8E5M2(x: Float): Byte = {
    if (x.isNaN) return 0x7f.toByte
    val sign = if (x < 0f ||
      (x == 0f && (java.lang.Float.floatToIntBits(x) < 0))) 0x80
      else 0
    val a = math.abs(x)
    if (a.isInfinite) return (sign | 0x7c).toByte
    if (a < math.pow(2, -17)) return sign.toByte
    var e = math.getExponent(a)
    if (e < -14) e = -14
    val scaled = a / java.lang.Math.scalb(1f, e) * 4f
    var m = math.rint(scaled).toInt
    if (m >= 8) { m = 4; e += 1 }
    if (e > 15) (sign | 0x7c).toByte // overflow → inf
    else if (m < 4) (sign | (m & 0x03)).toByte
    else (sign | ((e + 15) << 2) | (m & 0x03)).toByte
  }

  /** E4M3FNUZ bits → Float (ONNX data_type 18; the AMD/ROCm float8
    * convention). 1-4-3 with bias 8 — one more than FN, buying an
    * extra low binade; NO infinities and NaN ONLY at 0x80 (the
    * would-be −0 pattern), so there is no negative zero. Max finite
    * = 1.875·2^7 = 240. Subnormals: f/8 · 2^-7. Closed form. */
  def f8e4m3fnuzToFloat(b: Int): Float = {
    if (b == 0x80) return Float.NaN
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val e = (b >>> 3) & 0x0f
    val f = b & 0x07
    if (e == 0) sign * f / 8f * java.lang.Math.scalb(1f, -7)
    else sign * (1f + f / 8f) * java.lang.Math.scalb(1f, e - 8)
  }

  /** E5M2FNUZ bits → Float (ONNX data_type 20). 1-5-2 with bias 16;
    * NaN only at 0x80, no infinities, no −0. Max finite =
    * 1.75·2^15 = 57344. Subnormals: f/4 · 2^-15. */
  def f8e5m2fnuzToFloat(b: Int): Float = {
    if (b == 0x80) return Float.NaN
    val sign = if ((b & 0x80) != 0) -1f else 1f
    val e = (b >>> 2) & 0x1f
    val f = b & 0x03
    if (e == 0) sign * f / 4f * java.lang.Math.scalb(1f, -15)
    else sign * (1f + f / 4f) * java.lang.Math.scalb(1f, e - 16)
  }

  /** Float → E4M3FNUZ bits, round-to-nearest-even; the FNUZ
    * convention saturates overflow to ±240 (no inf exists), maps
    * NaN to 0x80 and BOTH zeros to +0 (there is no −0 pattern —
    * it means NaN). */
  def floatToF8E4M3Fnuz(x: Float): Byte = {
    if (x.isNaN) return 0x80.toByte
    val sign = if (x < 0f) 0x80 else 0 // −0 folds to +0 by design
    val a = math.abs(x)
    if (a > 240f || a.isInfinite)
      return (sign | 0x7f).toByte // saturate to max finite
    if (a == 0f) return 0x00.toByte
    var e = math.getExponent(a)
    if (e < -7) e = -7 // subnormal plane
    val scaled = a / java.lang.Math.scalb(1f, e) * 8f
    var m = math.rint(scaled).toInt // ties-to-even
    if (m >= 16) { m = 8; e += 1 } // mantissa carry
    if (m == 0) return 0x00.toByte // rounded to zero: +0 always
    if (e > 7 || (e == 7 && m > 15)) (sign | 0x7f).toByte
    else if (m < 8) (sign | (m & 0x07)).toByte // stayed subnormal
    else (sign | ((e + 8) << 3) | (m & 0x07)).toByte
  }

  /** Float → E5M2FNUZ bits, round-to-nearest-even; overflow
    * saturates to ±57344, NaN → 0x80, both zeros → +0. */
  def floatToF8E5M2Fnuz(x: Float): Byte = {
    if (x.isNaN) return 0x80.toByte
    val sign = if (x < 0f) 0x80 else 0
    val a = math.abs(x)
    if (a > 57344f || a.isInfinite) return (sign | 0x7f).toByte
    if (a == 0f) return 0x00.toByte
    var e = math.getExponent(a)
    if (e < -15) e = -15
    val scaled = a / java.lang.Math.scalb(1f, e) * 4f
    var m = math.rint(scaled).toInt
    if (m >= 8) { m = 4; e += 1 }
    if (m == 0) return 0x00.toByte
    if (e > 15 || (e == 15 && m > 7)) (sign | 0x7f).toByte
    else if (m < 4) (sign | (m & 0x03)).toByte
    else (sign | ((e + 16) << 2) | (m & 0x03)).toByte
  }

  def halfToFloat(h: Int): Float = {
    val sign = (h >>> 15) & 1
    val exp = (h >>> 10) & 0x1f
    val frac = h & 0x3ff
    val bits =
      if (exp == 0) {
        if (frac == 0) sign << 31
        else { // subnormal: normalize
          var e = -1; var f = frac
          while ((f & 0x400) == 0) { f <<= 1; e += 1 }
          (sign << 31) | ((127 - 15 - e) << 23) | ((f & 0x3ff) << 13)
        }
      } else if (exp == 0x1f) {
        (sign << 31) | 0x7f800000 | (frac << 13) // inf / nan
      } else {
        (sign << 31) | ((exp - 15 + 127) << 23) | (frac << 13)
      }
    java.lang.Float.intBitsToFloat(bits)
  }

  /** Float → IEEE 754 binary16 bits (round-to-nearest-even),
    * for the F16 build path. */
  def floatToHalf(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val exp = (bits >>> 23) & 0xff
    val frac = bits & 0x7fffff
    if (exp == 0xff) // inf / nan
      (sign | 0x7c00 | (if (frac != 0) 0x200 else 0)).toShort
    else {
      val e = exp - 127 + 15
      if (e >= 0x1f) (sign | 0x7c00).toShort // overflow → inf
      else if (e <= 0) {
        if (e < -10) sign.toShort // underflow → signed zero
        else { // subnormal
          val f24 = frac | 0x800000
          val shift = 14 - e
          val half = f24 >>> shift
          val rem = f24 & ((1 << shift) - 1)
          val mid = 1 << (shift - 1)
          val r = if (rem > mid || (rem == mid && (half & 1) == 1))
            half + 1 else half
          (sign | r).toShort
        }
      } else {
        val half = frac >>> 13
        val rem = frac & 0x1fff
        val r0 = (sign | (e << 10) | half)
        val r = if (rem > 0x1000 || (rem == 0x1000 && (half & 1) == 1))
          r0 + 1 else r0 // carry may roll into exponent: correct per IEEE
        r.toShort
      }
    }
  }
}
