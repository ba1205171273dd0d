package graft.operators

import java.nio.{ByteBuffer, ByteOrder}

/** NumPy `.npy` (the public NEP 1 / numpy.lib.format spec) and
  * `.npz` (a ZIP of `.npy` members) — the formats scientific and ML
  * pipelines dump arrays in; embedding matrices, token-id vectors
  * and label arrays routinely arrive as `.npy`/`.npz` shards. Both
  * directions, pure-JVM:
  *
  *  - [[build]] writes format version 1.0 (2.0 automatically when
  *    the header exceeds the u16 bound): `\\x93NUMPY`, version,
  *    header length, then the Python-dict-literal header
  *    `{'descr': '<f4', 'fortran_order': False, 'shape': (3, 4), }`
  *    space-padded so the data start is 64-aligned (the spec's
  *    alignment recommendation), `\\n`-terminated, then the raw
  *    array body. C (row-major) order.
  *  - [[parse]] reads versions 1.0/2.0/3.0, BOTH byte orders
  *    (`<`/`>`; `|` for single-byte types, `=` rejected as
  *    writer-dependent), BOTH memory orders (`fortran_order: True`
  *    handled by the index mapping in [[Arr.at]]), and the numeric
  *    dtype table below. Object arrays (`descr` containing 'O'),
  *    pickled payloads, structured dtypes and string dtypes
  *    reject — they embed arbitrary pickle, which an analytics
  *    engine must never execute.
  *
  * The header dict is parsed by a tiny recursive reader for the
  * exact literal grammar numpy emits (quoted strings, True/False,
  * int tuples incl. the 1-elem `(n,)` form, trailing commas).
  * Validation: magic/version/length bounds, header must be ASCII,
  * `shape`·itemsize must equal the body length exactly (trailing
  * bytes reject), element count capped at 2^31. None on any
  * malformation — drop, never invent. No JVM numpy exists to
  * differential against; validation is hand-pinned layouts from the
  * spec document, round trips across dtypes × orders × versions,
  * and mutation fuzz — NpySpec. `.npz` composes the verified
  * [[Zip]] walk: STORED or DEFLATE members, each a well-formed
  * `.npy`, surfaced by member name with the `.npy` suffix dropped
  * (numpy's own convention). */
object Npy {

  /** A parsed array: dtype tag (`descr` with the order mark
    * stripped, e.g. "f4"), big-endian flag, fortran flag, dims, and
    * the raw body bytes in file order. [[Arr.at]] indexes in
    * LOGICAL row-major coordinates regardless of memory order. */
  final case class Arr(descr: String, bigEndian: Boolean,
      fortran: Boolean, shape: Seq[Int], data: Array[Byte]) {

    def elems: Long = shape.foldLeft(1L)(_ * _.toLong)
    def itemSize: Int = ItemSize(descr)

    private def order =
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN

    /** Flat offset of logical row-major index `ix` honouring the
      * memory order. */
    private def flat(ix: Seq[Int]): Int = {
      require(ix.length == shape.length, "rank mismatch")
      ix.zip(shape).foreach { case (i, d) =>
        require(i >= 0 && i < d, s"index $i out of [0,$d)") }
      if (fortran) {
        // first axis varies fastest
        var off = 0L; var stride = 1L
        ix.zip(shape).foreach { case (i, d) =>
          off += i * stride; stride *= d }
        off.toInt
      } else {
        // last axis varies fastest
        var off = 0L
        ix.zip(shape).foreach { case (i, d) => off = off * d + i }
        off.toInt
      }
    }

    /** Element at logical index as Double (integers widen; bool →
      * 0/1; f2 via the shared half-float arithmetic). */
    def at(ix: Int*): Double = {
      val i = flat(ix)
      val b = ByteBuffer.wrap(data).order(order)
      descr match {
        case "b1" => if (data(i) != 0) 1.0 else 0.0
        case "i1" => data(i).toDouble
        case "u1" => (data(i) & 0xff).toDouble
        case "i2" => b.getShort(i * 2).toDouble
        case "u2" => (b.getShort(i * 2) & 0xffff).toDouble
        case "i4" => b.getInt(i * 4).toDouble
        case "u4" => (b.getInt(i * 4).toLong & 0xffffffffL).toDouble
        case "i8" => b.getLong(i * 8).toDouble
        case "u8" => b.getLong(i * 8).toDouble // raw bits as signed
        case "f2" =>
          Safetensors.halfToFloat(b.getShort(i * 2) & 0xffff).toDouble
        case "f4" => b.getFloat(i * 4).toDouble
        case "f8" => b.getDouble(i * 8)
        case d => sys.error(s"unhandled descr $d")
      }
    }

    /** i8/u8 element at logical index as an exact Long. */
    def longAt(ix: Int*): Long = {
      require(descr == "i8" || descr == "u8", s"longAt on $descr")
      ByteBuffer.wrap(data).order(order).getLong(flat(ix) * 8)
    }

    def floatAt(ix: Int*): Float = {
      require(descr == "f4", s"floatAt on $descr")
      ByteBuffer.wrap(data).order(order).getFloat(flat(ix) * 4)
    }
  }

  val ItemSize: Map[String, Int] = Map(
    "b1" -> 1, "i1" -> 1, "u1" -> 1,
    "i2" -> 2, "u2" -> 2, "f2" -> 2,
    "i4" -> 4, "u4" -> 4, "f4" -> 4,
    "i8" -> 8, "u8" -> 8, "f8" -> 8)

  private final val Magic = "NUMPY".getBytes("ISO-8859-1")
  private final val MaxElems = Int.MaxValue.toLong
  private final val MaxHeader = 1 << 22 // 4 MiB of dict literal

  // ---------------------------------------------------------------
  // Build (v1.0 when possible, C order, little-endian)
  // ---------------------------------------------------------------

  /** `data` must already be laid out in the declared memory order
    * and byte order — [[buildF4]]/[[buildI8]] handle the common
    * C-order little-endian case. */
  def build(descr: String, shape: Seq[Int], data: Array[Byte],
      fortran: Boolean = false, bigEndian: Boolean = false)
      : Array[Byte] = {
    val isz = ItemSize.getOrElse(descr, sys.error(s"dtype $descr"))
    require(shape.forall(_ >= 0), "negative dim")
    val elems = shape.foldLeft(1L)(_ * _.toLong)
    require(elems <= MaxElems, "too many elements")
    require(data.length.toLong == elems * isz,
      s"${data.length} bytes for $elems elems of $descr")
    val mark = if (isz == 1) "|" else if (bigEndian) ">" else "<"
    val shapeTxt = shape match {
      case Seq() => "()"
      case Seq(d) => s"($d,)"
      case ds => ds.mkString("(", ", ", ")")
    }
    val dict = s"{'descr': '$mark$descr', 'fortran_order': " +
      s"${if (fortran) "True" else "False"}, 'shape': $shapeTxt, }"
    val d = dict.getBytes("ASCII")
    // pad with spaces + final \n so (magic+version+len+header) % 64 == 0
    def padded(prefix: Int): Array[Byte] = {
      val raw = prefix + d.length + 1
      val pad = (64 - (raw % 64)) % 64
      d ++ Array.fill(pad)(' '.toByte) :+ '\n'.toByte
    }
    val out = new java.io.ByteArrayOutputStream(
      128 + d.length + data.length)
    out.write(Magic)
    val h1 = padded(10)
    if (h1.length <= 0xffff) {
      out.write(1); out.write(0)
      out.write(h1.length & 0xff); out.write((h1.length >> 8) & 0xff)
      out.write(h1)
    } else {
      val h2 = padded(12)
      out.write(2); out.write(0)
      Bytes.putLe32(out, h2.length)
      out.write(h2)
    }
    out.write(data)
    out.toByteArray
  }

  /** Floats → a C-order little-endian f4 `.npy`. */
  def buildF4(shape: Seq[Int], xs: Array[Float]): Array[Byte] = {
    val b = ByteBuffer.allocate(xs.length * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(b.putFloat)
    build("f4", shape, b.array())
  }

  /** Longs → a C-order little-endian i8 `.npy`. */
  def buildI8(shape: Seq[Int], xs: Array[Long]): Array[Byte] = {
    val b = ByteBuffer.allocate(xs.length * 8)
      .order(ByteOrder.LITTLE_ENDIAN)
    xs.foreach(b.putLong)
    build("i8", shape, b.array())
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------

  def parse(bytes: Array[Byte]): Option[Arr] = {
    if (bytes.length < 10) return None
    var i = 0
    while (i < 6) {
      if (bytes(i) != Magic(i)) return None
      i += 1
    }
    val major = bytes(6) & 0xff
    val minor = bytes(7) & 0xff
    if (major < 1 || major > 3 || minor != 0) return None
    val (hlen, hoff) =
      if (major == 1) (((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)).toLong, 10)
      else {
        if (bytes.length < 12) return None
        var v = 0L
        var j = 0
        while (j < 4) { v |= (bytes(8 + j).toLong & 0xff) << (8 * j); j += 1 }
        (v, 12)
      }
    if (hlen <= 0 || hlen > MaxHeader ||
      hoff + hlen > bytes.length) return None
    // spec: header is the dict, space padding, terminated by \n
    if (bytes(hoff + hlen.toInt - 1) != '\n') return None
    val header = new String(bytes, hoff, hlen.toInt, "ASCII")
    val (descrRaw, fortran, shape) = parseDict(header.trim)
      .getOrElse(return None)
    if (descrRaw.length < 2) return None
    val mark = descrRaw.head
    val descr = descrRaw.tail
    val isz = ItemSize.getOrElse(descr, return None)
    val big = mark match {
      case '<' => false
      case '>' => true
      case '|' if isz == 1 => false
      case _ => return None
    }
    if (shape.exists(_ < 0)) return None
    var elems = 1L
    shape.foreach { d =>
      elems *= d
      if (elems > MaxElems) return None
    }
    val body = bytes.length - hoff - hlen
    if (body != elems * isz) return None // trailing bytes reject
    Some(Arr(descr, big, fortran, shape,
      java.util.Arrays.copyOfRange(bytes, hoff + hlen.toInt,
        bytes.length)))
  }

  /** The exact dict-literal grammar numpy emits:
    * {'descr': '<f4', 'fortran_order': False, 'shape': (2, 3), }
    * Key order is free; unknown keys reject (structured dtypes
    * arrive as a list under 'descr' and fail the quote scan). */
  private def parseDict(s: String)
      : Option[(String, Boolean, Seq[Int])] = {
    var p = 0
    def ws(): Unit = while (p < s.length && s(p) == ' ') p += 1
    def eat(c: Char): Boolean = {
      ws()
      if (p < s.length && s(p) == c) { p += 1; true } else false
    }
    def quoted(): Option[String] = {
      ws()
      if (p >= s.length || (s(p) != '\'' && s(p) != '"')) return None
      val q = s(p); p += 1
      val st = p
      while (p < s.length && s(p) != q) p += 1
      if (p >= s.length) return None
      val r = s.substring(st, p); p += 1
      Some(r)
    }
    if (!eat('{')) return None
    var descr: Option[String] = None
    var fortran: Option[Boolean] = None
    var shape: Option[Seq[Int]] = None
    var more = true
    while (more) {
      ws()
      if (p < s.length && s(p) == '}') { p += 1; more = false }
      else {
        val k = quoted().getOrElse(return None)
        if (!eat(':')) return None
        k match {
          case "descr" =>
            descr = Some(quoted().getOrElse(return None))
          case "fortran_order" =>
            ws()
            if (s.startsWith("True", p)) { fortran = Some(true); p += 4 }
            else if (s.startsWith("False", p)) {
              fortran = Some(false); p += 5 }
            else return None
          case "shape" =>
            if (!eat('(')) return None
            val dims = Seq.newBuilder[Int]
            var inTuple = true
            while (inTuple) {
              ws()
              if (p < s.length && s(p) == ')') { p += 1; inTuple = false }
              else {
                val st = p
                while (p < s.length && s(p).isDigit) p += 1
                if (p == st) return None
                val d = try s.substring(st, p).toInt
                  catch { case _: NumberFormatException => return None }
                dims += d
                ws()
                if (p < s.length && s(p) == ',') p += 1
                else { ws(); if (p >= s.length || s(p) != ')')
                  return None }
              }
            }
            shape = Some(dims.result())
          case _ => return None
        }
        if (!eat(',')) { ws()
          if (p >= s.length || s(p) != '}') return None }
      }
    }
    ws()
    if (p != s.length) return None
    for (d <- descr; f <- fortran; sh <- shape) yield (d, f, sh)
  }

  // ---------------------------------------------------------------
  // Structured dtypes (record arrays) — the `descr` LIST form
  // ---------------------------------------------------------------

  /** One record field: kind ∈ i/u/f/b (numeric), S (bytes),
    * U (UCS-4 text); `size` is the byte width of ONE element (U
    * counts 4 bytes per character), `offset` its packed position.
    * Sub-array fields (`('a', '<f4', (3, 2))`) carry `subShape`
    * and `count` = its product — `count` C-ordered elements of
    * `size` bytes each, so the field spans `size * count` bytes.
    * Fields from NESTED records surface flattened with
    * dot-joined names (`pos.x`). */
  final case class Field(name: String, kind: Char, size: Int,
      big: Boolean, offset: Int, count: Int = 1,
      subShape: Seq[Int] = Seq.empty)

  /** A parsed record array (C order only — numpy recarrays are
    * row-major in practice and a fortran structured array would
    * need coordinate mapping per field; it rejects honestly). */
  final case class Rec(fields: Seq[Field], itemSize: Int,
      shape: Seq[Int], data: Array[Byte]) {
    def elems: Int = shape.product
    private def base(f: Field, i: Int, j: Int): Int = {
      require(j >= 0 && j < f.count,
        s"sub-element $j out of [0,${f.count}) for ${f.name}")
      i * itemSize + f.offset + j * f.size
    }
    private def order(f: Field) =
      if (f.big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    def longAt(f: Field, i: Int): Long = longAt(f, i, 0)
    /** record i, flat (C-order) sub-array element j. */
    def longAt(f: Field, i: Int, j: Int): Long = {
      require("iub".contains(f.kind), s"longAt on ${f.kind}")
      val bb = ByteBuffer.wrap(data, base(f, i, j), f.size)
        .order(order(f))
      val raw = f.size match {
        case 1 => bb.get().toLong
        case 2 => bb.getShort().toLong
        case 4 => bb.getInt().toLong
        case 8 => bb.getLong()
      }
      if (f.kind == 'u' && f.size < 8)
        raw & ((1L << (8 * f.size)) - 1)
      else raw
    }
    def doubleAt(f: Field, i: Int): Double = doubleAt(f, i, 0)
    def doubleAt(f: Field, i: Int, j: Int): Double = {
      require(f.kind == 'f', s"doubleAt on ${f.kind}")
      val bb = ByteBuffer.wrap(data, base(f, i, j), f.size)
        .order(order(f))
      if (f.size == 4) bb.getFloat().toDouble else bb.getDouble()
    }
    /** S fields as Latin-1, U fields as UCS-4, trailing NULs
      * stripped (numpy's convention). */
    def stringAt(f: Field, i: Int): String = stringAt(f, i, 0)
    def stringAt(f: Field, i: Int, j: Int): String = {
      require(f.kind == 'S' || f.kind == 'U',
        s"stringAt on ${f.kind}")
      val b = base(f, i, j)
      if (f.kind == 'S') {
        var n = f.size
        while (n > 0 && data(b + n - 1) == 0) n -= 1
        new String(data, b, n, "ISO-8859-1")
      } else {
        val cs = if (f.big) "UTF-32BE" else "UTF-32LE"
        val s = new String(data, b, f.size, cs)
        var n = s.length
        while (n > 0 && s(n - 1) == '\u0000') n -= 1
        s.substring(0, n)
      }
    }
  }

  /** Parse one marked field format ('<i8', '|S5', '<U4', …) →
    * (kind, byteSize, big). None on anything outside the supported
    * set — object ('O'), f2, sub-arrays and nesting reject. */
  private def fieldFormat(fmt: String)
      : Option[(Char, Int, Boolean)] = {
    if (fmt.length < 3) return None
    val mark = fmt.head
    val kind = fmt(1)
    val numTxt = fmt.substring(2)
    if (!numTxt.forall(_.isDigit)) return None
    val num = try numTxt.toInt catch {
      case _: NumberFormatException => return None }
    val big = mark match {
      case '<' => false
      case '>' => true
      case '|' if kind == 'S' || num == 1 => false
      case _ => return None
    }
    kind match {
      case 'i' | 'u' if Set(1, 2, 4, 8)(num) => Some((kind, num, big))
      case 'f' if num == 4 || num == 8 => Some((kind, num, big))
      case 'b' if num == 1 => Some(('b', 1, false))
      case 'S' if num >= 1 && num <= 4096 => Some(('S', num, false))
      case 'U' if num >= 1 && num <= 4096 =>
        Some(('U', 4 * num, big))
      case _ => None // 'O', 'V', 'M', f2, …: honest rejection
    }
  }

  /** Parse a structured `.npy`: the PACKED list form — including
    * SUB-ARRAY fields (`('a', '<f4', (3, 2))`, count C-ordered
    * elements inside the record) and NESTED records (flattened to
    * dot-joined field names, depth ≤ 4) — and the aligned
    * dict-with-offsets form (scalar fields). Fortran order,
    * object fields and sub-arrays OF records reject honestly. */
  def parseStructured(bytes: Array[Byte]): Option[Rec] = {
    val (header, hoff, hlen) = rawHeader(bytes).getOrElse(
      return None)
    val (descrSide, fortran, shape) = parseDictEither(header.trim)
      .getOrElse(return None)
    val sd = descrSide match {
      case Right(d) => d
      case Left(_) => return None // plain dtype: use parse()
    }
    if (fortran) return None
    if (sd.fields.isEmpty) return None
    val (fields, itemSize) = sd.layout match {
      case None => // packed (list form): offsets are implicit
        flattenFields(sd.fields, "", 0).getOrElse(return None)
      case Some((offs, isz)) => // aligned dict form: explicit
        // scalar leaves only (numpy renders sub-array formats in
        // the dict form as tuples, which the formats list parser
        // already rejects)
        val leaves = sd.fields.map {
          case RawLeaf(n, f, Seq()) => (n, f)
          case _ => return None
        }
        val fs = leaves.zip(offs).map {
          case ((name, fmt), o) =>
            val (kind, size, big) = fieldFormat(fmt).getOrElse(
              return None)
            if (o < 0 || o + size > isz) return None
            Field(name, kind, size, big, o)
        }
        // fields must not overlap (union dtypes reject)
        val sorted = fs.sortBy(_.offset)
        sorted.sliding(2).foreach {
          case Seq(a, b) =>
            if (a.offset + a.size > b.offset) return None
          case _ => ()
        }
        (fs, isz)
    }
    if (fields.map(_.name).distinct.length != fields.length)
      return None
    if (shape.exists(_ < 0)) return None
    var elems = 1L
    shape.foreach { d =>
      elems *= d
      if (elems > MaxElems) return None
    }
    if (bytes.length - hoff - hlen != elems * itemSize) return None
    Some(Rec(fields, itemSize, shape,
      java.util.Arrays.copyOfRange(bytes, hoff + hlen,
        bytes.length)))
  }

  /** Builder-side descr tree: a leaf format (optionally with a
    * sub-array shape) or a nested record group. */
  sealed trait FSpec { def name: String }
  final case class FLeaf(name: String, fmt: String,
      sub: Seq[Int] = Seq.empty) extends FSpec
  final case class FGroup(name: String, children: Seq[FSpec])
      extends FSpec

  /** Render + write a structured `.npy` (v1 header, packed
    * fields). `data` must already be packed in field order. */
  def buildStructured(fields: Seq[(String, String)],
      shape: Seq[Int], data: Array[Byte]): Array[Byte] =
    buildStructuredTree(
      fields.map { case (n, f) => FLeaf(n, f) }, shape, data)

  /** [[buildStructured]] over a full descr TREE: sub-array leaves
    * render as 3-tuples (`('a', '<f4', (3,))` — numpy's form) and
    * groups as nested lists. The rendered descr is re-parsed by
    * [[parseFieldList]] via the same flattening the reader uses,
    * which is both the itemsize computation and a self-check. */
  def buildStructuredTree(fields: Seq[FSpec], shape: Seq[Int],
      data: Array[Byte]): Array[Byte] = {
    def toRaw(f: FSpec): RawF = f match {
      case FLeaf(n, fmt, sub) => RawLeaf(n, fmt, sub)
      case FGroup(n, cs) => RawGroup(n, cs.map(toRaw))
    }
    val (_, itemSize) = flattenFields(fields.map(toRaw), "", 0)
      .getOrElse(sys.error("unsupported structured descr"))
    val elems = shape.foldLeft(1L)(_ * _.toLong)
    require(data.length.toLong == elems * itemSize,
      s"${data.length} bytes for $elems records of $itemSize")
    def render(f: FSpec): String = f match {
      case FLeaf(n, fmt, Seq()) => s"('$n', '$fmt')"
      case FLeaf(n, fmt, sub) =>
        val sh =
          if (sub.length == 1) s"(${sub.head},)"
          else sub.mkString("(", ", ", ")")
        s"('$n', '$fmt', $sh)"
      case FGroup(n, cs) =>
        s"('$n', ${cs.map(render).mkString("[", ", ", "]")})"
    }
    val descr = fields.map(render).mkString("[", ", ", "]")
    val shapeTxt = shape match {
      case Seq() => "()"
      case Seq(d) => s"($d,)"
      case ds => ds.mkString("(", ", ", ")")
    }
    val dict = s"{'descr': $descr, 'fortran_order': False, " +
      s"'shape': $shapeTxt, }"
    val d = dict.getBytes("ASCII")
    val raw = 10 + d.length + 1
    val pad = (64 - (raw % 64)) % 64
    val h = d ++ Array.fill(pad)(' '.toByte) :+ '\n'.toByte
    require(h.length <= 0xffff, "header too large")
    val out = new java.io.ByteArrayOutputStream(
      128 + h.length + data.length)
    out.write(Magic)
    out.write(1); out.write(0)
    out.write(h.length & 0xff); out.write((h.length >> 8) & 0xff)
    out.write(h)
    out.write(data)
    out.toByteArray
  }

  /** Shared magic/version/header-length walk → (headerText,
    * headerOffset, headerLen). */
  private def rawHeader(bytes: Array[Byte])
      : Option[(String, Int, Int)] = {
    if (bytes.length < 10) return None
    var i = 0
    while (i < 6) {
      if (bytes(i) != Magic(i)) return None
      i += 1
    }
    val major = bytes(6) & 0xff
    val minor = bytes(7) & 0xff
    if (major < 1 || major > 3 || minor != 0) return None
    val (hlen, hoff) =
      if (major == 1)
        (((bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)).toLong, 10)
      else {
        if (bytes.length < 12) return None
        var v = 0L
        var j = 0
        while (j < 4) { v |= (bytes(8 + j).toLong & 0xff) << (8 * j)
          j += 1 }
        (v, 12)
      }
    if (hlen <= 0 || hlen > MaxHeader ||
      hoff + hlen > bytes.length) return None
    if (bytes(hoff + hlen.toInt - 1) != '\n') return None
    Some((new String(bytes, hoff, hlen.toInt, "ASCII"), hoff,
      hlen.toInt))
  }

  /** A structured descr: fields in order, plus explicit offsets +
    * itemsize when the ALIGNED dict form was used (None = packed,
    * offsets implicit). */
  /** One node of a structured descr: a leaf format (optionally
    * with a sub-array shape) or a nested record. */
  private[operators] sealed trait RawF { def name: String }
  private[operators] final case class RawLeaf(name: String,
      fmt: String, sub: Seq[Int]) extends RawF
  private[operators] final case class RawGroup(name: String,
      children: Seq[RawF]) extends RawF

  private[operators] final case class StructDescr(
      fields: Seq[RawF],
      layout: Option[(Seq[Int], Int)])

  /** [[parseDict]] with the descr side split: Left(plain dtype
    * string) or Right(structured descr — the list form OR the
    * aligned dict-with-offsets form). */
  private def parseDictEither(s: String)
      : Option[(Either[String, StructDescr], Boolean,
        Seq[Int])] = {
    // the plain grammar first (fast path, unchanged semantics)
    parseDict(s) match {
      case Some((d, f, sh)) => return Some((Left(d), f, sh))
      case None => ()
    }
    // structured descr: tokenize [('name', 'fmt'), …] or the dict
    // {'names': …, 'formats': …, 'offsets': …, 'itemsize': …},
    // then reuse the plain parser with the literal spliced out
    val di = s.indexOf("'descr':")
    if (di < 0) return None
    var p = di + 8
    while (p < s.length && s(p) == ' ') p += 1
    if (p >= s.length) return None
    if (s(p) == '{') return parseDictDescr(s, p)
    if (s(p) != '[') return None
    val lStart = p
    var depth = 0
    var q = ' '
    var lEnd = -1
    while (p < s.length && lEnd < 0) {
      val c = s(p)
      if (q != ' ') { if (c == q) q = ' ' }
      else c match {
        case '\'' | '"' => q = c
        case '[' | '(' => depth += 1
        case ']' | ')' =>
          depth -= 1
          if (depth == 0 && c == ']') lEnd = p
        case _ => ()
      }
      p += 1
    }
    if (lEnd < 0) return None
    val listTxt = s.substring(lStart, lEnd + 1)
    val (fields, fEnd) = parseFieldList(listTxt, 0, 0)
      .getOrElse(return None)
    var t = fEnd
    while (t < listTxt.length && listTxt(t) == ' ') t += 1
    if (t != listTxt.length) return None
    // splice: replace the list with a placeholder the plain parser
    // accepts, then reuse it for fortran_order/shape
    val spliced = s.substring(0, lStart) + "'<i1'" +
      s.substring(lEnd + 1)
    parseDict(spliced).map { case (_, f, sh) =>
      (Right(StructDescr(fields, None)), f, sh)
    }
  }

  /** Recursive descent over a descr field list starting at
    * `txt(start) == '['` → (fields, index just past the `]`).
    * Tuples are `('name', 'fmt')`, `('name', 'fmt', (shape))` —
    * the sub-array form — or `('name', [nested...])`; a shape on a
    * NESTED record (legal in numpy, a sub-array of records) is
    * rejected honestly rather than flattened wrongly. Depth is
    * capped at 4 (numpy nests rarely; unbounded recursion on
    * untrusted headers is a bomb). */
  private def parseFieldList(txt: String, start: Int, depth: Int)
      : Option[(Seq[RawF], Int)] = {
    if (depth > 4) return None
    if (start >= txt.length || txt(start) != '[') return None
    var t = start + 1
    def ws(): Unit =
      while (t < txt.length && txt(t) == ' ') t += 1
    def sep(): Unit = { // between tuples: optional comma
      ws()
      if (t < txt.length && txt(t) == ',') { t += 1; ws() }
    }
    def quoted(): Option[String] = {
      ws()
      if (t >= txt.length || (txt(t) != '\'' && txt(t) != '"'))
        return None
      val qc = txt(t); t += 1
      val st = t
      while (t < txt.length && txt(t) != qc) t += 1
      if (t >= txt.length) return None
      val r = txt.substring(st, t); t += 1
      Some(r)
    }
    def int(): Option[Int] = {
      ws()
      val st = t
      while (t < txt.length && txt(t).isDigit) t += 1
      if (t == st) return None
      try Some(txt.substring(st, t).toInt) catch {
        case _: NumberFormatException => None }
    }
    /** `(3,)` / `(3, 2)` / bare `3` — the sub-array shape forms. */
    def shapeTuple(): Option[Seq[Int]] = {
      ws()
      if (t < txt.length && txt(t).isDigit)
        return int().map(Seq(_))
      if (t >= txt.length || txt(t) != '(') return None
      t += 1
      val out = Seq.newBuilder[Int]
      var more = true
      while (more) {
        ws()
        if (t < txt.length && txt(t) == ')') { t += 1; more = false }
        else {
          out += int().getOrElse(return None)
          ws()
          if (t < txt.length && txt(t) == ',') t += 1
          else if (t >= txt.length || txt(t) != ')') return None
        }
      }
      Some(out.result())
    }
    val fields = Seq.newBuilder[RawF]
    while ({ sep(); t < txt.length && txt(t) == '(' }) {
      t += 1
      val name = quoted().getOrElse(return None)
      ws()
      if (t >= txt.length || txt(t) != ',') return None
      t += 1
      ws()
      val field: RawF =
        if (t < txt.length && txt(t) == '[') {
          val (children, e) = parseFieldList(txt, t, depth + 1)
            .getOrElse(return None)
          t = e
          ws()
          // a shape here would make a sub-array OF RECORDS
          if (t < txt.length && txt(t) == ',') return None
          RawGroup(name, children)
        } else {
          val fmt = quoted().getOrElse(return None)
          ws()
          val sub =
            if (t < txt.length && txt(t) == ',') {
              t += 1
              shapeTuple().getOrElse(return None)
            } else Seq.empty
          ws()
          RawLeaf(name, fmt, sub)
        }
      if (t >= txt.length || txt(t) != ')') return None
      t += 1
      fields += field
    }
    sep()
    if (t >= txt.length || txt(t) != ']') return None
    Some((fields.result(), t + 1))
  }

  /** Flatten a descr tree into packed [[Field]]s: leaves take
    * `size · count` bytes (count = sub-shape product), groups
    * recurse with dot-joined names. → (fields, packed byte
    * width). */
  private def flattenFields(rs: Seq[RawF], prefix: String,
      off0: Int): Option[(Seq[Field], Int)] = {
    var off = off0
    val out = Seq.newBuilder[Field]
    rs.foreach {
      case RawLeaf(name, fmt, sub) =>
        val (kind, size, big) = fieldFormat(fmt).getOrElse(
          return None)
        if (sub.exists(_ <= 0)) return None
        var count = 1L
        sub.foreach { d =>
          count *= d
          if (count > 65536) return None // header-driven bomb cap
        }
        out += Field(prefix + name, kind, size, big, off,
          count.toInt, sub)
        off += size * count.toInt
      case RawGroup(name, children) =>
        if (children.isEmpty) return None
        val (fs, end) = flattenFields(children, s"$prefix$name.",
          off).getOrElse(return None)
        out ++= fs
        off = end
    }
    Some((out.result(), off))
  }

  /** The aligned dict-with-offsets descr form numpy emits for
    * align=True dtypes:
    * {'names': ['a','b'], 'formats': ['<i8','<f4'],
    *  'offsets': [0,8], 'itemsize': 16}. */
  private def parseDictDescr(s: String, dStart: Int)
      : Option[(Either[String, StructDescr], Boolean, Seq[Int])] = {
    // find the balanced end of the dict literal (quote-aware)
    var p = dStart
    var depth = 0
    var q = ' '
    var dEnd = -1
    while (p < s.length && dEnd < 0) {
      val c = s(p)
      if (q != ' ') { if (c == q) q = ' ' }
      else c match {
        case '\'' | '"' => q = c
        case '{' | '[' | '(' => depth += 1
        case '}' | ']' | ')' =>
          depth -= 1
          if (depth == 0 && c == '}') dEnd = p
        case _ => ()
      }
      p += 1
    }
    if (dEnd < 0) return None
    val body = s.substring(dStart + 1, dEnd)
    var t = 0
    def ws(): Unit =
      while (t < body.length && (body(t) == ' ' ||
        body(t) == ',')) t += 1
    def quoted(): Option[String] = {
      ws()
      if (t >= body.length || (body(t) != '\'' && body(t) != '"'))
        return None
      val qc = body(t); t += 1
      val st = t
      while (t < body.length && body(t) != qc) t += 1
      if (t >= body.length) return None
      val r = body.substring(st, t); t += 1
      Some(r)
    }
    def strList(): Option[Seq[String]] = {
      ws()
      if (t >= body.length || body(t) != '[') return None
      t += 1
      val out = Seq.newBuilder[String]
      var more = true
      while (more) {
        ws()
        if (t < body.length && body(t) == ']') { t += 1
          more = false }
        else out += quoted().getOrElse(return None)
      }
      Some(out.result())
    }
    def intList(): Option[Seq[Int]] = {
      ws()
      if (t >= body.length || body(t) != '[') return None
      t += 1
      val out = Seq.newBuilder[Int]
      var more = true
      while (more) {
        ws()
        if (t < body.length && body(t) == ']') { t += 1
          more = false }
        else {
          val st = t
          while (t < body.length && body(t).isDigit) t += 1
          if (t == st) return None
          out += (try body.substring(st, t).toInt catch {
            case _: NumberFormatException => return None })
        }
      }
      Some(out.result())
    }
    var names: Option[Seq[String]] = None
    var formats: Option[Seq[String]] = None
    var offsets: Option[Seq[Int]] = None
    var itemsize: Option[Int] = None
    while ({ ws(); t < body.length }) {
      val k = quoted().getOrElse(return None)
      ws()
      if (t >= body.length || body(t) != ':') return None
      t += 1
      k match {
        case "names" => names = Some(strList().getOrElse(
          return None))
        case "formats" => formats = Some(strList().getOrElse(
          return None))
        case "offsets" => offsets = Some(intList().getOrElse(
          return None))
        case "itemsize" =>
          ws()
          val st = t
          while (t < body.length && body(t).isDigit) t += 1
          if (t == st) return None
          itemsize = Some(try body.substring(st, t).toInt catch {
            case _: NumberFormatException => return None })
        case "aligned" => // informational boolean
          ws()
          if (s"True" == body.slice(t, t + 4)) t += 4
          else if ("False" == body.slice(t, t + 5)) t += 5
          else return None
        case _ => return None
      }
    }
    val nm = names.getOrElse(return None)
    val fm = formats.getOrElse(return None)
    val off = offsets.getOrElse(return None)
    val isz = itemsize.getOrElse(return None)
    if (nm.length != fm.length || nm.length != off.length ||
      nm.isEmpty) return None
    val spliced = s.substring(0, dStart) + "'<i1'" +
      s.substring(dEnd + 1)
    parseDict(spliced).map { case (_, f, sh) =>
      (Right(StructDescr(
        nm.zip(fm).map { case (n, fm2) => RawLeaf(n, fm2, Seq.empty) },
        Some((off, isz)))), f, sh)
    }
  }

  // ---------------------------------------------------------------
  // .npz — a ZIP of .npy members
  // ---------------------------------------------------------------

  /** Member name (``.npy`` suffix dropped, numpy's convention) →
    * parsed array. None if the ZIP walk fails, any member is not a
    * well-formed `.npy`, or names collide after suffix-stripping. */
  def parseNpz(bytes: Array[Byte]): Option[Seq[(String, Arr)]] = {
    val members =
      try Zip.parseWithData(bytes)
      catch { case _: Exception => return None }
    if (members.isEmpty) return None
    val out = members.map { case (e, data) =>
      val name =
        if (e.name.endsWith(".npy")) e.name.dropRight(4) else e.name
      (name, parse(data).getOrElse(return None))
    }
    if (out.map(_._1).distinct.length != out.length) return None
    Some(out)
  }

  /** Arrays → an `.npz`: STORED members (numpy's `np.savez`) or
    * DEFLATE members (`np.savez_compressed`). */
  def buildNpz(arrays: Seq[(String, Array[Byte])],
      deflate: Boolean = false): Array[Byte] =
    Zip.buildArchive(arrays.map { case (n, npy) =>
      (s"$n.npy", npy, deflate) })
}
