package graft.operators

/** ONNX model files (the public onnx.proto3 schema) — the
  * interchange format model weights and preprocessing graphs ship
  * in; a data engine meets it when a pipeline needs a model's
  * embedding matrix, vocabulary projection or graph structure
  * without an inference runtime. Built on the SAME wire-format
  * machinery as [[Protobuf]]'s tf.train family (varints, tags,
  * length-delimited sub-cursors — field numbers from the public
  * .proto), both directions:
  *
  *  - [[parseModel]]: ModelProto (ir_version 1, producer_name 2,
  *    graph 7, opset_import 8) → GraphProto (node 1, name 2,
  *    initializer 5, input 11, output 12) → NodeProto (input 1,
  *    output 2, name 3, op_type 4) and TensorProto (dims 1,
  *    data_type 2, float_data 4, int32_data 5, int64_data 7,
  *    name 8, raw_data 9, double_data 10). Typed repeated fields
  *    accept BOTH packed and per-element encodings (proto3 rule);
  *    tensor payloads normalize to little-endian raw bytes
  *    whichever way they were stored, and element counts must
  *    match `dims` exactly — a truncated weight blob rejects, it
  *    does not zero-fill. Unknown fields skip at every level
  *    (schema evolution); groups reject.
  *  - [[buildModel]] emits the same layout (raw_data or typed-data
  *    storage per tensor, so both read paths stay live in tests
  *    and the gate).
  *
  * Supported tensor element types: FLOAT(1), UINT8(2), INT8(3),
  * INT32(6), INT64(7), BOOL(9), FLOAT16(10), DOUBLE(11),
  * BFLOAT16(16), FLOAT8E4M3FN(17), FLOAT8E4M3FNUZ(18),
  * FLOAT8E5M2(19), FLOAT8E5M2FNUZ(20) — F16/BF16 through the
  * shared closed-form half-float arithmetic and all four F8 lanes
  * through the [[Safetensors]] closed forms (the FNUZ pair — the
  * AMD/ROCm convention, bias +1, NaN only at 0x80, no inf/−0 —
  * exhaustively pinned over all 256 patterns, both directions).
  * Anything else rejects honestly.
  * EXTERNAL-data tensors (data_location = 1, the layout every
  * model over 2 GiB uses) resolve through a caller-supplied
  * `location → bytes` function honouring the external_data
  * offset/length entries; with no resolver they reject honestly —
  * their bytes live outside the file. [[buildTensorExternal]]
  * writes the externalized form. Validation: OnnxSpec (hand-pinned
  * wire layouts, both storage paths, packed/per-element
  * acceptance, external round trip + offset/length rejections,
  * truncation/unknown-type rejections, fuzz) + the `onnx_parse`
  * gate query (external storage rotating in). */
object Onnx {

  import Protobuf.{Cursor, writeTag, writeLen}

  /** data_type → bytes per element (the supported set). */
  val ItemSize: Map[Int, Int] = Map(
    1 -> 4, 2 -> 1, 3 -> 1, 6 -> 4, 7 -> 8, 9 -> 1, 10 -> 2,
    11 -> 8, 16 -> 2, 17 -> 1, 18 -> 1, 19 -> 1, 20 -> 1)

  /** One initializer: dims, ONNX data_type id, and the payload
    * normalized to little-endian raw bytes. */
  final case class OTensor(name: String, dims: Seq[Long],
      dataType: Int, data: Array[Byte]) {
    def elems: Long = dims.foldLeft(1L)(_ * _)
  }

  final case class ONode(name: String, opType: String,
      inputs: Seq[String], outputs: Seq[String])

  final case class OModel(irVersion: Long, producer: String,
      opsets: Seq[(String, Long)], graphName: String,
      nodes: Seq[ONode], initializers: Seq[OTensor],
      inputs: Seq[String], outputs: Seq[String])

  private final val MaxElems = Int.MaxValue.toLong
  private final val MaxItems = 1 << 24

  // ---------------------------------------------------------------
  // Build
  // ---------------------------------------------------------------

  private def strField(out: java.io.ByteArrayOutputStream,
      field: Int, s: String): Unit =
    writeLen(out, field, s.getBytes("UTF-8"))

  /** `rawData = false` stores FLOAT/INT32/INT64/DOUBLE tensors in
    * their typed packed fields instead of raw_data (both are legal
    * on the wire; readers must take either). */
  def buildTensor(t: OTensor, rawData: Boolean = true)
      : Array[Byte] = {
    val isz = ItemSize.getOrElse(t.dataType,
      sys.error(s"tensor ${t.name}: data_type ${t.dataType}"))
    require(t.data.length.toLong == t.elems * isz,
      s"tensor ${t.name}: ${t.data.length} bytes for ${t.elems}")
    val out = new java.io.ByteArrayOutputStream(t.data.length + 64)
    t.dims.foreach { d => writeTag(out, 1, 0); Bytes.putVarint(out, d) }
    writeTag(out, 2, 0); Bytes.putVarint(out, t.dataType.toLong)
    strField(out, 8, t.name)
    val bb = java.nio.ByteBuffer.wrap(t.data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    if (rawData || !Set(1, 5, 6, 7, 11).contains(t.dataType)) {
      writeLen(out, 9, t.data)
    } else t.dataType match {
      case 1 => // float_data, packed fixed32
        val body = new java.io.ByteArrayOutputStream(t.data.length)
        (0 until t.elems.toInt).foreach { i =>
          Bytes.putLe32(body, bb.getInt(i * 4))
        }
        writeLen(out, 4, body.toByteArray)
      case 6 => // int32_data, packed varints
        val body = new java.io.ByteArrayOutputStream()
        (0 until t.elems.toInt).foreach(i =>
          Bytes.putVarint(body, bb.getInt(i * 4).toLong))
        writeLen(out, 5, body.toByteArray)
      case 7 => // int64_data, packed varints
        val body = new java.io.ByteArrayOutputStream()
        (0 until t.elems.toInt).foreach(i =>
          Bytes.putVarint(body, bb.getLong(i * 8)))
        writeLen(out, 7, body.toByteArray)
      case 11 => // double_data, packed fixed64
        val body = new java.io.ByteArrayOutputStream(t.data.length)
        (0 until t.elems.toInt).foreach { i =>
          val bits = bb.getLong(i * 8)
          var j = 0
          while (j < 8) {
            body.write(((bits >>> (8 * j)) & 0xff).toInt); j += 1 }
        }
        writeLen(out, 10, body.toByteArray)
      case _ => writeLen(out, 9, t.data)
    }
    out.toByteArray
  }

  private def buildNode(n: ONode): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(64)
    n.inputs.foreach(strField(out, 1, _))
    n.outputs.foreach(strField(out, 2, _))
    strField(out, 3, n.name)
    strField(out, 4, n.opType)
    out.toByteArray
  }

  /** ValueInfoProto carrying just a name (field 1). */
  private def buildValueInfo(name: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(32)
    strField(out, 1, name)
    out.toByteArray
  }

  /** `externalize`: tensor name → (location, offset) for
    * initializers stored OUTSIDE the model file (the caller writes
    * their `data` into the side file); everything else embeds. */
  def buildModel(m: OModel, rawData: Boolean = true,
      externalize: Map[String, (String, Long)] = Map.empty)
      : Array[Byte] = {
    val g = new java.io.ByteArrayOutputStream(1024)
    m.nodes.foreach(n => writeLen(g, 1, buildNode(n)))
    strField(g, 2, m.graphName)
    m.initializers.foreach(t => externalize.get(t.name) match {
      case Some((loc, off)) =>
        writeLen(g, 5, buildTensorExternal(t, loc, off))
      case None => writeLen(g, 5, buildTensor(t, rawData))
    })
    m.inputs.foreach(n => writeLen(g, 11, buildValueInfo(n)))
    m.outputs.foreach(n => writeLen(g, 12, buildValueInfo(n)))
    val out = new java.io.ByteArrayOutputStream(g.size() + 128)
    writeTag(out, 1, 0); Bytes.putVarint(out, m.irVersion)
    strField(out, 2, m.producer)
    writeLen(out, 7, g.toByteArray)
    m.opsets.foreach { case (domain, version) =>
      val op = new java.io.ByteArrayOutputStream(16)
      if (domain.nonEmpty) strField(op, 1, domain)
      writeTag(op, 2, 0); Bytes.putVarint(op, version)
      writeLen(out, 8, op.toByteArray)
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------

  private def str(c: Cursor): Option[String] = {
    val s = c.lenSlice()
    if (!c.ok) return None
    val b = java.util.Arrays.copyOfRange(s.b, s.p, s.end)
    val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
    try Some(dec.decode(java.nio.ByteBuffer.wrap(b)).toString)
    catch { case _: java.nio.charset.CharacterCodingException =>
      c.fail(); None }
  }

  /** Repeated numeric field: accept packed (wire 2) and
    * per-element; `read` consumes ONE element from the cursor. */
  private def repeated[T](c: Cursor, wire: Int,
      into: scala.collection.mutable.ArrayBuffer[T],
      read: Cursor => T): Unit = {
    if (wire == 2) {
      val s = c.lenSlice()
      while (s.hasMore && into.length <= MaxItems) into += read(s)
      if (!s.ok || into.length > MaxItems) c.fail()
    } else into += read(c)
  }

  private def parseTensor(c: Cursor,
      resolve: String => Option[Array[Byte]]): Option[OTensor] = {
    val dims = scala.collection.mutable.ArrayBuffer[Long]()
    var dataType = 0
    var name = ""
    var raw: Array[Byte] = null
    var external = false
    var extLocation: String = null
    var extOffset = 0L
    var extLength = -1L
    val floats = scala.collection.mutable.ArrayBuffer[Int]()
    val i32s = scala.collection.mutable.ArrayBuffer[Int]()
    val i64s = scala.collection.mutable.ArrayBuffer[Long]()
    val f64s = scala.collection.mutable.ArrayBuffer[Long]()
    while (c.hasMore) {
      val tag = c.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      field match {
        case 1 => repeated(c, wire, dims, (x: Cursor) => x.varint())
        case 2 => dataType = c.varint().toInt
        case 4 => repeated(c, wire, floats, (x: Cursor) => x.le32())
        case 5 => repeated(c, wire, i32s,
          (x: Cursor) => x.varint().toInt)
        case 7 => repeated(c, wire, i64s, (x: Cursor) => x.varint())
        case 8 => name = str(c).getOrElse(return None)
        case 9 =>
          val s = c.lenSlice()
          if (!c.ok) return None
          raw = java.util.Arrays.copyOfRange(s.b, s.p, s.end)
        case 10 => repeated(c, wire, f64s, (x: Cursor) => x.le64())
        case 13 => // external_data: StringStringEntryProto pairs
          val s = c.lenSlice()
          if (!c.ok) return None
          var k = ""; var v = ""
          while (s.hasMore) {
            val t2 = s.varint()
            (t2 >>> 3).toInt match {
              case 1 => k = str(s).getOrElse(return None)
              case 2 => v = str(s).getOrElse(return None)
              case _ => s.skip((t2 & 7).toInt)
            }
            if (!s.ok) return None
          }
          k match {
            case "location" => extLocation = v
            case "offset" =>
              extOffset = try v.toLong catch {
                case _: NumberFormatException => return None }
            case "length" =>
              extLength = try v.toLong catch {
                case _: NumberFormatException => return None }
            case _ => () // checksum etc: informational
          }
        case 14 => // data_location: 1 = EXTERNAL
          external = c.varint() == 1L
        case _ => c.skip(wire)
      }
      if (!c.ok) return None
    }
    val isz = ItemSize.getOrElse(dataType, return None)
    if (dims.exists(_ < 0)) return None
    var elems = 1L
    dims.foreach { d =>
      elems *= d
      if (elems > MaxElems) return None
    }
    if (external) {
      // bytes live in a side file next to the model: the caller's
      // resolver supplies them (no resolver → honest rejection)
      if (extLocation == null || raw != null) return None
      val file = resolve(extLocation).getOrElse(return None)
      val want = elems * isz
      val len = if (extLength >= 0) extLength
        else file.length - extOffset
      if (extOffset < 0 || len != want ||
        extOffset + len > file.length) return None
      raw = java.util.Arrays.copyOfRange(file, extOffset.toInt,
        (extOffset + len).toInt)
    }
    // normalize whichever storage was used to LE raw bytes
    val data: Array[Byte] =
      if (raw != null) {
        if (floats.nonEmpty || i32s.nonEmpty || i64s.nonEmpty ||
          f64s.nonEmpty) return None // double storage: malformed
        raw
      } else {
        val bb = java.nio.ByteBuffer.allocate((elems * isz).toInt)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        dataType match {
          case 1 =>
            if (floats.length.toLong != elems) return None
            floats.foreach(bb.putInt)
          case 6 =>
            if (i32s.length.toLong != elems) return None
            i32s.foreach(bb.putInt)
          case 7 =>
            if (i64s.length.toLong != elems) return None
            i64s.foreach(bb.putLong)
          case 11 =>
            if (f64s.length.toLong != elems) return None
            f64s.foreach(bb.putLong)
          case _ => return None // typed storage for other types
        }
        bb.array()
      }
    if (data.length.toLong != elems * isz) return None
    Some(OTensor(name, dims.toSeq, dataType, data))
  }

  /** Render `t` as an EXTERNALIZED TensorProto: dims/type/name +
    * external_data entries (location/offset/length) +
    * data_location = 1 — the payload itself is NOT embedded; the
    * caller writes `t.data` into the side file at `offset`. */
  def buildTensorExternal(t: OTensor, location: String,
      offset: Long): Array[Byte] = {
    require(ItemSize.contains(t.dataType),
      s"tensor ${t.name}: data_type ${t.dataType}")
    val out = new java.io.ByteArrayOutputStream(128)
    t.dims.foreach { d => writeTag(out, 1, 0); Bytes.putVarint(out, d) }
    writeTag(out, 2, 0); Bytes.putVarint(out, t.dataType.toLong)
    strField(out, 8, t.name)
    def entry(k: String, v: String): Unit = {
      val e = new java.io.ByteArrayOutputStream()
      writeLen(e, 1, k.getBytes("UTF-8"))
      writeLen(e, 2, v.getBytes("UTF-8"))
      writeLen(out, 13, e.toByteArray)
    }
    entry("location", location)
    entry("offset", offset.toString)
    entry("length", t.data.length.toString)
    writeTag(out, 14, 0); Bytes.putVarint(out, 1L) // EXTERNAL
    out.toByteArray
  }

  private def parseNode(c: Cursor): Option[ONode] = {
    val ins = Seq.newBuilder[String]
    val outs = Seq.newBuilder[String]
    var name = ""
    var op = ""
    while (c.hasMore) {
      val tag = c.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      field match {
        case 1 => ins += str(c).getOrElse(return None)
        case 2 => outs += str(c).getOrElse(return None)
        case 3 => name = str(c).getOrElse(return None)
        case 4 => op = str(c).getOrElse(return None)
        case _ => c.skip(wire)
      }
      if (!c.ok) return None
    }
    Some(ONode(name, op, ins.result(), outs.result()))
  }

  private def valueInfoName(c: Cursor): Option[String] = {
    var name = ""
    while (c.hasMore) {
      val tag = c.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      if (field == 1) name = str(c).getOrElse(return None)
      else c.skip(wire)
      if (!c.ok) return None
    }
    Some(name)
  }

  /** Parse a ModelProto. `resolve` supplies the bytes of EXTERNAL
    * data files by their `location` (relative path next to the
    * model, per the spec); the default refuses, so external
    * tensors reject honestly unless the caller opts in. */
  def parseModel(bytes: Array[Byte],
      resolve: String => Option[Array[Byte]] = _ => None)
      : Option[OModel] = {
    val c = new Cursor(bytes, 0, bytes.length)
    var ir = 0L
    var producer = ""
    val opsets = Seq.newBuilder[(String, Long)]
    var graphName = ""
    val nodes = Seq.newBuilder[ONode]
    val inits = Seq.newBuilder[OTensor]
    val ins = Seq.newBuilder[String]
    val outs = Seq.newBuilder[String]
    var sawGraph = false
    while (c.hasMore) {
      val tag = c.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      field match {
        case 1 => ir = c.varint()
        case 2 => producer = str(c).getOrElse(return None)
        case 7 =>
          sawGraph = true
          val g = c.lenSlice()
          if (!c.ok) return None
          while (g.hasMore) {
            val gt = g.varint()
            val gf = (gt >>> 3).toInt
            val gw = (gt & 7).toInt
            gf match {
              case 1 => nodes += parseNode(g.lenSlice())
                .getOrElse(return None)
              case 2 => graphName = str(g).getOrElse(return None)
              case 5 => inits += parseTensor(g.lenSlice(), resolve)
                .getOrElse(return None)
              case 11 => ins += valueInfoName(g.lenSlice())
                .getOrElse(return None)
              case 12 => outs += valueInfoName(g.lenSlice())
                .getOrElse(return None)
              case _ => g.skip(gw)
            }
            if (!g.ok) return None
          }
        case 8 =>
          val o = c.lenSlice()
          if (!c.ok) return None
          var domain = ""
          var version = 0L
          while (o.hasMore) {
            val ot = o.varint()
            (ot >>> 3).toInt match {
              case 1 => domain = str(o).getOrElse(return None)
              case 2 => version = o.varint()
              case _ => o.skip((ot & 7).toInt)
            }
            if (!o.ok) return None
          }
          opsets += ((domain, version))
        case _ => c.skip(wire)
      }
      if (!c.ok) return None
    }
    if (!c.ok || !sawGraph) return None
    Some(OModel(ir, producer, opsets.result(), graphName,
      nodes.result(), inits.result(), ins.result(), outs.result()))
  }

  // ---------------------------------------------------------------
  // Lane accessors
  // ---------------------------------------------------------------

  private def bb(t: OTensor) = java.nio.ByteBuffer.wrap(t.data)
    .order(java.nio.ByteOrder.LITTLE_ENDIAN)

  def f32At(t: OTensor, i: Int): Float = {
    require(t.dataType == 1); bb(t).getFloat(i * 4)
  }
  def i64At(t: OTensor, i: Int): Long = {
    require(t.dataType == 7); bb(t).getLong(i * 8)
  }
  def i32At(t: OTensor, i: Int): Int = {
    require(t.dataType == 6); bb(t).getInt(i * 4)
  }
  def f64At(t: OTensor, i: Int): Double = {
    require(t.dataType == 11); bb(t).getDouble(i * 8)
  }
  def f16At(t: OTensor, i: Int): Float = {
    require(t.dataType == 10)
    Safetensors.halfToFloat(bb(t).getShort(i * 2) & 0xffff)
  }
  def bf16At(t: OTensor, i: Int): Float = {
    require(t.dataType == 16)
    java.lang.Float.intBitsToFloat(
      (bb(t).getShort(i * 2) & 0xffff) << 16)
  }
  def f8e4m3At(t: OTensor, i: Int): Float = {
    require(t.dataType == 17)
    Safetensors.f8e4m3ToFloat(t.data(i) & 0xff)
  }
  def f8e5m2At(t: OTensor, i: Int): Float = {
    require(t.dataType == 19)
    Safetensors.f8e5m2ToFloat(t.data(i) & 0xff)
  }
  def f8e4m3fnuzAt(t: OTensor, i: Int): Float = {
    require(t.dataType == 18)
    Safetensors.f8e4m3fnuzToFloat(t.data(i) & 0xff)
  }
  def f8e5m2fnuzAt(t: OTensor, i: Int): Float = {
    require(t.dataType == 20)
    Safetensors.f8e5m2fnuzToFloat(t.data(i) & 0xff)
  }
}
