package graft.operators

/** Avro Object Container Files (the Apache Avro 1.x spec, "Object
  * Container Files" + "Binary Encoding" sections) — the row-major
  * shard format half the Hadoop-lineage training corpora ship in.
  * Pure-JVM build + parse, entirely closed-form: magic `Obj\x01`, a
  * metadata map carrying the JSON schema and codec, zigzag-varint
  * primitives, 16-byte sync markers between blocks, and ALL SIX
  * spec codecs (r12): `null`, `deflate` (raw nowrap), `bzip2`,
  * `snappy` (raw block + big-endian CRC32 of the uncompressed data,
  * verified), `xz` and `zstandard` — the compressed paths decode
  * through this repo's own pure-JVM codec stack.
  *
  * Schema subset: one top-level RECORD whose fields are primitives —
  * `boolean int long float double bytes string` — or the complex
  * types Hadoop-lineage corpora use freely: ARRAYS, MAPS, ENUMS and
  * NESTED RECORDS plus FIXED (exact-size raw bytes — UUID/hash
  * columns), recursive to depth 8, with the nullable union
  * `["null", X]` legal at every position (fields, array items, map
  * values), and (late r14) GENERAL unions — any branch count and
  * order, null anywhere, the wire index resolved against the
  * positional branch list (decode-only: the writer keeps to the
  * null-first form every reader accepts), and (late r14)
  * NAMED-TYPE references through a definition-order registry
  * (forward/self references reject — a name is visible only after
  * its definition completes). The embedded schema JSON is parsed by a minimal
  * recursive-descent walk (objects, arrays, strings with escapes,
  * numbers, literals) — enough for any legal schema document.
  *
  * Parse VERIFIES the magic, every block's trailing sync marker
  * against the header's, and bounds every count/size (2^28 bomb cap,
  * deflate included); any malformation stops the walk (drop, never
  * invent — the Warc rule). No reference analogue (north-star
  * ingestion surface); validated by differential tests against the
  * avro-1.12 implementation Spark bundles, both directions, both
  * codecs. */
object Avro {

  val Magic: Array[Byte] = Array[Byte]('O', 'b', 'j', 1)

  /** `.avro` sniff. */
  def isAvro(b: Array[Byte]): Boolean =
    b.length >= 4 && (0 until 4).forall(i => b(i) == Magic(i))

  /** One field of the flat tabular subset. `nullable` encodes the
    * `["null", t]` union (branch 0 = null, branch 1 = value). */
  final case class Field(name: String, tpe: String, nullable: Boolean)

  /** A decoded value row: None = the null union branch. */
  type Row = Seq[Option[Any]]

  // ---------------------------------------------------------------
  // Recursive type model (r12): the complex types Hadoop-lineage
  // corpora use freely — array, map, enum, fixed, nested records —
  // on top of the primitive set. Depth-capped at 8; non-null
  // unions, 3-branch unions and named-type references still reject.
  // ---------------------------------------------------------------

  sealed trait NType
  /** boolean int long float double bytes string */
  final case class NPrim(p: String) extends NType
  /** Avro array; `itemsNullable` = items schema is ["null", X]. A
    * decoded array value is Seq[Option[Any]]. */
  final case class NArr(items: NType, itemsNullable: Boolean)
      extends NType
  /** Avro map (string keys per spec); decoded as Seq[(String,
    * Option[Any])] in FILE ORDER (builds sort keys for determinism). */
  final case class NMap(values: NType, valuesNullable: Boolean)
      extends NType
  /** Avro enum: value decodes to the symbol string. */
  final case class NEnum(name: String, symbols: Seq[String])
      extends NType
  /** Nested record: value decodes to a Row in field order. */
  final case class NRec(name: String, fields: Seq[NField]) extends NType

  /** Avro fixed: exactly `size` raw bytes (UUIDs, hashes); value
    * decodes to Array[Byte]. */
  final case class NFixed(name: String, size: Int) extends NType
  /** A logical-type-annotated primitive (Avro 1.x "Logical
    * Types"): the BINARY encoding is exactly `prim`'s — the
    * annotation rides along so sources can surface typed columns
    * (date/timestamps/decimal/uuid). Unknown annotations drop to
    * the bare primitive at parse, the spec's reader rule.
    * `precision`/`scale` only for decimal (over bytes). */
  final case class NLogical(prim: String, logical: String,
      precision: Int = 0, scale: Int = 0,
      /** fixed size when `prim` == "fixed" (decimal-over-fixed,
        * the spark-avro layout); 0 otherwise. */
      fixedSize: Int = 0) extends NType

  /** GENERAL union (late r14 — beyond the ["null", X] fast path):
    * branches kept in POSITION order (the wire index indexes this
    * list); None = a "null" branch at that position. Decode-only:
    * [[buildNested]] keeps to null-first unions. */
  final case class NUnion(branches: Seq[Option[NType]]) extends NType

  final case class NField(name: String, tpe: NType, nullable: Boolean)

  /** True when `t` contains a general union anywhere — call sites
    * that surface rows into TYPED engines (Spark Rows) use this to
    * reject loudly, since a multi-typed column has no Row type. */
  def hasUnion(t: NType): Boolean = t match {
    case _: NUnion => true
    case NArr(items, _) => hasUnion(items)
    case NMap(values, _) => hasUnion(values)
    case NRec(_, fs) => fs.exists(f => hasUnion(f.tpe))
    case _ => false
  }

  private def toFlat(f: NField): Field = Field(f.name, f.tpe match {
    case NPrim(p)      => p
    case NLogical(p, _, _, _, _) => p
    case _: NArr       => "array"
    case _: NMap       => "map"
    case _: NEnum      => "enum"
    case _: NRec       => "record"
    case _: NFixed     => "fixed"
    case _: NUnion     => "union"
  }, f.nullable)

  private def toNested(f: Field): NField =
    NField(f.name, NPrim(f.tpe), f.nullable)

  // ---------------------------------------------------------------
  // Binary primitives (Avro "Binary Encoding")
  // ---------------------------------------------------------------

  private def writeVarLong(out: java.io.ByteArrayOutputStream,
      value: Long): Unit = Bytes.putVarint(out, Bytes.zigzag(value))

  /** [[Bytes.Cursor]] with Avro's zigzag longs, byte strings and fixed
    * runs; `ok` latches false on any malformation. */
  private final class Cursor(bytes: Array[Byte]) extends Bytes.Cursor(bytes) {
    def readLong(): Long = Bytes.unzigzag(varint())
    def readBytes(max: Int): Array[Byte] = {
      val n = readLong()
      if (!ok || n < 0 || n > max || p + n > b.length) { fail()
        Array.emptyByteArray }
      else { val r = java.util.Arrays.copyOfRange(b, p, p + n.toInt)
        p += n.toInt; r }
    }
    def readFixed(n: Int): Array[Byte] =
      if (!ok || p + n > b.length) { fail(); Array.emptyByteArray }
      else { val r = java.util.Arrays.copyOfRange(b, p, p + n); p += n; r }
  }

  /** Write one value of a (possibly complex) type. Collection values
    * are written as a single count-prefixed block + 0 terminator (the
    * canonical writer shape); nullable items/values take the union
    * branch prefix. */
  private def writeNValue(out: java.io.ByteArrayOutputStream, tpe: NType,
      v: Any): Unit = tpe match {
    case _: NUnion => sys.error(
      "general unions are decode-only; buildNested keeps to the " +
        "null-first form")
    case NPrim(p) => writeValue(out, p, v)
    case NLogical("fixed", _, _, _, size) =>
      val b = v.asInstanceOf[Array[Byte]]
      require(b.length == size, s"fixed size ${b.length} != $size")
      out.write(b, 0, size)
    case NLogical(p, _, _, _, _) => writeValue(out, p, v)
    case NArr(items, itemsNullable) =>
      val xs = v.asInstanceOf[Seq[Option[Any]]]
      if (xs.nonEmpty) {
        writeVarLong(out, xs.length.toLong)
        xs.foreach { x =>
          if (itemsNullable) x match {
            case None => writeVarLong(out, 0)
            case Some(e) => writeVarLong(out, 1); writeNValue(out, items, e)
          } else writeNValue(out, items, x.getOrElse(
            throw new IllegalArgumentException("null in non-null array")))
        }
      }
      writeVarLong(out, 0)
    case NMap(values, valuesNullable) =>
      val kv = v.asInstanceOf[Seq[(String, Option[Any])]]
        .sortBy(_._1) // deterministic build order
      if (kv.nonEmpty) {
        writeVarLong(out, kv.length.toLong)
        kv.foreach { case (k, x) =>
          val kb = k.getBytes("UTF-8")
          writeVarLong(out, kb.length.toLong); out.write(kb, 0, kb.length)
          if (valuesNullable) x match {
            case None => writeVarLong(out, 0)
            case Some(e) => writeVarLong(out, 1); writeNValue(out, values, e)
          } else writeNValue(out, values, x.getOrElse(
            throw new IllegalArgumentException("null in non-null map")))
        }
      }
      writeVarLong(out, 0)
    case NEnum(_, symbols) =>
      val idx = symbols.indexOf(v.asInstanceOf[String])
      require(idx >= 0, s"enum symbol $v not in $symbols")
      writeVarLong(out, idx.toLong)
    case NFixed(_, size) =>
      val b = v.asInstanceOf[Array[Byte]]
      require(b.length == size, s"fixed size ${b.length} != $size")
      out.write(b, 0, size)
    case NRec(_, fields) =>
      val row = v.asInstanceOf[Row]
      require(row.length == fields.length, "nested row arity != schema")
      fields.zip(row).foreach { case (f, x) =>
        if (f.nullable) x match {
          case None => writeVarLong(out, 0)
          case Some(e) => writeVarLong(out, 1); writeNValue(out, f.tpe, e)
        } else writeNValue(out, f.tpe, x.getOrElse(
          throw new IllegalArgumentException(
            s"null in non-nullable ${f.name}")))
      }
  }

  private def writeValue(out: java.io.ByteArrayOutputStream, tpe: String,
      v: Any): Unit = tpe match {
    case "boolean" => out.write(if (v.asInstanceOf[Boolean]) 1 else 0)
    case "int" => writeVarLong(out, v.asInstanceOf[Int].toLong)
    case "long" => writeVarLong(out, v.asInstanceOf[Long])
    case "float" =>
      val bits = java.lang.Float.floatToIntBits(v.asInstanceOf[Float])
      Bytes.putLe32(out, bits)
    case "double" =>
      val bits = java.lang.Double.doubleToLongBits(v.asInstanceOf[Double])
      Bytes.putLe64(out, bits)
    case "bytes" =>
      val b = v.asInstanceOf[Array[Byte]]
      writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
    case "string" =>
      val b = v.asInstanceOf[String].getBytes("UTF-8")
      writeVarLong(out, b.length.toLong); out.write(b, 0, b.length)
    case t => throw new IllegalArgumentException(s"unsupported type $t")
  }

  /** Read one value of a (possibly complex) type. Collection blocks
    * follow the spec: count-prefixed runs, 0-terminated; a NEGATIVE
    * count means |count| items preceded by the block's byte size
    * (readers must handle it). Counts are bomb-capped; every loop
    * also terminates on cursor failure, so runaway counts cannot
    * spin past the input. */
  private def readNValue(c: Cursor, tpe: NType): Any = tpe match {
    case _: NUnion => c.fail() // only legal via readPos
    case NPrim(p) => readValue(c, p)
    case NLogical("fixed", _, _, _, size) => c.readFixed(size)
    case NLogical(p, _, _, _, _) => readValue(c, p)
    case NArr(items, itemsNullable) =>
      val out = Seq.newBuilder[Option[Any]]
      var total = 0L
      var n = c.readLong()
      while (c.ok && n != 0) {
        val cnt = if (n < 0) { c.readLong(); -n } else n
        total += cnt
        if (cnt < 0 || total > (1 << 24)) { c.fail(); n = 0 }
        else {
          var i = 0L
          while (c.ok && i < cnt) {
            out += readPos(c, items, itemsNullable)
            i += 1
          }
          n = c.readLong()
        }
      }
      out.result()
    case NMap(values, valuesNullable) =>
      val out = Seq.newBuilder[(String, Option[Any])]
      var total = 0L
      var n = c.readLong()
      while (c.ok && n != 0) {
        val cnt = if (n < 0) { c.readLong(); -n } else n
        total += cnt
        if (cnt < 0 || total > (1 << 24)) { c.fail(); n = 0 }
        else {
          var i = 0L
          while (c.ok && i < cnt) {
            val k = new String(c.readBytes(1 << 24), "UTF-8")
            out += (k -> readPos(c, values, valuesNullable))
            i += 1
          }
          n = c.readLong()
        }
      }
      out.result()
    case NEnum(_, symbols) =>
      val idx = c.readLong()
      if (idx < 0 || idx >= symbols.length) { c.fail(); "" }
      else symbols(idx.toInt)
    case NFixed(_, size) => c.readFixed(size)
    case NRec(_, fields) =>
      fields.map { f =>
        if (f.nullable) c.readLong() match {
          case 0 => None
          case 1 => Some(readNValue(c, f.tpe))
          case _ => c.fail(); None
        } else Some(readNValue(c, f.tpe))
      }: Row
  }

  private def readValue(c: Cursor, tpe: String): Any = tpe match {
    case "boolean" =>
      val b = c.readFixed(1); c.ok && b.nonEmpty && b(0) == 1
    case "int" =>
      val v = c.readLong()
      if (v < Int.MinValue || v > Int.MaxValue) { c.fail(); 0 }
      else v.toInt
    case "long" => c.readLong()
    case "float" =>
      val b = c.readFixed(4)
      if (!c.ok) 0f
      else java.lang.Float.intBitsToFloat(Bytes.le32(b, 0))
    case "double" =>
      val b = c.readFixed(8)
      if (!c.ok) 0d
      else java.lang.Double.longBitsToDouble(Bytes.le64(b, 0))
    case "bytes" => c.readBytes(1 << 28)
    case "string" => new String(c.readBytes(1 << 28), "UTF-8")
    case _ => c.fail()
  }

  // ---------------------------------------------------------------
  // Writer
  // ---------------------------------------------------------------

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** Avro named types (fixed/enum/record) are GLOBAL to a schema —
    * two fixed-decimal fields of the same byte size must not both
    * define `dec_fixed_<size>` or conforming parsers reject the
    * header with "Can't redefine". `ctr` is one counter per
    * schemaJson call, making every generated fixed name unique. */
  private def typeJson(t: NType,
      ctr: java.util.concurrent.atomic.AtomicInteger): String =
    t match {
    case _: NUnion => sys.error(
      "general unions are decode-only; schemaJson never emits them")
    case NPrim(p) => jsonStr(p)
    case NLogical("fixed", l, prec, sc, size) =>
      val n = ctr.getAndIncrement()
      s"""{"type":"fixed","name":"dec_fixed_${n}_$size",""" +
        s""""size":$size,""" +
        s""""logicalType":${jsonStr(l)},"precision":$prec,""" +
        s""""scale":$sc}"""
    case NLogical(p, l, prec, sc, _) =>
      val ext = if (l == "decimal")
        s""","precision":$prec,"scale":$sc""" else ""
      s"""{"type":${jsonStr(p)},"logicalType":${jsonStr(l)}$ext}"""
    case NArr(items, nullable) =>
      val it = if (nullable) s"""["null",${typeJson(items, ctr)}]"""
        else typeJson(items, ctr)
      s"""{"type":"array","items":$it}"""
    case NMap(values, nullable) =>
      val vt = if (nullable) s"""["null",${typeJson(values, ctr)}]"""
        else typeJson(values, ctr)
      s"""{"type":"map","values":$vt}"""
    case NEnum(name, symbols) =>
      s"""{"type":"enum","name":${jsonStr(name)},"symbols":[""" +
        symbols.map(jsonStr).mkString(",") + "]}"
    case NRec(name, fields) => recordJson(name, fields, ctr)
    case NFixed(name, size) =>
      s"""{"type":"fixed","name":${jsonStr(name)},"size":$size}"""
  }

  private def recordJson(name: String, fields: Seq[NField],
      ctr: java.util.concurrent.atomic.AtomicInteger): String =
    s"""{"type":"record","name":${jsonStr(name)},"fields":[""" +
      fields.map { f =>
        val t = if (f.nullable)
            s"""["null",${typeJson(f.tpe, ctr)}]"""
          else typeJson(f.tpe, ctr)
        s"""{"name":${jsonStr(f.name)},"type":$t}"""
      }.mkString(",") + "]}"

  /** The schema JSON a [[build]] call embeds. */
  def schemaJson(recordName: String, fields: Seq[Field]): String =
    recordJson(recordName, fields.map(toNested),
      new java.util.concurrent.atomic.AtomicInteger(0))

  /** [[schemaJson]] for the full recursive type model. */
  def schemaJsonNested(recordName: String, fields: Seq[NField]): String =
    recordJson(recordName, fields,
      new java.util.concurrent.atomic.AtomicInteger(0))

  /** One container file: header (magic, metadata map with schema +
    * codec, sync marker), then blocks of `blockRows` rows each. The
    * sync marker must only be consistent within the file; it is
    * derived deterministically from the schema and row count (MD5) —
    * no randomness, so builds are reproducible bit-for-bit. */
  def build(recordName: String, fields: Seq[Field], rows: Seq[Row],
      codec: String = "null", blockRows: Int = 1000): Array[Byte] =
    buildNested(recordName, fields.map(toNested), rows, codec, blockRows)

  // ---------------------------------------------------------------
  // Datum-level encoding (round 12): single records with NO
  // container framing — the shape log-embedded records use (Hudi
  // log blocks carry length-prefixed binary datums with the writer
  // schema in a block header). Same encode/decode core as the OCF
  // paths above, so every type the container accepts works here.
  // ---------------------------------------------------------------

  /** Binary-encode one record against `fields` (datum only, no
    * container framing, no schema). */
  def encodeDatum(fields: Seq[NField], row: Row): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    writeDatum(out, fields, row)
    out.toByteArray
  }

  private def writeDatum(out: java.io.ByteArrayOutputStream,
      fields: Seq[NField], row: Row): Unit = {
    require(row.length == fields.length, "row arity != schema")
    for ((f, v) <- fields.zip(row)) {
      if (f.nullable) v match {
        case None => writeVarLong(out, 0) // union branch: null
        case Some(x) => writeVarLong(out, 1); writeNValue(out, f.tpe, x)
      } else writeNValue(out, f.tpe,
        v.getOrElse(throw new IllegalArgumentException(
          s"null in non-nullable ${f.name}")))
    }
  }

  /** Decode one record datum; None unless the bytes decode cleanly
    * and are consumed EXACTLY (a partial consume means the schema
    * disagrees with the writer — drop, never invent). */
  def decodeDatum(fields: Seq[NField], bytes: Array[Byte]): Option[Row] = {
    val c = new Cursor(bytes)
    val row = readDatum(c, fields)
    if (c.ok && c.p == bytes.length) Some(row) else None
  }

  private def readDatum(c: Cursor, fields: Seq[NField]): Row =
    fields.map(f => readPos(c, f.tpe, f.nullable))

  /** One schema POSITION (field / array item / map value): the
    * ["null", X] fast path reads its 0/1 branch; a general
    * [[NUnion]] reads the wire branch index against its positional
    * branch list (a "null" branch decodes to None). */
  private def readPos(c: Cursor, tpe: NType, nullable: Boolean)
      : Option[Any] =
    if (nullable) c.readLong() match {
      case 0 => None
      case 1 => Some(readNValue(c, tpe))
      case _ => c.fail(); None
    } else tpe match {
      case u: NUnion =>
        val idx = c.readLong()
        if (!c.ok || idx < 0 || idx >= u.branches.length) {
          c.fail(); None
        } else u.branches(idx.toInt) match {
          case None => None
          case Some(t) => Some(readNValue(c, t))
        }
      case t => Some(readNValue(c, t))
    }

  /** [[build]] for the full recursive type model (arrays, maps,
    * enums, nested records). */
  /** The spec's full optional-codec set (Avro 1.x "Required/Optional
    * Codecs"): deflate is raw-nowrap JDK; bzip2/xz/zstandard are one
    * standard stream per block (OUR encoders write — bzip2, xz and
    * zstd all FULL entropy coding as of late r14 — and OUR decoders
    * read); snappy is one raw
    * snappy block followed by the 4-byte big-endian CRC32 of the
    * UNCOMPRESSED data, verified on read. */
  final val Codecs: Set[String] =
    Set("null", "deflate", "bzip2", "snappy", "xz", "zstandard")

  def buildNested(recordName: String, fields: Seq[NField], rows: Seq[Row],
      codec: String = "null", blockRows: Int = 1000): Array[Byte] = {
    require(Codecs(codec), s"codec $codec")
    val schema = recordJson(recordName, fields,
      new java.util.concurrent.atomic.AtomicInteger(0))
    val sync = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$schema#${rows.length}".getBytes("UTF-8"))
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    writeVarLong(out, 2) // metadata map: one block of 2 entries
    for ((k, v) <- Seq("avro.schema" -> schema, "avro.codec" -> codec)) {
      val kb = k.getBytes("UTF-8"); val vb = v.getBytes("UTF-8")
      writeVarLong(out, kb.length.toLong); out.write(kb, 0, kb.length)
      writeVarLong(out, vb.length.toLong); out.write(vb, 0, vb.length)
    }
    writeVarLong(out, 0) // map terminator
    out.write(sync, 0, 16)
    for (block <- rows.grouped(blockRows)) {
      val body = new java.io.ByteArrayOutputStream()
      for (row <- block) writeDatum(body, fields, row)
      val raw = body.toByteArray
      val enc = codec match {
        case "null" => raw
        case "deflate" =>
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true) // nowrap
          try {
            d.setInput(raw); d.finish()
            val bos = new java.io.ByteArrayOutputStream(raw.length / 2 + 32)
            val buf = new Array[Byte](8192)
            while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
            bos.toByteArray
          } finally d.end()
        case "bzip2" => Bzip2.encode(raw)
        // real entropy-coded xz/zstd as of the second late-r14 wave
        // (store-shape fallback only past the encoders' bomb guard)
        case "xz" =>
          if (raw.length <= (1 << 26)) XzEncode.encode(raw)
          else Xz.encodeStore(raw)
        case "zstandard" =>
          if (raw.length <= (1 << 26)) ZstdEncode.encode(raw)
          else Zstd.encodeStore(raw)
        case "snappy" => // raw block + BE CRC32 of the UNCOMPRESSED data
          val c = new java.util.zip.CRC32
          c.update(raw, 0, raw.length)
          val crc = c.getValue
          val blockBytes = SnappyCodec.compress(raw)
          blockBytes ++ Array[Byte](
            (crc >>> 24).toByte, (crc >>> 16).toByte,
            (crc >>> 8).toByte, crc.toByte)
      }
      writeVarLong(out, block.length.toLong)
      writeVarLong(out, enc.length.toLong)
      out.write(enc, 0, enc.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------
  // Schema JSON parse — delegated to the shared JsonMini reader
  // ---------------------------------------------------------------


  private final val Prims =
    Set("boolean", "int", "long", "float", "double", "bytes", "string")

  private final val MaxDepth = 8

  /** Named types (record/enum/fixed) register here in DEFINITION
    * order (late r14) so later positions may REFERENCE them by name
    * — the spec's named-type reuse. A type is registered only after
    * it parses completely, so self-recursive schemas reject
    * naturally (the name is not yet visible inside its own body). */
  private type TypeReg =
    scala.collection.mutable.HashMap[String, Option[NType]]

  /** None = POISONED: the same key was bound to two different
    * shapes (legal across namespaces — "h" and "a.h" may both
    * exist), so a bare reference to it is ambiguous here and must
    * reject rather than risk decoding through the wrong one. */
  private def register(reg: TypeReg, m: Map[String, Any],
      name: String, t: NType): Unit = {
    def bind(k: String): Unit = reg.get(k) match {
      case Some(Some(prev)) if prev != t => reg(k) = None
      case Some(None) => ()
      case _ => reg(k) = Some(t)
    }
    bind(name)
    m.get("namespace") match {
      case Some(ns: String) if ns.nonEmpty => bind(s"$ns.$name")
      case _ => ()
    }
  }

  private def posType(v: Any, depth: Int, reg: TypeReg)
      : Option[(NType, Boolean)] =
    v match {
      case s: Seq[_] =>
        if (s.length == 2 && s.head == "null")
          bareType(s(1), depth, reg).map(t => (t, true))
        else if (s.length >= 2 && s.length <= 64) {
          // GENERAL union (late r14): any branch count/order, null
          // anywhere; kept positionally so the wire index resolves
          val branches = s.map {
            case "null" => None
            case other =>
              Some(bareType(other, depth + 1, reg)
                .getOrElse(return None))
          }
          Some((NUnion(branches), false))
        } else None
      case other => bareType(other, depth, reg).map(t => (t, false))
    }

  /** A non-union type: a primitive name, a NAMED-TYPE reference (a
    * bare non-primitive string, resolved through the definition-
    * order registry — late r14), or a complex type object (which
    * registers its name for later reuse). */
  private def bareType(v: Any, depth: Int, reg: TypeReg)
      : Option[NType] = {
    if (depth > MaxDepth) return None
    v match {
      case s: String if Prims(s) => Some(NPrim(s))
      case s: String =>
        // a NAMED-TYPE reference (late r14): resolvable only after
        // its definition — forward/self references and AMBIGUOUS
        // names (same simple name in two namespaces) reject
        reg.get(s).flatten
      case m0: Map[_, _] =>
        val m = m0.asInstanceOf[Map[String, Any]]
        m.get("type") match {
          case Some("array") =>
            posType(m.getOrElse("items", return None), depth + 1, reg)
              .map { case (t, n) => NArr(t, n) }
          case Some("map") =>
            posType(m.getOrElse("values", return None), depth + 1, reg)
              .map { case (t, n) => NMap(t, n) }
          case Some("enum") =>
            val name = m.get("name") match {
              case Some(s: String) => s
              case _ => return None
            }
            m.get("symbols") match {
              case Some(ss: Seq[_])
                  if ss.nonEmpty && ss.size <= 1024 &&
                    ss.forall(_.isInstanceOf[String]) &&
                    ss.distinct.size == ss.size =>
                val e = NEnum(name, ss.asInstanceOf[Seq[String]])
                register(reg, m, name, e)
                Some(e)
              case _ => None
            }
          case Some("record") =>
            recordType(m, depth + 1, reg).map { r =>
              register(reg, m, r.name, r); r
            }
          case Some("fixed") =>
            val name = m.get("name") match {
              case Some(x: String) => x
              case _ => return None
            }
            m.get("size").flatMap(JsonMini.long) match {
              case Some(sz) if sz >= 1 && sz <= (1 << 20) =>
                // decimal-over-fixed (the spark-avro layout):
                // fixed-size BE two's complement at the annotation's
                // scale; malformed annotations fall back to raw
                m.get("logicalType") match {
                  case Some("decimal") =>
                    val prec = m.get("precision")
                      .flatMap(JsonMini.long).getOrElse(-1L)
                    val scale = m.get("scale")
                      .flatMap(JsonMini.long).getOrElse(0L)
                    val t: NType =
                      if (prec < 1 || prec > 38 || scale < 0 ||
                        scale > prec) NFixed(name, sz.toInt)
                      else NLogical("fixed", "decimal",
                        prec.toInt, scale.toInt, sz.toInt)
                    register(reg, m, name, t)
                    Some(t)
                  case _ =>
                    val t = NFixed(name, sz.toInt)
                    register(reg, m, name, t)
                    Some(t)
                }
              case _ => None
            }
          case Some(s: String) if Prims(s) =>
            // the {"type":"string"} spelled-out form — possibly
            // carrying a logicalType annotation
            m.get("logicalType") match {
              case Some(lt: String) => Some(logicalOf(s, lt, m))
              case _ => Some(NPrim(s))
            }
          case _ => None // fixed/union-in-type/unknown
        }
      case _ => None
    }
  }

  /** The spec's logical-type table over the prim set; unknown or
    * mis-based annotations drop to the bare primitive (the reader
    * rule: "ignore and use the underlying type"). */
  private def logicalOf(prim: String, lt: String,
      m: Map[String, Any]): NType = (prim, lt) match {
    case ("int", "date") | ("int", "time-millis") |
         ("long", "time-micros") |
         ("long", "timestamp-millis") | ("long", "timestamp-micros") |
         ("long", "local-timestamp-millis") |
         ("long", "local-timestamp-micros") |
         ("string", "uuid") =>
      NLogical(prim, lt)
    case ("bytes", "decimal") =>
      val prec = m.get("precision").flatMap(JsonMini.long)
        .getOrElse(-1L)
      val scale = m.get("scale").flatMap(JsonMini.long)
        .getOrElse(0L)
      if (prec < 1 || prec > 38 || scale < 0 || scale > prec)
        NPrim(prim) // out-of-range annotation: bare bytes
      else NLogical(prim, lt, prec.toInt, scale.toInt)
    case _ => NPrim(prim)
  }

  private def recordType(m: Map[String, Any], depth: Int,
      reg: TypeReg): Option[NRec] = {
    if (depth > MaxDepth) return None
    val name = m.get("name") match {
      case Some(s: String) => s
      case _ => return None
    }
    m.get("fields") match {
      case Some(fs: Seq[_]) if fs.size <= 4096 =>
        val fields = fs.map {
          case fm: Map[_, _] =>
            val f = fm.asInstanceOf[Map[String, Any]]
            val fname = f.get("name") match {
              case Some(s: String) => s
              case _ => return None
            }
            val (t, nullable) = posType(
              f.getOrElse("type", return None), depth + 1, reg)
              .getOrElse(return None)
            NField(fname, t, nullable)
          case _ => return None
        }
        Some(NRec(name, fields))
      case _ => None
    }
  }

  /** Interpret a parsed schema document: one top-level record whose
    * fields are primitives, fixed, arrays, maps, enums, nested
    * records (depth ≤ 8), named-type references (definition order)
    * or unions — the ["null", X] form folds to a nullable flag,
    * anything else becomes a positional [[NUnion]]. None for
    * top-level non-records, forward/self references and oversized
    * structures. */
  def interpretSchema(json: String): Option[(String, Seq[NField])] = {
    val j = new JsonMini.Parser(json)
    val v = j.value()
    if (!j.ok) return None
    v match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[String, Any]]
        if (!mm.get("type").contains("record")) return None
        recordType(mm, 0,
          new scala.collection.mutable.HashMap[String,
            Option[NType]]())
          .map(r => (r.name, r.fields))
      case _ => None
    }
  }

  // ---------------------------------------------------------------
  // Reader
  // ---------------------------------------------------------------

  /** A parsed container: record name, typed fields, codec, and the
    * rows of every sync-verified block. `fields` is the flat view
    * (complex types fold to their category name). */
  final case class AvroFile(recordName: String, nfields: Seq[NField],
      codec: String, rows: Seq[Row], blocks: Int) {
    def fields: Seq[Field] = nfields.map(toFlat)
  }

  private def inflateRaw(data: Array[Byte]): Option[Array[Byte]] = {
    val inf = new java.util.zip.Inflater(true) // nowrap, per spec
    try {
      inf.setInput(data)
      val out = new java.io.ByteArrayOutputStream(data.length * 2 + 32)
      val buf = new Array[Byte](8192)
      while (!inf.finished() && out.size() <= (1 << 28)) {
        val n = inf.inflate(buf)
        if (n == 0 && !inf.finished()) return None // stuck: truncated
        out.write(buf, 0, n)
      }
      if (out.size() > (1 << 28)) None else Some(out.toByteArray)
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** Parse a container file; None on malformation — bad magic, an
    * unsupported schema or codec, a block whose trailing sync marker
    * disagrees with the header's, counts/sizes out of bounds, or a
    * body that does not decode to exactly the declared row count. */
  /** HEADER-ONLY parse: the schema's record name + fields, without
    * decoding a single datum — the cheap driver-side schema probe
    * ([[parse]] materializes every row; a multi-GB container would
    * otherwise be decoded twice just to learn its shape). */
  def parseHeader(data: Array[Byte]): Option[(String, Seq[NField])] = {
    if (!isAvro(data)) return None
    val c = new Cursor(data)
    c.p = 4
    val meta = Map.newBuilder[String, Array[Byte]]
    var n = c.readLong()
    var guard = 0
    while (c.ok && n != 0 && guard < (1 << 20)) {
      val cnt = if (n < 0) { c.readLong(); -n } else n
      var i = 0L
      while (c.ok && i < cnt && guard < (1 << 20)) {
        val k = new String(c.readBytes(1 << 20), "UTF-8")
        val v = c.readBytes(1 << 24)
        meta += (k -> v)
        i += 1; guard += 1
      }
      n = c.readLong()
    }
    if (!c.ok || guard >= (1 << 20)) return None
    val schema = meta.result().get("avro.schema")
      .map(new String(_, "UTF-8")).getOrElse(return None)
    interpretSchema(schema)
  }

  def parse(data: Array[Byte]): Option[AvroFile] = {
    if (!isAvro(data)) return None
    val c = new Cursor(data)
    c.p = 4
    // Metadata map: blocks of (count, k/v pairs), 0-terminated. A
    // negative count means |count| with a byte size prefix (legal
    // per spec; readers must handle it).
    val meta = Map.newBuilder[String, Array[Byte]]
    var n = c.readLong()
    var guard = 0
    while (c.ok && n != 0 && guard < (1 << 20)) {
      val cnt = if (n < 0) { c.readLong(); -n } else n
      var i = 0L
      while (c.ok && i < cnt && guard < (1 << 20)) {
        val k = new String(c.readBytes(1 << 20), "UTF-8")
        val v = c.readBytes(1 << 24)
        meta += (k -> v)
        i += 1; guard += 1
      }
      n = c.readLong()
    }
    if (!c.ok || guard >= (1 << 20)) return None
    val metaMap = meta.result()
    val schema = metaMap.get("avro.schema")
      .map(new String(_, "UTF-8")).getOrElse(return None)
    val codec = metaMap.get("avro.codec")
      .map(new String(_, "UTF-8")).getOrElse("null")
    if (!Codecs(codec)) return None
    val (recName, fields) = interpretSchema(schema).getOrElse(return None)
    val sync = c.readFixed(16)
    if (!c.ok) return None
    val rows = Seq.newBuilder[Row]
    var blocks = 0
    var total = 0L
    while (c.ok && c.p < data.length) {
      val cnt = c.readLong()
      val size = c.readLong()
      if (!c.ok || cnt < 0 || cnt > (1 << 24) || size < 0 ||
          size > (1 << 28)) return None
      total += cnt
      if (total > (1 << 24)) return None // bomb guard
      val body0 = c.readFixed(size.toInt)
      if (!c.ok) return None
      val body: Option[Array[Byte]] = codec match {
        case "null" => Some(body0)
        case "deflate" => inflateRaw(body0)
        case "bzip2" => Bzip2.decode(body0, 1 << 28)
        case "xz" => Xz.decode(body0, 1 << 28)
        case "zstandard" => Zstd.decode(body0, 1 << 28)
        case _ => // snappy: raw block + BE CRC32 of uncompressed
          if (body0.length < 4) None
          else SnappyCodec.decompress(
            java.util.Arrays.copyOfRange(body0, 0, body0.length - 4))
            .filter { dec =>
              val cc = new java.util.zip.CRC32
              cc.update(dec, 0, dec.length)
              val o = body0.length - 4
              cc.getValue == Bytes.be32u(body0, o) && dec.length <= (1 << 28)
            }
      }
      val blockSync = c.readFixed(16)
      if (!c.ok || !java.util.Arrays.equals(blockSync, sync)) return None
      body match {
        case None => return None
        case Some(raw) =>
          val bc = new Cursor(raw)
          var i = 0L
          while (bc.ok && i < cnt) {
            val row = readDatum(bc, fields)
            if (bc.ok) rows += row
            i += 1
          }
          // exact: all rows decode and the body is fully consumed
          if (!bc.ok || bc.p != raw.length) return None
      }
      blocks += 1
    }
    if (!c.ok) None
    else Some(AvroFile(recName, fields, codec, rows.result(), blocks))
  }
}
