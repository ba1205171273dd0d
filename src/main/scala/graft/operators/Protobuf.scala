package graft.operators

/** Protocol-buffers wire format (the public encoding spec,
  * protobuf.dev/programming-guides/encoding) plus the `tf.train.
  * Example` message family (tensorflow/core/example/{example,
  * feature}.proto — the de-facto payload inside TFRecord training
  * shards, which [[TfRecord]] frames but until now left opaque).
  * Pure-JVM build + parse, entirely closed-form: base-128 varints,
  * the four live wire types (VARINT 0, I64 1, LEN 2, I32 5), and the
  * nested-message walk. Deprecated group tags (3/4) and any
  * truncation/overrun latch the cursor dead — drop, never invent
  * (the Warc rule).
  *
  * The Example schema, spelled out since there is no generated code
  * here (all field numbers from the public .proto files):
  *
  *   Example  { Features features = 1; }
  *   Features { map<string, Feature> feature = 1; }
  *     // a proto map is a repeated entry message {key=1, value=2}
  *   Feature  { oneof kind { BytesList bytes_list = 1;
  *                           FloatList float_list = 2;
  *                           Int64List int64_list = 3; } }
  *   BytesList { repeated bytes value = 1; }
  *   FloatList { repeated float value = 1 [packed]; }
  *   Int64List { repeated int64 value = 1 [packed]; }
  *
  *   SequenceExample { Features context = 1;
  *                     FeatureLists feature_lists = 2; }
  *   FeatureLists { map<string, FeatureList> feature_list = 1; }
  *   FeatureList  { repeated Feature feature = 1; }
  *
  * The builder emits packed numeric lists (proto3 default); the
  * parser accepts BOTH packed and per-element encodings, as the spec
  * requires of every conforming reader. Unknown field numbers are
  * skipped by wire type, so Examples carrying extra context features
  * still parse. No reference analogue (north-star ingestion
  * surface); validated by round-trip + hand-pinned byte layouts +
  * fuzz in ProtobufSpec, and end-to-end through TFRecord shards in
  * the `tfexample_parse` gate query. */
object Protobuf {

  // ---------------------------------------------------------------
  // Wire primitives
  // ---------------------------------------------------------------

  private[operators] def writeTag(out: java.io.ByteArrayOutputStream,
      field: Int, wire: Int): Unit =
    Bytes.putVarint(out, (field.toLong << 3) | wire)

  private[operators] def writeLen(out: java.io.ByteArrayOutputStream,
      field: Int, payload: Array[Byte]): Unit = {
    writeTag(out, field, 2)
    Bytes.putVarint(out, payload.length.toLong)
    out.write(payload)
  }

  /** [[Bytes.Cursor]] with the protobuf wire reads (the [[Avro]]
    * idiom: `ok` latches false on any malformation). */
  private[operators] final class Cursor(bytes: Array[Byte], start: Int,
      limit: Int) extends Bytes.Cursor(bytes, start, limit) {
    def hasMore: Boolean = ok && p < end

    /** A LEN payload as a sub-cursor (no copy). */
    def lenSlice(): Cursor = {
      val n = varint()
      if (!ok || n < 0 || n > end - p) { fail(); new Cursor(b, p, p) }
      else { val c = new Cursor(b, p, p + (n & 0x7fffffff).toInt); p = c.end; c }
    }

    /** Skip one value of the given wire type. */
    def skip(wire: Int): Unit = wire match {
      case 0 => varint(): Unit
      case 1 => le64(): Unit
      case 2 => lenSlice(): Unit
      case 5 => le32(): Unit
      case _ => fail() // groups (3/4) and anything undefined
    }
  }

  // ---------------------------------------------------------------
  // tf.train.Example — typed feature values
  // ---------------------------------------------------------------

  /** One feature's payload — exactly the proto oneof. */
  sealed trait FeatureVal
  final case class BytesVals(vs: Seq[Array[Byte]]) extends FeatureVal
  final case class FloatVals(vs: Seq[Float]) extends FeatureVal
  final case class IntVals(vs: Seq[Long]) extends FeatureVal

  /** Serialize a tf.train.Example. Features are emitted in the given
    * order (map order is not semantic in proto, but a deterministic
    * builder makes shards byte-reproducible); numeric lists are
    * packed. */
  def buildExample(features: Seq[(String, FeatureVal)]): Array[Byte] = {
    val ex = new java.io.ByteArrayOutputStream()
    writeLen(ex, 1, buildFeatures(features)) // Example.features = 1
    ex.toByteArray
  }

  /** One Feature message (the oneof payload). */
  private def buildFeature(fv: FeatureVal): Array[Byte] = {
    val kind = new java.io.ByteArrayOutputStream()
    fv match {
      case BytesVals(vs) => // BytesList{repeated bytes value=1} @ field 1
        val bl = new java.io.ByteArrayOutputStream()
        vs.foreach(v => writeLen(bl, 1, v))
        writeLen(kind, 1, bl.toByteArray)
      case FloatVals(vs) => // FloatList{packed float value=1} @ field 2
        val fl = new java.io.ByteArrayOutputStream()
        val packed = new java.io.ByteArrayOutputStream()
        vs.foreach(f => Bytes.putLe32(packed, java.lang.Float.floatToIntBits(f)))
        writeLen(fl, 1, packed.toByteArray)
        writeLen(kind, 2, fl.toByteArray)
      case IntVals(vs) => // Int64List{packed int64 value=1} @ field 3
        val il = new java.io.ByteArrayOutputStream()
        val packed = new java.io.ByteArrayOutputStream()
        vs.foreach(Bytes.putVarint(packed, _))
        writeLen(il, 1, packed.toByteArray)
        writeLen(kind, 3, il.toByteArray)
    }
    kind.toByteArray
  }

  /** A Features message body (the map<string,Feature> framing). */
  private def buildFeatures(
      features: Seq[(String, FeatureVal)]): Array[Byte] = {
    val feats = new java.io.ByteArrayOutputStream()
    features.foreach { case (name, fv) =>
      // map entry {key=1 string, value=2 Feature}
      val entry = new java.io.ByteArrayOutputStream()
      writeLen(entry, 1, name.getBytes("UTF-8"))
      writeLen(entry, 2, buildFeature(fv))
      writeLen(feats, 1, entry.toByteArray)
    }
    feats.toByteArray
  }

  /** Serialize a tf.train.SequenceExample (the standard shape for
    * speech/video training data — example.proto):
    *
    *   SequenceExample { Features context = 1;
    *                     FeatureLists feature_lists = 2; }
    *   FeatureLists { map<string, FeatureList> feature_list = 1; }
    *   FeatureList  { repeated Feature feature = 1; }
    *
    * Context features and each list's steps are emitted in the given
    * order (deterministic builder, byte-reproducible shards). */
  def buildSequenceExample(context: Seq[(String, FeatureVal)],
      featureLists: Seq[(String, Seq[FeatureVal])]): Array[Byte] = {
    val fls = new java.io.ByteArrayOutputStream()
    featureLists.foreach { case (name, steps) =>
      val fl = new java.io.ByteArrayOutputStream()
      steps.foreach(fv => writeLen(fl, 1, buildFeature(fv)))
      // map entry {key=1 string, value=2 FeatureList}
      val entry = new java.io.ByteArrayOutputStream()
      writeLen(entry, 1, name.getBytes("UTF-8"))
      writeLen(entry, 2, fl.toByteArray)
      writeLen(fls, 1, entry.toByteArray)
    }
    val ex = new java.io.ByteArrayOutputStream()
    writeLen(ex, 1, buildFeatures(context)) // context = 1
    writeLen(ex, 2, fls.toByteArray)        // feature_lists = 2
    ex.toByteArray
  }

  /** Parse a tf.train.Example: feature name → typed values, in
    * encounter order. None on ANY malformation (bad varint, group
    * tag, overrun, float list length not ×4) — never a partial
    * result. Unknown field numbers at every level skip cleanly;
    * repeated (unpacked) numeric elements accumulate, as the spec
    * requires of readers. */
  def parseExample(bytes: Array[Byte]): Option[Seq[(String, FeatureVal)]] = {
    val top = new Cursor(bytes, 0, bytes.length)
    val out = Seq.newBuilder[(String, FeatureVal)]
    while (top.hasMore) {
      val tag = top.varint()
      if (top.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) parseFeatures(top.lenSlice(), out)
        else top.skip(wire)
      }
    }
    if (top.ok) Some(out.result()) else None
  }

  private def parseFeatures(c: Cursor,
      out: scala.collection.mutable.Builder[(String, FeatureVal), Seq[(String, FeatureVal)]]): Unit = {
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) { // one map entry
          val e = c.lenSlice()
          var name: Option[String] = None
          var fv: Option[FeatureVal] = None
          while (e.hasMore) {
            val t2 = e.varint()
            if (e.ok) {
              val (f2, w2) = ((t2 >>> 3).toInt, (t2 & 7).toInt)
              if (f2 == 1 && w2 == 2) {
                val s = e.lenSlice()
                name = Some(new String(s.b, s.p, s.end - s.p, "UTF-8"))
              } else if (f2 == 2 && w2 == 2) {
                fv = parseFeature(e.lenSlice())
                if (fv.isEmpty) e.fail()
              } else e.skip(w2)
            }
          }
          if (!e.ok) c.fail()
          else for (n <- name; v <- fv) out += ((n, v))
        } else c.skip(wire)
      }
    }
  }

  /** Feature{oneof bytes_list=1 | float_list=2 | int64_list=3}. An
    * empty Feature (no kind set — legal proto) parses as an empty
    * IntVals so the name is not silently dropped. */
  private def parseFeature(c: Cursor): Option[FeatureVal] = {
    var result: Option[FeatureVal] = None
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        (field, wire) match {
          case (1, 2) => result = parseBytesList(c.lenSlice())
          case (2, 2) => result = parseFloatList(c.lenSlice())
          case (3, 2) => result = parseInt64List(c.lenSlice())
          case _      => c.skip(wire)
        }
        if (result.isEmpty && (field >= 1 && field <= 3) && wire == 2)
          c.fail()
      }
    }
    if (!c.ok) None else result.orElse(Some(IntVals(Seq.empty)))
  }

  private def parseBytesList(c: Cursor): Option[FeatureVal] = {
    val vs = Seq.newBuilder[Array[Byte]]
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) {
          val s = c.lenSlice()
          if (c.ok) vs += java.util.Arrays.copyOfRange(s.b, s.p, s.end)
        } else c.skip(wire)
      }
    }
    if (c.ok) Some(BytesVals(vs.result())) else None
  }

  private def parseFloatList(c: Cursor): Option[FeatureVal] = {
    val vs = Seq.newBuilder[Float]
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) { // packed
          val s = c.lenSlice()
          if ((s.end - s.p) % 4 != 0) { c.fail(); s.fail() }
          while (s.hasMore) vs += java.lang.Float.intBitsToFloat(s.le32())
          if (!s.ok) c.fail()
        } else if (field == 1 && wire == 5) { // unpacked element
          vs += java.lang.Float.intBitsToFloat(c.le32())
        } else c.skip(wire)
      }
    }
    if (c.ok) Some(FloatVals(vs.result())) else None
  }

  private def parseInt64List(c: Cursor): Option[FeatureVal] = {
    val vs = Seq.newBuilder[Long]
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) { // packed
          val s = c.lenSlice()
          while (s.hasMore) vs += s.varint()
          if (!s.ok) c.fail()
        } else if (field == 1 && wire == 0) { // unpacked element
          vs += c.varint()
        } else c.skip(wire)
      }
    }
    if (c.ok) Some(IntVals(vs.result())) else None
  }

  /** Parse a tf.train.SequenceExample: (context features, feature
    * lists — each name → the per-step Feature values in order). None
    * on ANY malformation; unknown fields skip cleanly at every
    * level; an absent context or feature_lists yields empty seqs
    * (both fields are optional in the proto). */
  def parseSequenceExample(bytes: Array[Byte])
      : Option[(Seq[(String, FeatureVal)],
                Seq[(String, Seq[FeatureVal])])] = {
    val top = new Cursor(bytes, 0, bytes.length)
    val ctx = Seq.newBuilder[(String, FeatureVal)]
    val lists = Seq.newBuilder[(String, Seq[FeatureVal])]
    while (top.hasMore) {
      val tag = top.varint()
      if (top.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) parseFeatures(top.lenSlice(), ctx)
        else if (field == 2 && wire == 2)
          parseFeatureLists(top.lenSlice(), lists)
        else top.skip(wire)
      }
    }
    if (top.ok) Some((ctx.result(), lists.result())) else None
  }

  private def parseFeatureLists(c: Cursor,
      out: scala.collection.mutable.Builder[(String, Seq[FeatureVal]),
        Seq[(String, Seq[FeatureVal])]]): Unit = {
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field == 1 && wire == 2) { // one map entry
          val e = c.lenSlice()
          var name: Option[String] = None
          val steps = Seq.newBuilder[FeatureVal]
          while (e.hasMore) {
            val t2 = e.varint()
            if (e.ok) {
              val (f2, w2) = ((t2 >>> 3).toInt, (t2 & 7).toInt)
              if (f2 == 1 && w2 == 2) {
                val s = e.lenSlice()
                name = Some(new String(s.b, s.p, s.end - s.p, "UTF-8"))
              } else if (f2 == 2 && w2 == 2) {
                // FeatureList { repeated Feature feature = 1 }
                val fl = e.lenSlice()
                while (fl.hasMore) {
                  val t3 = fl.varint()
                  if (fl.ok) {
                    val (f3, w3) = ((t3 >>> 3).toInt, (t3 & 7).toInt)
                    if (f3 == 1 && w3 == 2) {
                      parseFeature(fl.lenSlice()) match {
                        case Some(fv) => steps += fv
                        case None     => fl.fail()
                      }
                    } else fl.skip(w3)
                  }
                }
                if (!fl.ok) e.fail()
              } else e.skip(w2)
            }
          }
          if (!e.ok) c.fail()
          else for (n <- name) out += ((n, steps.result()))
        } else c.skip(wire)
      }
    }
  }

  // ---------------------------------------------------------------
  // Generic field walk (for sniffing / unknown-schema audits)
  // ---------------------------------------------------------------

  /** One top-level field occurrence: (field number, wire type, byte
    * length of the VALUE on the wire). The generic shape audit an
    * ingest engine runs over schemaless proto payloads. None on
    * malformation. */
  def fieldWalk(bytes: Array[Byte]): Option[Seq[(Int, Int, Int)]] = {
    val c = new Cursor(bytes, 0, bytes.length)
    val out = Seq.newBuilder[(Int, Int, Int)]
    while (c.hasMore) {
      val tag = c.varint()
      if (c.ok) {
        val (field, wire) = ((tag >>> 3).toInt, (tag & 7).toInt)
        if (field <= 0) c.fail()
        else {
          val before = c.p
          c.skip(wire)
          if (c.ok) out += ((field, wire, c.p - before))
        }
      }
    }
    if (c.ok) Some(out.result()) else None
  }
}
