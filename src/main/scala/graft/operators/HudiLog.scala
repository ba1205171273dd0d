package graft.operators

/** Apache Hudi LOG FILE format (the PUBLIC table spec,
  * hudi.apache.org/tech-specs "Log File Format", table version 6) —
  * the delta half of MERGE_ON_READ tables: base parquet files plus
  * append-only log files whose blocks carry Avro-encoded record
  * upserts, typed delete lists and rollback commands.
  *
  * Block layout (all multi-byte integers BIG-endian, the
  * DataOutputStream convention the format uses):
  *
  * {{{
  *   magic            6 bytes  "#HUDI#"
  *   blockSize        i64      bytes AFTER this field (version..trailer)
  *   version          i32      log format version (1)
  *   type             i32      block type ordinal (see below)
  *   header           map      i32 count, then per entry:
  *                             i32 key ordinal, i32 len, UTF-8 bytes
  *   contentLength    i64
  *   content          bytes
  *   footer           map      same encoding as header
  *   totalBlockLength i64      whole block INCLUDING magic — the
  *                             reverse-traversal pointer
  * }}}
  *
  * Block types (ordinals): 0 COMMAND, 1 DELETE, 2 CORRUPT,
  * 3 AVRO_DATA, 4 HFILE_DATA, 5 PARQUET_DATA, 6 CDC_DATA.
  * Header keys (ordinals): 0 INSTANT_TIME, 1 TARGET_INSTANT_TIME,
  * 2 SCHEMA, 3 COMMAND_BLOCK_TYPE — unknown ordinals are kept
  * numerically and ignored.
  *
  * AVRO_DATA content: i32 format version (≥2; we write 3), i32
  * record count, then per record i32 length + one binary Avro datum
  * of the header SCHEMA (no per-record framing beyond the length).
  * Version 1 (no length prefixes) rejects — decoding it needs the
  * schema to be error-free, which we cannot verify offline.
  *
  * DELETE content: i32 format version (≥2; we write 3), i32 length,
  * then one Avro datum of `HoodieDeleteRecordList` — an array of
  * records `(recordKey: string?, partitionPath: string?,
  * orderingVal: union?)`. The orderingVal union's branch ORDER is
  * not offline-verifiable (no Hudi jar ships in this environment to
  * differential against), so a non-null orderingVal rejects the
  * block loudly rather than risking a mis-decode; our own writer
  * always takes the null branch, which any Hudi reader accepts.
  *
  * COMMAND content is empty; the rollback target rides in the
  * TARGET_INSTANT_TIME header (command type 0 =
  * ROLLBACK_PREVIOUS_BLOCK, the only command the spec defines).
  *
  * A block that fails any structural check is reported as ONE
  * corrupt marker and the walk resynchronizes at the next magic —
  * the spec's own corrupt-block semantics (a torn append must not
  * hide the blocks after it). Validation: HudiLogSpec (byte pins on
  * the exact layout, corrupt resync, delete/command round trips)
  * and the `hudi_mor_snapshot` gate row whose oracle recomputes the
  * merged table analytically. */
object HudiLog {

  val Magic: Array[Byte] = "#HUDI#".getBytes("UTF-8") // 6 bytes

  // block type ordinals
  final val Command = 0
  final val Delete = 1
  final val Corrupt = 2
  final val AvroData = 3
  final val HFileData = 4
  final val ParquetData = 5
  final val CdcData = 6

  // header key ordinals
  final val InstantTime = 0
  final val TargetInstantTime = 1
  final val SchemaKey = 2
  final val CommandBlockType = 3

  /** One parsed block. `corrupt` marks a resync gap (type is then
    * [[Corrupt]] and the other fields are empty). */
  final case class Block(tpe: Int, header: Map[Int, String],
      footer: Map[Int, String], content: Array[Byte],
      corrupt: Boolean = false)

  // ---------------------------------------------------------------
  // Writer
  // ---------------------------------------------------------------

  private def metaBytes(m: Map[Int, String]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(m.size)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      out.writeInt(k)
      val b = v.getBytes("UTF-8")
      out.writeInt(b.length)
      out.write(b)
    }
    out.flush()
    bos.toByteArray
  }

  /** Render one block in the on-disk layout. */
  def renderBlock(b: Block): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    val hdr = metaBytes(b.header)
    val ftr = metaBytes(b.footer)
    // version..trailer, excluding magic and the blockSize field
    val inner = 4L + 4L + hdr.length + 8L + b.content.length +
      ftr.length + 8L
    out.write(Magic)
    out.writeLong(inner)
    out.writeInt(1) // log format version
    out.writeInt(b.tpe)
    out.write(hdr)
    out.writeLong(b.content.length.toLong)
    out.write(b.content)
    out.write(ftr)
    out.writeLong(6L + 8L + inner) // total incl. magic
    out.flush()
    bos.toByteArray
  }

  /** Append blocks to a log file (creating it if absent). */
  def append(path: java.io.File, blocks: Seq[Block]): Unit = {
    val out = new java.io.FileOutputStream(path, true)
    try blocks.foreach(b => out.write(renderBlock(b)))
    finally out.close()
  }

  // ---------------------------------------------------------------
  // Parser
  // ---------------------------------------------------------------

  private def magicAt(b: Array[Byte], p: Int): Boolean =
    p + 6 <= b.length && (0 until 6).forall(i => b(p + i) == Magic(i))

  private def nextMagic(b: Array[Byte], from: Int): Int = {
    var p = math.max(from, 0)
    while (p + 6 <= b.length && !magicAt(b, p)) p += 1
    if (p + 6 <= b.length) p else -1
  }

  /** Parse a header/footer map at `p`; (map, newPos) or None. */
  private def parseMeta(b: Array[Byte], p0: Int, limit: Int)
      : Option[(Map[Int, String], Int)] = {
    var p = p0
    if (p + 4 > limit) return None
    val n = Bytes.be32(b, p); p += 4
    if (n < 0 || n > 64) return None
    val m = Map.newBuilder[Int, String]
    var i = 0
    while (i < n) {
      if (p + 8 > limit) return None
      val k = Bytes.be32(b, p)
      val len = Bytes.be32(b, p + 4)
      p += 8
      if (len < 0 || len > (1 << 24) || p + len > limit) return None
      m += (k -> new String(b, p, len, "UTF-8"))
      p += len
      i += 1
    }
    Some((m.result(), p))
  }

  /** Parse one block starting at a verified magic; (block, nextPos)
    * or None on any structural violation. */
  private def parseOne(b: Array[Byte], start: Int)
      : Option[(Block, Int)] = {
    var p = start + 6
    if (p + 8 > b.length) return None
    val inner = Bytes.be64(b, p); p += 8
    // version(4)+type(4)+hdrCount(4)+contentLen(8)+ftrCount(4)+total(8)
    if (inner < 32 || inner > b.length - p) return None
    val end = p + inner.toInt // exclusive end of this block
    val version = Bytes.be32(b, p)
    val tpe = Bytes.be32(b, p + 4)
    p += 8
    if (version != 1 || tpe < 0 || tpe > 6) return None
    val (hdr, p1) = parseMeta(b, p, end).getOrElse(return None)
    p = p1
    if (p + 8 > end) return None
    val clen = Bytes.be64(b, p); p += 8
    if (clen < 0 || clen > end - p) return None
    val content = java.util.Arrays.copyOfRange(b, p, p + clen.toInt)
    p += clen.toInt
    val (ftr, p2) = parseMeta(b, p, end).getOrElse(return None)
    p = p2
    if (p + 8 != end) return None
    val total = Bytes.be64(b, p)
    if (total != 6L + 8L + inner) return None
    Some((Block(tpe, hdr, ftr, content), end))
  }

  /** Walk a log file. Corrupt stretches (bad magic, torn block,
    * inconsistent lengths) become ONE corrupt marker each and the
    * walk resumes at the next magic — blocks after a torn append
    * stay visible, blocks inside it never decode partially. */
  def parse(data: Array[Byte]): Seq[Block] = {
    val out = Seq.newBuilder[Block]
    var p = 0
    while (p < data.length) {
      if (!magicAt(data, p)) {
        out += Block(Corrupt, Map.empty, Map.empty,
          Array.emptyByteArray, corrupt = true)
        val n = nextMagic(data, p + 1)
        p = if (n < 0) data.length else n
      } else parseOne(data, p) match {
        case Some((blk, np)) => out += blk; p = np
        case None =>
          out += Block(Corrupt, Map.empty, Map.empty,
            Array.emptyByteArray, corrupt = true)
          val n = nextMagic(data, p + 6)
          p = if (n < 0) data.length else n
      }
    }
    out.result()
  }

  // ---------------------------------------------------------------
  // AVRO_DATA content
  // ---------------------------------------------------------------

  /** i32 format version (3) + i32 count + per-record i32 length +
    * datum bytes. */
  def avroDataContent(datums: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(3)
    out.writeInt(datums.length)
    datums.foreach { d => out.writeInt(d.length); out.write(d) }
    out.flush()
    bos.toByteArray
  }

  /** Datum byte slices, exact-consumption enforced; None on version
    * 1 (no length prefixes — honest rejection) or malformation. */
  def parseAvroDataContent(content: Array[Byte])
      : Option[Seq[Array[Byte]]] = {
    if (content.length < 8) return None
    val version = Bytes.be32(content, 0)
    val n = Bytes.be32(content, 4)
    if (version < 2 || version > 10 || n < 0 || n > (1 << 24))
      return None
    var p = 8
    val out = Seq.newBuilder[Array[Byte]]
    var i = 0
    while (i < n) {
      if (p + 4 > content.length) return None
      val len = Bytes.be32(content, p); p += 4
      if (len < 0 || len > content.length - p) return None
      out += java.util.Arrays.copyOfRange(content, p, p + len)
      p += len
      i += 1
    }
    if (p != content.length) None else Some(out.result())
  }

  // ---------------------------------------------------------------
  // DELETE content — HoodieDeleteRecordList, hand-rolled varint
  // codec so the unverifiable orderingVal union can reject loudly.
  // ---------------------------------------------------------------

  private def writeVar(out: java.io.ByteArrayOutputStream,
      value: Long): Unit = Bytes.putVarint(out, Bytes.zigzag(value))

  private final class VarCursor(bytes: Array[Byte])
      extends Bytes.Cursor(bytes) {
    def readLong(): Long = Bytes.unzigzag(varint())
    def readStr(): String = {
      val n = readLong()
      if (!ok || n < 0 || n > (1 << 24) || p + n > b.length) {
        fail(); ""
      } else { val s = new String(b, p, n.toInt, "UTF-8"); p += n.toInt; s }
    }
  }

  /** DELETE block content for `(partitionPath, recordKey)` pairs —
    * version 3, orderingVal on the null branch. */
  def deleteContent(keys: Seq[(String, String)]): Array[Byte] = {
    val datum = new java.io.ByteArrayOutputStream()
    if (keys.nonEmpty) {
      writeVar(datum, keys.length.toLong)
      keys.foreach { case (part, key) =>
        writeVar(datum, 1) // recordKey: non-null branch
        val kb = key.getBytes("UTF-8")
        writeVar(datum, kb.length.toLong); datum.write(kb, 0, kb.length)
        writeVar(datum, 1) // partitionPath: non-null branch
        val pb = part.getBytes("UTF-8")
        writeVar(datum, pb.length.toLong); datum.write(pb, 0, pb.length)
        writeVar(datum, 0) // orderingVal: null branch
      }
    }
    writeVar(datum, 0) // array terminator
    val d = datum.toByteArray
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(3)
    out.writeInt(d.length)
    out.write(d)
    out.flush()
    bos.toByteArray
  }

  /** Parse DELETE content to `(partitionPath, recordKey)` pairs.
    * None on version < 2 (v1 is Kryo-serialized — honest rejection),
    * a non-null orderingVal (union branch order unverifiable — see
    * the scaladoc), or any malformation. */
  def parseDeleteContent(content: Array[Byte])
      : Option[Seq[(String, String)]] = {
    if (content.length < 8) return None
    val version = Bytes.be32(content, 0)
    val len = Bytes.be32(content, 4)
    if (version < 2 || version > 10 || len < 0 ||
      len != content.length - 8) return None
    val c = new VarCursor(
      java.util.Arrays.copyOfRange(content, 8, content.length))
    val out = Seq.newBuilder[(String, String)]
    var total = 0L
    var n = c.readLong()
    while (c.ok && n != 0) {
      val cnt = if (n < 0) { c.readLong(); -n } else n
      total += cnt
      if (cnt < 0 || total > (1 << 24)) return None
      var i = 0L
      while (c.ok && i < cnt) {
        val key = c.readLong() match {
          case 0 => "" // null recordKey: legal but useless; keep ""
          case 1 => c.readStr()
          case _ => c.fail(); ""
        }
        val part = c.readLong() match {
          case 0 => ""
          case 1 => c.readStr()
          case _ => c.fail(); ""
        }
        c.readLong() match {
          case 0 => // orderingVal: null — the only decodable branch
          case _ => c.fail()
        }
        if (c.ok) out += ((part, key))
        i += 1
      }
      n = c.readLong()
    }
    if (!c.ok || c.p != c.b.length) None else Some(out.result())
  }
}
