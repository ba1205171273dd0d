package graft.operators

/** PUFFIN (the public Iceberg puffin-spec): the blob container
  * Iceberg ships statistics and — since format v3 — DELETION
  * VECTORS in. Layout: `Magic Blob₁ … Blobₙ Footer` with
  * `Footer = Magic FooterPayload FooterPayloadSize(u32 LE)
  * Flags(4) Magic`; the payload is a JSON document listing each
  * blob's type, field ids, snapshot/sequence numbers, byte range,
  * properties and optional compression-codec. Flag bit 0 of byte 0
  * marks an lz4-FRAME-compressed payload — decoded through the
  * repo's own [[Lz4]] codec (both directions).
  *
  * The v3 `deletion-vector-v1` blob body (iceberg spec
  * "Deletion vectors"): u32 BIG-endian combined length of magic +
  * vector, the magic bytes D1 D3 39 64, the deleted positions as
  * a 64-bit PORTABLE roaring bitmap
  * ([[Roaring.parsePortable64]]), and a u32 BIG-endian CRC-32 of
  * magic + vector — verified on read like every other checksum in
  * this repo.
  *
  * Both directions are implemented so fixtures need no external
  * writer; PuffinSpec round-trips and fuzzes the container, and
  * the `iceberg_dv_scan` gate reads DV-masked tables under the
  * DuckDB oracle. */
object Puffin {

  private val Magic = Array[Byte]('P', 'F', 'A', '1')
  private val DvMagic =
    Array[Byte](0xd1.toByte, 0xd3.toByte, 0x39, 0x64)

  final val DvBlobType = "deletion-vector-v1"

  final case class Blob(tpe: String, fields: Seq[Int],
      snapshotId: Long, sequenceNumber: Long, offset: Long,
      length: Long, properties: Map[String, String],
      compressionCodec: Option[String] = None)

  private def magicAt(b: Array[Byte], o: Int): Boolean =
    o >= 0 && o + 4 <= b.length &&
      (0 until 4).forall(k => b(o + k) == Magic(k))

  /** Footer parse → blob list (file-level properties ignored).
    * Flag bit 0 = lz4-FRAME-compressed footer payload — decoded
    * through [[Lz4.frameDecompress]] (r14; was a rejection). */
  def parse(b: Array[Byte]): Option[Seq[Blob]] = {
    if (b.length < 20) return None
    if (!magicAt(b, 0) || !magicAt(b, b.length - 4)) return None
    val flagsAt = b.length - 8
    val lz4Footer = (b(flagsAt) & 1) != 0
    if ((b(flagsAt) & 0xfe) != 0 || b(flagsAt + 1) != 0 ||
      b(flagsAt + 2) != 0 || b(flagsAt + 3) != 0) return None
    val sz = Bytes.le32u(b, flagsAt - 4)
    if (sz < 2 || sz > b.length - 20) return None
    val payloadAt = flagsAt - 4 - sz.toInt
    if (!magicAt(b, payloadAt - 4)) return None
    val json =
      if (!lz4Footer) new String(b, payloadAt, sz.toInt, "UTF-8")
      else new String(Lz4.frameDecompress(
        java.util.Arrays.copyOfRange(b, payloadAt,
          payloadAt + sz.toInt)).getOrElse(return None), "UTF-8")
    val m = JsonMini.parse(json).flatMap(JsonMini.obj)
      .getOrElse(return None)
    val blobs = JsonMini.arr(m.getOrElse("blobs", Seq.empty))
      .getOrElse(return None)
    val out = Seq.newBuilder[Blob]
    blobs.foreach { bv =>
      val bm = JsonMini.obj(bv).getOrElse(return None)
      val off = JsonMini.long(bm.getOrElse("offset", -1.0))
        .getOrElse(return None)
      val len = JsonMini.long(bm.getOrElse("length", -1.0))
        .getOrElse(return None)
      if (off < 4 || len < 0 || off + len > payloadAt - 4)
        return None
      out += Blob(
        JsonMini.str(bm.getOrElse("type", "")).getOrElse(""),
        JsonMini.arr(bm.getOrElse("fields", Seq.empty))
          .getOrElse(Seq.empty)
          .flatMap(JsonMini.long(_)).map(_.toInt),
        JsonMini.long(bm.getOrElse("snapshot-id", 0.0))
          .getOrElse(0L),
        JsonMini.long(bm.getOrElse("sequence-number", 0.0))
          .getOrElse(0L),
        off, len,
        JsonMini.obj(bm.getOrElse("properties", Map.empty))
          .getOrElse(Map.empty)
          .flatMap { case (k, v) =>
            JsonMini.str(v).map(k -> _) },
        bm.get("compression-codec").flatMap(JsonMini.str)
          .filter(_.nonEmpty))
    }
    Some(out.result())
  }

  /** Build a puffin file; returns (bytes, per-blob (offset,
    * length)). `lz4Footer` emits the compressed-footer form. */
  def build(blobs: Seq[(String, Seq[Int], Long, Long,
      Map[String, String], Array[Byte])],
      lz4Footer: Boolean = false): (Array[Byte],
      Seq[(Long, Long)]) = {
    val out = new java.io.ByteArrayOutputStream(256)
    out.write(Magic, 0, 4)
    val ranges = blobs.map { case (_, _, _, _, _, body) =>
      val off = out.size().toLong
      out.write(body, 0, body.length)
      (off, body.length.toLong)
    }
    val entries = blobs.zip(ranges).map {
      case ((tpe, fields, snap, seq, props, _), (off, len)) =>
        val propJson = props.toSeq.sortBy(_._1).map {
          case (k, v) =>
            s"${JsonMini.quote(k)}:${JsonMini.quote(v)}"
        }.mkString("{", ",", "}")
        s"""{"type":${JsonMini.quote(tpe)},"fields":[${
          fields.mkString(",")}],"snapshot-id":$snap,""" +
          s""""sequence-number":$seq,"offset":$off,""" +
          s""""length":$len,"properties":$propJson}"""
    }
    val json =
      s"""{"blobs":[${entries.mkString(",")}]}""".getBytes("UTF-8")
    val payload =
      if (lz4Footer) Lz4.frameCompress(json) else json
    out.write(Magic, 0, 4)
    out.write(payload, 0, payload.length)
    Bytes.putLe32(out, payload.length)
    out.write(if (lz4Footer) 1 else 0) // flags
    (0 until 3).foreach(_ => out.write(0))
    out.write(Magic, 0, 4)
    (out.toByteArray, ranges)
  }

  /** The v3 deletion-vector blob body from sorted-distinct deleted
    * positions. */
  def dvBlobBytes(positions: Array[Long]): Array[Byte] = {
    val vec = Roaring.serializePortable64(positions)
    val out = new java.io.ByteArrayOutputStream(vec.length + 12)
    val inner = 4 + vec.length // magic + vector
    Bytes.putBe32(out, inner)
    out.write(DvMagic, 0, 4)
    out.write(vec, 0, vec.length)
    val crc = new java.util.zip.CRC32()
    crc.update(DvMagic, 0, 4)
    crc.update(vec, 0, vec.length)
    val c = crc.getValue
    Bytes.putBe32(out, c)
    out.toByteArray
  }

  /** Decode a deletion-vector blob body → sorted deleted
    * positions; length, magic and CRC-32 all verified. */
  def parseDvBlob(b: Array[Byte]): Option[Array[Long]] = {
    if (b.length < 12) return None
    var inner = 0L
    (0 until 4).foreach(k =>
      inner = (inner << 8) | (b(k) & 0xffL))
    if (inner + 8 != b.length) return None
    if (!(0 until 4).forall(k => b(4 + k) == DvMagic(k)))
      return None
    val (vals, used) = Roaring.parsePortable64(b, 8)
      .getOrElse(return None)
    if (8 + used != b.length - 4) return None
    val crc = new java.util.zip.CRC32()
    crc.update(b, 4, b.length - 8)
    var want = 0L
    (0 until 4).foreach(k =>
      want = (want << 8) | (b(b.length - 4 + k) & 0xffL))
    if (crc.getValue != want) return None
    Some(vals)
  }
}
