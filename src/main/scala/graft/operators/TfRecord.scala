package graft.operators

/** TFRecord framing (the TensorFlow data format, publicly documented
  * in the TensorFlow source: core/lib/io/record_writer.h): each
  * record is `[length u64 LE][masked crc32c(length) u32 LE][data]
  * [masked crc32c(data) u32 LE]`, with the Castagnoli CRC masked as
  * `rot_right_15(crc) + 0xa282ead8`. Pure-JVM build + parse
  * (java.util.zip.CRC32C ships with the JDK); BOTH checksums are
  * verified on parse, so a truncated or bit-flipped shard stops the
  * walk instead of yielding a corrupt sample. The payload layer
  * (tf.train.Example protobuf) is decoded by [[Protobuf]] — the
  * `tfexample_parse` gate query runs the full stack: framing CRCs,
  * then the wire-format walk over each record's Example. */
object TfRecord {

  private final val MaskDelta = 0xa282ead8L

  /** TensorFlow's CRC mask: rotate right 15, add the delta (mod 2³²). */
  private[operators] def mask(crc: Long): Long =
    (((crc >>> 15) | (crc << 17)) + MaskDelta) & 0xffffffffL

  private def crc32c(b: Array[Byte], off: Int, len: Int): Long = {
    val c = new java.util.zip.CRC32C
    c.update(b, off, len)
    c.getValue
  }

  /** One framed record. */
  def buildRecord(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length + 16)
    Bytes.putLe64(out, data.length)
    Bytes.putLe32(out, mask(crc32c(out.toByteArray, 0, 8)))
    out.write(data)
    Bytes.putLe32(out, mask(crc32c(data, 0, data.length)))
    out.toByteArray
  }

  /** Concatenated records — a TFRecord shard. */
  def buildShard(records: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    records.foreach(out.write)
    out.toByteArray
  }

  /** Parsed facts of one record: payload length and md5. */
  final case class TfRec(length: Long, md5: String, dataOff: Int)

  /** Walk a shard, verifying BOTH masked CRCs per record; any
    * mismatch or truncation ends the walk. */
  def parse(data: Array[Byte]): Seq[TfRec] = {
    val out = Seq.newBuilder[TfRec]
    var p = 0
    var ok = true
    while (ok && p + 12 <= data.length) {
      val len = Bytes.le64(data, p)
      val lenCrc = Bytes.le32u(data, p + 8)
      if (len < 0 || p + 12 + len + 4 > data.length ||
        mask(crc32c(data, p, 8)) != lenCrc) ok = false
      else {
        val dataCrc = Bytes.le32u(data, p + 12 + len.toInt)
        if (mask(crc32c(data, p + 12, len.toInt)) != dataCrc) ok = false
        else {
          val d = java.security.MessageDigest.getInstance("MD5")
          d.update(data, p + 12, len.toInt)
          out += TfRec(len, d.digest().map("%02x".format(_)).mkString,
            p + 12)
          p += 12 + len.toInt + 4
        }
      }
    }
    out.result()
  }
}
