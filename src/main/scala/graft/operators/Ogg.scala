package graft.operators

import scala.collection.mutable.ArrayBuffer

/** Ogg page framing (RFC 3533), pure JVM, both directions — the
  * transport container Vorbis/Opus audio ships in. Everything is
  * closed-form: the capture pattern walk, 255-lacing segmentation,
  * and the page CRC-32 (poly 0x04C11DB7, init 0, NO reflection, no
  * final xor — Ogg's variant) computed bitwise from the polynomial.
  * Codec payloads stay opaque bytes, the multimodal-column stance.
  *
  * The builder emits one packet per page (the common Opus layout),
  * splitting packets over 255×255 bytes across continued pages; the
  * parser handles ANY lacing — multiple packets per page and
  * continued packets across pages — verifies every page CRC, and
  * ends the walk at the first malformed page without inventing
  * data. */
object Ogg {

  /** Facts of one parsed page. */
  final case class OggPage(seqNo: Long, granule: Long, serial: Long,
                           bos: Boolean, eos: Boolean, continued: Boolean,
                           nSegs: Int, payloadLen: Int)

  /** Ogg CRC-32: poly 0x04C11DB7, init 0, not reflected, xorout 0.
    * The bitwise single-step form lives in OggSpec as the independent
    * cross-check. */
  def crc32(b: Array[Byte], from: Int, len: Int): Long =
    Bytes.crc32Msb(0, b, from, len) & 0xffffffffL

  private def buildPage(serial: Long, seqNo: Long, granule: Long,
                        headerType: Int,
                        lacing: Seq[Int], payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("OggS".getBytes("US-ASCII"))
    out.write(0) // version
    out.write(headerType)
    Bytes.putLe64(out, granule)
    Bytes.putLe32(out, serial)
    Bytes.putLe32(out, seqNo)
    Bytes.putLe32(out, 0) // CRC placeholder
    out.write(lacing.length)
    lacing.foreach(out.write)
    out.write(payload, 0, payload.length)
    val page = out.toByteArray
    val crc = crc32(page, 0, page.length)
    Bytes.setLe32(page, 22, crc)
    page
  }

  /** Build a single-stream Ogg: one packet per page (packets larger
    * than 255·255 bytes continue onto following pages), BOS on the
    * first page, EOS on the last, `granules(i)` stamped on packet i's
    * FINAL page (−1 on continued intermediates, the spec's marker). */
  def build(serial: Long, packets: Seq[Array[Byte]],
            granules: Seq[Long]): Array[Byte] = {
    require(packets.length == granules.length)
    val out = new java.io.ByteArrayOutputStream()
    var seqNo = 0L
    for ((pkt, pi) <- packets.zipWithIndex) {
      var off = 0
      var first = true
      // emit ≥1 page; a packet of exactly k·255 bytes needs a final
      // 0-lacing terminator segment
      var done = false
      while (!done) {
        val maxBytes = 255 * 255
        val take = math.min(pkt.length - off, maxBytes)
        val full = take / 255
        val rem = take % 255
        val lacing = ArrayBuffer.fill(full)(255)
        // a full 255×255 page cannot also terminate (256 lacings
        // don't fit) — the packet ends on a later page, possibly a
        // [0]-lacing terminator when the length is an exact multiple
        val lastChunk = off + take == pkt.length && take < maxBytes
        if (rem > 0 || (lastChunk && rem == 0))
          lacing += rem
        val headerType =
          (if (!first) 0x01 else 0) |
          (if (pi == 0 && first) 0x02 else 0) |
          (if (pi == packets.length - 1 && lastChunk) 0x04 else 0)
        out.write(buildPage(serial, seqNo,
          if (lastChunk) granules(pi) else -1L, headerType,
          lacing.toSeq,
          java.util.Arrays.copyOfRange(pkt, off, off + take)))
        seqNo += 1
        off += take
        first = false
        done = lastChunk
      }
    }
    out.toByteArray
  }

  /** Walk pages, verifying every CRC; the walk ends at truncation, a
    * bad capture pattern, a bad version or a CRC mismatch — never
    * inventing pages. */
  def parsePages(data: Array[Byte]): Seq[OggPage] = {
    val out = ArrayBuffer.empty[OggPage]
    var p = 0
    var ok = true
    while (ok && p + 27 <= data.length) {
      if (!(data(p) == 'O' && data(p + 1) == 'g' && data(p + 2) == 'g' &&
        data(p + 3) == 'S' && data(p + 4) == 0)) ok = false
      else {
        val headerType = data(p + 5) & 0xff
        val granule = Bytes.le64(data, p + 6)
        val serial = Bytes.le32u(data, p + 14)
        val seqNo = Bytes.le32u(data, p + 18)
        val storedCrc = Bytes.le32u(data, p + 22)
        val nSegs = data(p + 26) & 0xff
        if (p + 27 + nSegs > data.length) ok = false
        else {
          var payloadLen = 0
          var j = 0
          while (j < nSegs) { payloadLen += data(p + 27 + j) & 0xff; j += 1 }
          val pageLen = 27 + nSegs + payloadLen
          if (p + pageLen > data.length) ok = false
          else {
            // CRC verifies over the page with the CRC field zeroed
            val copy = java.util.Arrays.copyOfRange(data, p, p + pageLen)
            copy(22) = 0; copy(23) = 0; copy(24) = 0; copy(25) = 0
            if (crc32(copy, 0, copy.length) != storedCrc) ok = false
            else {
              out += OggPage(seqNo, granule, serial,
                bos = (headerType & 0x02) != 0,
                eos = (headerType & 0x04) != 0,
                continued = (headerType & 0x01) != 0,
                nSegs, payloadLen)
              p += pageLen
            }
          }
        }
      }
    }
    out.toSeq
  }

  /** Opus identification header facts (RFC 7845 §5.1). */
  final case class OpusHead(version: Int, channels: Int, preSkip: Int,
                            inputRate: Long, gainQ8: Int,
                            mappingFamily: Int)

  /** Build the "OpusHead" identification packet (mapping family 0 —
    * no channel mapping table). */
  def buildOpusHead(channels: Int, preSkip: Int, inputRate: Long,
                    gainQ8: Int): Array[Byte] = {
    require(channels >= 1 && channels <= 2, "family-0 channels")
    val b = java.nio.ByteBuffer.allocate(19)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("OpusHead".getBytes("US-ASCII"))
    b.put(1.toByte).put(channels.toByte)
    b.putShort(preSkip.toShort)
    b.putInt(inputRate.toInt)
    b.putShort(gainQ8.toShort)
    b.put(0.toByte)
    b.array()
  }

  /** Parse an "OpusHead" packet; None on bad magic/version/length or
    * a family-0 stream with more than 2 channels. */
  def parseOpusHead(pkt: Array[Byte]): Option[OpusHead] = {
    if (pkt.length < 19) return None
    if (new String(pkt, 0, 8, "US-ASCII") != "OpusHead") return None
    val b = java.nio.ByteBuffer.wrap(pkt)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val version = pkt(8) & 0xff
    if (version != 1) return None
    val channels = pkt(9) & 0xff
    val preSkip = b.getShort(10) & 0xffff
    val rate = b.getInt(12).toLong & 0xffffffffL
    val gain = b.getShort(16).toInt
    val family = pkt(18) & 0xff
    if (channels < 1) return None
    if (family == 0 && (channels > 2 || pkt.length != 19)) return None
    Some(OpusHead(version, channels, preSkip, rate, gain, family))
  }

  /** Build the "OpusTags" comment packet (the Vorbis-comment layout:
    * vendor string + KEY=value entries, all lengths 32-bit LE). */
  def buildOpusTags(vendor: String, tags: Seq[String]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("OpusTags".getBytes("US-ASCII"))
    val vb = vendor.getBytes("UTF-8")
    Bytes.putLe32(out, vb.length); out.write(vb)
    Bytes.putLe32(out, tags.length)
    tags.foreach { t =>
      val tb = t.getBytes("UTF-8")
      Bytes.putLe32(out, tb.length); out.write(tb)
    }
    out.toByteArray
  }

  /** Parse an "OpusTags" packet to (vendor, comments); None on bad
    * magic or any length running past the packet — never inventing
    * entries. */
  def parseOpusTags(pkt: Array[Byte]): Option[(String, Seq[String])] = {
    if (pkt.length < 16) return None
    if (new String(pkt, 0, 8, "US-ASCII") != "OpusTags") return None
    var p = 8
    def u32(): Long = { val v = Bytes.le32u(pkt, p); p += 4; v }
    if (p + 4 > pkt.length) return None
    val vl = u32()
    if (vl > pkt.length - p) return None
    val vendor = new String(pkt, p, vl.toInt, "UTF-8")
    p += vl.toInt
    if (p + 4 > pkt.length) return None
    val n = u32()
    if (n > (pkt.length - p) / 4) return None // each entry needs ≥4 bytes
    val tags = Seq.newBuilder[String]
    var i = 0L
    while (i < n) {
      if (p + 4 > pkt.length) return None
      val tl = u32()
      if (tl > pkt.length - p) return None
      tags += new String(pkt, p, tl.toInt, "UTF-8")
      p += tl.toInt
      i += 1
    }
    Some((vendor, tags.result()))
  }

  /** Reassemble PACKETS across pages (lacing 255 = continues, <255
    * ends; a packet may span pages via the continued flag). Returns
    * (packet bytes, granule of its final page). */
  def parsePackets(data: Array[Byte]): Seq[(Array[Byte], Long)] = {
    val out = ArrayBuffer.empty[(Array[Byte], Long)]
    var pending = new java.io.ByteArrayOutputStream()
    var p = 0
    for (page <- parsePages(data)) {
      val headLen = 27 + page.nSegs
      var off = p + headLen
      var j = 0
      while (j < page.nSegs) {
        val lace = data(p + 27 + j) & 0xff
        pending.write(data, off, lace)
        off += lace
        if (lace < 255) {
          out += ((pending.toByteArray, page.granule))
          pending = new java.io.ByteArrayOutputStream()
        }
        j += 1
      }
      p += headLen + page.payloadLen
    }
    out.toSeq
  }
}
