package graft

import org.scalatest.funsuite.AnyFunSuite

/** The codecs' byte primitives live in `operators/Bytes.scala`. With
  * comments and literals stripped, no other file under `operators/`
  * defines a fixed-width byte reader or writer, a LEB128 varint,
  * zigzag, an MSB-first bit reader or writer, or the CRC-32 table for
  * 0x04C11DB7 — except the format-specific primitives on `Allowed`,
  * each of which must still be there. */
class BytesGuardSpec extends AnyFunSuite {
  private val dir = "src/main/scala/graft/operators"

  /** (file, primitive) → why the format keeps its own. */
  private val Allowed = Map(
    ("Sqlite.scala", "varint") -> "SQLite's big-endian varint of 1-9 bytes",
    ("Sqlite.scala", "putVarint") -> "the writer of SQLite's varint",
    ("Xz.scala", "crc64") -> "XZ's CRC-64 block check",
    ("Flac.scala", "crc8") -> "FLAC's CRC-8 frame-header check",
    ("Flac.scala", "crc16") -> "FLAC's CRC-16 frame check",
    ("Zstd.scala", "FwdBits") -> "Zstd's forward bit stream",
    ("Zstd.scala", "RevBits") -> "Zstd's backward bit stream",
    ("ZstdEncode.scala", "BitW") -> "Zstd's backward bit stream, written",
    ("Jpeg.scala", "BitReader") -> "JPEG's 0xFF00 byte stuffing",
    ("Jpeg.scala", "BitWriter") -> "JPEG's 0xFF00 byte stuffing, written",
    ("Vp8l.scala", "BitReader") -> "VP8L's LSB-first bit order",
    ("Vp8l.scala", "BitWriter") -> "VP8L's LSB-first bit order, written")

  private val defLine = """^([ \t]*).*?\bdef\s+(\w+)""".r
  private val fixedName = ("(?i)(?:fb|w|r|rd|wr|put|get|read|write|set|fixed)?" +
    "(?:u|i|s|le|be)?(?:16|24|32|64)(?:le|be|u|s|b|out|in)?").r
  private val varName = ("(?i).*var(?:int|long).*|(?:read|write|put|get)var" +
    "|leb128|(?:un)?zig(?:zag)?|(?:un)?zz|crc.*").r
  private val shift = "<<|>>".r
  private val inline = Seq(
    "inline LEB128 writer" -> """>>>=\s*7\b""".r,
    "inline zigzag" -> """<<\s*1\s*\)\s*\^\s*\(\s*\w+\s*>>\s*63\b""".r,
    "inline unzigzag" -> """\^\s*-\s*\(\s*\w+\s*&\s*1L?\s*\)""".r,
    "CRC-32 table" -> "(?i)0x04c11db7".r)
  private val bitClass =
    """\bclass\s+(\w*Bit(?:Reader|Writer|R|W)|\w*(?:Fwd|Rev|In|Out)Bits)\b""".r

  /** The primitives one file defines: defs with a primitive's name
    * whose body shifts, bit I/O classes, and the inline idioms. */
  private def primitives(code: String): Set[String] = {
    val lines = code.split("\n", -1)
    def indent(l: String): Int = l.length - l.stripLeading.length
    val defs = lines.indices.flatMap { i =>
      defLine.findFirstMatchIn(lines(i)).collect {
        case m if fixedName.matches(m.group(2)) ||
            varName.matches(m.group(2)) =>
          val body = lines.iterator.drop(i + 1)
            .takeWhile(l => l.isBlank || indent(l) > m.group(1).length)
          (m.group(2), (Iterator(lines(i)) ++ body).mkString("\n"))
      }
    }.collect { case (name, body) if shift.findFirstIn(body).isDefined => name }
    val idioms = inline.collect {
      case (name, re) if re.findFirstIn(code).isDefined => name }
    (defs ++ idioms ++ bitClass.findAllMatchIn(code).map(_.group(1))).toSet
  }

  private lazy val found: Set[(String, String)] =
    ScalaSource.tree(dir).toSeq.flatMap { case (p, code) =>
      primitives(code).map(p.getFileName.toString -> _)
    }.toSet

  test("the detector recognises every primitive kind in Bytes.scala") {
    val own = found.collect { case ("Bytes.scala", n) => n }
    Seq("le32", "be64", "putLe32", "putVarint", "zigzag", "unzigzag",
      "BitReader", "BitWriter", "CRC-32 table").foreach { n =>
      assert(own.contains(n), s"$n not detected in Bytes.scala")
    }
  }

  test("operators/ defines byte primitives only in Bytes.scala") {
    val extra = found.filterNot { case (f, n) =>
      f == "Bytes.scala" || Allowed.contains((f, n)) }
    assert(extra.isEmpty, "use graft.operators.Bytes instead of: " +
      extra.toSeq.sorted.map { case (f, n) => s"$f: $n" }.mkString(", "))
  }

  test("every allowed format-specific primitive still exists") {
    val gone = Allowed.keySet -- found
    assert(gone.isEmpty, "drop from Allowed: " + gone.toSeq.sorted.mkString(", "))
  }
}
