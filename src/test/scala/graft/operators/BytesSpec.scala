package graft.operators

import java.io.ByteArrayOutputStream

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Properties of the shared byte primitives in [[Bytes]]. */
class BytesSpec extends AnyFunSuite {
  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default.withMinSuccessfulTests(500), p)
    assert(r.passed, r.status)
  }

  /** `n` junk bytes, so every value lands at a random offset. */
  private def padded(n: Int): ByteArrayOutputStream = {
    val out = new ByteArrayOutputStream()
    (0 until n).foreach(i => out.write(0xa5 ^ i))
    out
  }
  private val pad = Gen.choose(0, 16)

  test("fixed-width writers and readers round-trip every Int at any offset") {
    check(forAll(Gen.choose(Int.MinValue, Int.MaxValue), pad) { (v, o) =>
      val out = padded(o)
      Bytes.putLe16(out, v); Bytes.putLe32(out, v)
      Bytes.putBe16(out, v); Bytes.putBe32(out, v)
      val b = out.toByteArray
      val arr = new Array[Byte](o + 12)
      Bytes.setBe16(arr, o, v); Bytes.setBe32(arr, o + 2, v)
      Bytes.setLe32(arr, o + 6, v)
      Bytes.le16(b, o) == (v & 0xffff) && Bytes.le32(b, o + 2) == v &&
        Bytes.le32u(b, o + 2) == (v & 0xffffffffL) &&
        Bytes.be16(b, o + 6) == (v & 0xffff) && Bytes.be32(b, o + 8) == v &&
        Bytes.be32u(b, o + 8) == (v & 0xffffffffL) &&
        Bytes.be16(arr, o) == (v & 0xffff) && Bytes.be32(arr, o + 2) == v &&
        Bytes.le32(arr, o + 6) == v
    })
  }

  test("fixed-width writers and readers round-trip every Long at any offset") {
    check(forAll(Gen.choose(Long.MinValue, Long.MaxValue), pad) { (v, o) =>
      val out = padded(o)
      Bytes.putLe64(out, v); Bytes.putBe64(out, v)
      val b = out.toByteArray
      val arr = new Array[Byte](o + 8)
      Bytes.setLe64(arr, o, v)
      Bytes.le64(b, o) == v && Bytes.be64(b, o + 8) == v &&
        Bytes.le64(arr, o) == v
    })
  }

  private def varintBytes(v: Long): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    Bytes.putVarint(out, v)
    out.toByteArray
  }

  test("LEB128 round-trips, including the 1- and 10-byte edges") {
    Seq(0L -> 1, 127L -> 1, 128L -> 2, Long.MaxValue -> 9, -1L -> 10)
      .foreach { case (v, n) =>
        val b = varintBytes(v)
        assert(b.length == n, s"$v")
        val c = new Bytes.Cursor(b)
        assert(c.varint() == v && c.ok && c.p == n, s"$v")
      }
    check(forAll(Gen.choose(Long.MinValue, Long.MaxValue), pad) { (v, o) =>
      val out = padded(o)
      Bytes.putVarint(out, v)
      val b = out.toByteArray
      val c = new Bytes.Cursor(b, o, b.length)
      c.varint() == v && c.ok && c.p == b.length
    })
  }

  test("zigzag is a bijection, Long.MinValue and Long.MaxValue included") {
    assert(Bytes.zigzag(0L) == 0L && Bytes.zigzag(-1L) == 1L &&
      Bytes.zigzag(1L) == 2L)
    assert(Bytes.zigzag(Long.MaxValue) == -2L) // 0xff..fe
    assert(Bytes.zigzag(Long.MinValue) == -1L) // 0xff..ff
    Seq(Long.MinValue, Long.MaxValue, 0L, -1L).foreach { v =>
      assert(Bytes.unzigzag(Bytes.zigzag(v)) == v)
      assert(Bytes.zigzag(Bytes.unzigzag(v)) == v)
    }
    check(forAll(Gen.choose(Long.MinValue, Long.MaxValue)) { v =>
      Bytes.unzigzag(Bytes.zigzag(v)) == v &&
        Bytes.zigzag(Bytes.unzigzag(v)) == v
    })
  }

  test("the bit writer then reader returns every value, widths 1-64") {
    val field = for {
      w <- Gen.choose(1, 64)
      v <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (w, v)
    check(forAll(Gen.listOf(field)) { fields =>
      val w = new Bytes.BitWriter
      fields.foreach { case (n, v) => w.write(v, n) }
      val bits = fields.map(_._1.toLong).sum
      val b = w.toByteArray
      val r = new Bytes.BitReader(b)
      b.length == (bits + 7) / 8 && fields.forall { case (n, v) =>
        val mask = if (n == 64) -1L else (1L << n) - 1
        r.read(n) == (v & mask)
      } && r.ok && r.bitPos == bits
    })
  }

  test("a truncated input sets the failure flag, returns 0 and never throws") {
    val varint = for {
      v <- Gen.choose(Long.MinValue, Long.MaxValue)
      b = varintBytes(v)
      cut <- Gen.choose(0, b.length - 1)
    } yield b.take(cut)
    check(forAll(varint) { b =>
      val c = new Bytes.Cursor(b)
      c.varint() == 0L && !c.ok && c.u8() == 0 && !c.ok
    })
    check(forAll(Gen.choose(0, 7), Gen.oneOf(2, 4, 8)) { (len, n) =>
      val c = new Bytes.Cursor(Array.fill[Byte](len)(-1))
      val v = n match {
        case 2 => c.le16().toLong
        case 4 => c.le32().toLong
        case _ => c.le64()
      }
      if (len >= n) v == (if (n == 2) 0xffffL else -1L) && c.ok
      else v == 0L && !c.ok && c.p == 0
    })
    check(forAll(Gen.choose(0, 8), Gen.choose(1, 64)) { (len, n) =>
      val r = new Bytes.BitReader(Array.fill[Byte](len)(-1))
      val fits = n <= 8 * len
      val v = r.read(n)
      val later = r.read(0)
      if (fits) r.ok && later == 0L
      else v == 0L && !r.ok && r.bitPos == 0 && later == 0L && !r.ok
    })
    // eleven continuation bytes: past the 64-bit ceiling
    val long = new Bytes.Cursor(Array.fill[Byte](11)(-1))
    assert(long.varint() == 0L && !long.ok)
  }

  test("the CRC-32 table matches the bitwise MSB-first register") {
    def bitwise(init: Int, b: Array[Byte]): Int = b.foldLeft(init) { (c0, x) =>
      var c = c0 ^ ((x & 0xff) << 24)
      (0 until 8).foreach(_ => c = if (c < 0) (c << 1) ^ 0x04c11db7 else c << 1)
      c
    }
    val check9 = "123456789".getBytes("US-ASCII")
    assert(Bytes.crc32Msb(-1, check9, 0, 9) == 0x0376e6e7) // CRC-32/MPEG-2
    assert(~Bytes.crc32Msb(-1, check9, 0, 9) == 0xfc891918) // CRC-32/BZIP2
    check(forAll(Gen.listOf(Gen.choose(-128, 127).map(_.toByte)),
        Gen.choose(Int.MinValue, Int.MaxValue)) { (xs, init) =>
      val b = xs.toArray
      Bytes.crc32Msb(init, b, 0, b.length) == bitwise(init, b)
    })
  }
}
