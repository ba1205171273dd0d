package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** ORC tail pins: REAL files written by Spark's native ORC writer
  * parse back through OUR protobuf/chunked-stream readers and agree
  * with orc-core's own Reader on every footer fact (rows, codec,
  * schema, stripes, column statistics) across four compression
  * codecs; stripe footers list coherent stream directories; row
  * indexes reproduce analytic per-row-group min/max on a sorted
  * unique key; truncation/mutation fuzz never throws. */
class OrcTailSpec extends AnyFunSuite with LocalSpark {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/t"
  }

  private def onePart(dir: String): java.io.File =
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".orc")).head

  private def orcReader(f: java.io.File): org.apache.orc.Reader =
    org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      org.apache.orc.OrcFile.readerOptions(
        new org.apache.hadoop.conf.Configuration()))

  test("footer facts agree with orc-core across all four codecs") {
    val s = spark
    import s.implicits._
    Seq("zstd", "snappy", "zlib", "none").foreach { codec =>
      val dir = tmpDir(s"orc_$codec")
      (0 until 5000).map(i => (i.toLong, s"v$i", i * 0.5))
        .toDF("id", "txt", "score").coalesce(1)
        .write.option("compression", codec).orc(dir)
      val f = onePart(dir)
      val bytes = java.nio.file.Files.readAllBytes(f.toPath)
      val tail = OrcTail.parseTail(bytes).get
      val rdr = orcReader(f)
      try {
        assert(tail.numRows == rdr.getNumberOfRows)
        assert(tail.compressionName ==
          rdr.getCompressionKind.toString)
        import scala.jdk.CollectionConverters._
        // schema: root struct field names and child kinds
        assert(tail.types.head.kind == 12) // STRUCT
        assert(tail.types.head.fieldNames ==
          rdr.getSchema.getFieldNames.asScala.toSeq)
        assert(tail.types.head.subtypes.map(t =>
          OrcTail.TypeKindNames(tail.types(t).kind)) ==
          Seq("LONG", "STRING", "DOUBLE"))
        // stripes
        val theirs = rdr.getStripes.asScala.toSeq
        assert(tail.stripes.length == theirs.length)
        tail.stripes.zip(theirs).foreach { case (m, t) =>
          assert(m.offset == t.getOffset)
          assert(m.indexLength == t.getIndexLength)
          assert(m.dataLength == t.getDataLength)
          assert(m.footerLength == t.getFooterLength)
          assert(m.numRows == t.getNumberOfRows)
        }
        // file statistics, value-level
        val st = rdr.getStatistics
        assert(tail.fileStats.length == st.length)
        tail.fileStats.zipWithIndex.foreach { case (m, i) =>
          assert(m.numValues == st(i).getNumberOfValues)
        }
        val idIx = tail.types.head.subtypes(0)
        assert(tail.fileStats(idIx).ints.get ==
          OrcTail.IntStats(Some(0L), Some(4999L),
            Some((0L until 5000L).sum)))
        val scoreIx = tail.types.head.subtypes(2)
        assert(tail.fileStats(scoreIx).dbls.get.min.get == 0.0)
        assert(tail.fileStats(scoreIx).dbls.get.max.get == 4999 * 0.5)
        val txtIx = tail.types.head.subtypes(1)
        assert(tail.fileStats(txtIx).strs.get.min.get == "v0")
        assert(tail.fileStats(txtIx).strs.get.max.get == "v999")
        assert(tail.fileStats.forall(_.hasNull.contains(false)))
        // per-stripe stats cover every stripe
        assert(tail.stripeStats.length == tail.stripes.length)
        // stripe footer walks; stream lengths tile the stripe
        tail.stripes.foreach { stripe =>
          val sf = OrcTail.parseStripeFooter(bytes, stripe,
            tail.compression, tail.blockSize).get
          assert(sf.streams.nonEmpty)
          assert(sf.encodings.length == tail.types.length)
          assert(sf.streams.map(_.length).sum ==
            stripe.indexLength + stripe.dataLength)
        }
      } finally rdr.close()
    }
  }

  test("row index reproduces analytic per-group bounds") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("orc_ri")
    (0 until 25000).map(i => (i * 7L, i.toString))
      .toDF("sk", "txt").coalesce(1)
      .sortWithinPartitions("sk")
      .write.option("compression", "zstd")
      .option("orc.row.index.stride", "1000")
      .orc(dir)
    val f = onePart(dir)
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val tail = OrcTail.parseTail(bytes).get
    assert(tail.rowIndexStride == 1000)
    assert(tail.stripes.length == 1, "fixture must be one stripe")
    val stripe = tail.stripes.head
    val sf = OrcTail.parseStripeFooter(bytes, stripe,
      tail.compression, tail.blockSize).get
    val skCol = tail.types.head.subtypes(
      tail.types.head.fieldNames.indexOf("sk"))
    val entries = OrcTail.readRowIndex(bytes, stripe, sf, skCol,
      tail.compression, tail.blockSize).get
    assert(entries.length == 25)
    entries.zipWithIndex.foreach { case (e, g) =>
      assert(e.positions.nonEmpty)
      val is = e.stats.get.ints.get
      assert(is.min.get == g * 1000L * 7)
      assert(is.max.get == (g * 1000L + 999) * 7)
      assert(e.stats.get.numValues == 1000L)
    }
    // a column with no such stream rejects rather than inventing
    assert(OrcTail.readRowIndex(bytes, stripe, sf, 999,
      tail.compression, tail.blockSize).isEmpty)
  }

  test("row-index and bloom parsers survive mutation fuzz " +
    "(late r14)") {
    val n = 300
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WCol("name", "string", optional = true,
        (0 until n).map(i =>
          if (i % 7 == 3) None else Some(s"v$i"))))
    val bytes = OrcWrite.build(cols, "zlib", 100, "v2",
      bloom = Set("id", "name"))
    val rnd = new scala.util.Random(0x0b10)
    (0 until 800).foreach { _ =>
      val bad = bytes.clone()
      bad(rnd.nextInt(bad.length)) = rnd.nextInt().toByte
      // every layer must reject-or-succeed, never throw
      OrcTail.parseTail(bad).foreach { t =>
        t.stripes.foreach { si =>
          OrcTail.parseStripeFooter(bad, si, t.compression,
            t.blockSize).foreach { sf =>
            (0 to 2).foreach { c =>
              OrcTail.readRowIndex(bad, si, sf, c, t.compression,
                t.blockSize)
              OrcTail.readBloomFilter(bad, si, sf, c,
                t.compression, t.blockSize).foreach(_.foreach(b =>
                b.mightContain(OrcTail.orcLongHash(42L)): Unit))
            }
          }
        }
      }
    }
  }

  test("malformed tails reject, never throw") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("orc_bad")
    (0 until 200).map(i => (i.toLong, s"x$i")).toDF("a", "b")
      .coalesce(1).write.orc(dir)
    val ok = java.nio.file.Files.readAllBytes(onePart(dir).toPath)
    assert(OrcTail.parseTail(ok).isDefined)
    assert(OrcTail.parseTail(Array.emptyByteArray).isEmpty)
    assert(OrcTail.parseTail(ok.drop(1)).isEmpty)
    assert(OrcTail.parseTail(ok.dropRight(1)).isEmpty)
    val rnd = new scala.util.Random(64)
    (0 until 400).foreach { _ =>
      val m = ok.clone()
      val tailSpan = math.min(m.length, 600)
      m(m.length - 1 - rnd.nextInt(tailSpan)) = rnd.nextInt().toByte
      OrcTail.parseTail(m).foreach { t =>
        t.stripes.foreach { stripe =>
          OrcTail.parseStripeFooter(m, stripe, t.compression,
            t.blockSize).foreach { sf =>
            t.types.indices.foreach(cix =>
              OrcTail.readRowIndex(m, stripe, sf, cix,
                t.compression, t.blockSize))
          }
        }
      }
    }
    (0 until 200).foreach { _ =>
      OrcTail.parseTail(
        Array.fill(rnd.nextInt(80))(rnd.nextInt().toByte))
    }
  }
}
