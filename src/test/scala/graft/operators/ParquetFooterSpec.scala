package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** Parquet-footer pins: REAL files written by Spark's parquet-mr
  * path parse back with the right row counts, schema leaves,
  * codecs, encodings and row-group structure (a live differential
  * against the thrift compact serializer parquet-mr uses), codec
  * config changes surface, multi-row-group files walk, and
  * truncation/garbage fuzz never throws. */
class ParquetFooterSpec extends AnyFunSuite with LocalSpark {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/t"
  }

  private def onePart(dir: String): Array[Byte] = {
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.readAllBytes(f.toPath)
  }

  test("a Spark-written file parses: rows, leaves, codec, offsets") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("pqf")
    (0 until 1000).map(i => (i.toLong, s"v$i", i * 0.5))
      .toDF("id", "txt", "score").coalesce(1)
      .write.parquet(dir)
    val footer = ParquetFooter.parse(onePart(dir)).get
    assert(footer.numRows == 1000)
    assert(footer.schemaLeaves == Seq("id", "txt", "score"))
    assert(footer.createdBy.toLowerCase.contains("parquet"))
    assert(footer.rowGroups.map(_.numRows).sum == 1000)
    val cols = footer.rowGroups.head.columns
    assert(cols.map(_.path) == Seq("id", "txt", "score"))
    // spark default codec
    assert(cols.forall(c =>
      ParquetFooter.CodecNames(c.codecId) == "SNAPPY"))
    assert(cols.map(c =>
      ParquetFooter.TypeNames(c.typeId)) ==
      Seq("INT64", "BYTE_ARRAY", "DOUBLE"))
    assert(cols.forall(_.numValues == 1000))
    assert(cols.forall(_.totalCompressed > 0))
    assert(cols.forall(_.dataPageOffset > 0))
    assert(cols.forall(_.encodings.nonEmpty))
  }

  test("codec config surfaces; multi-row-group files walk") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("pqf_z")
    withConf("spark.sql.parquet.compression.codec" -> "zstd") {
      // tiny row-group size forces multiple groups in one file
      (0 until 20000).map(i => (i.toLong, "x" * 50))
        .toDF("id", "pad").coalesce(1)
        .write.option("parquet.block.size", 64 * 1024).parquet(dir)
    }
    val footer = ParquetFooter.parse(onePart(dir)).get
    assert(footer.numRows == 20000)
    assert(footer.rowGroups.length > 1, "expected multiple row groups")
    assert(footer.rowGroups.map(_.numRows).sum == 20000)
    footer.rowGroups.foreach { g =>
      assert(g.columns.map(_.path) == Seq("id", "pad"))
      assert(g.columns.forall(c =>
        ParquetFooter.CodecNames(c.codecId) == "ZSTD"))
      assert(g.totalByteSize > 0)
    }
    // per-column value counts tile the file
    assert(footer.rowGroups.flatMap(_.columns)
      .filter(_.path == "id").map(_.numValues).sum == 20000)
  }

  test("nested columns surface as dotted leaf paths") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("pqf_n")
    Seq((1L, (2L, "a"), Seq(1, 2)))
      .toDF("id", "sub", "xs").coalesce(1).write.parquet(dir)
    val footer = ParquetFooter.parse(onePart(dir)).get
    assert(footer.schemaLeaves.contains("id"))
    // struct leaves carry their own names; list leaves the element
    val paths = footer.rowGroups.head.columns.map(_.path)
    assert(paths.exists(_.startsWith("sub.")))
    assert(paths.exists(_.startsWith("xs.")))
  }

  test("page-index and bloom parsers survive mutation fuzz over " +
    "our writer's files (late r14)") {
    val n = 300
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      ParquetWrite.WCol("name", "string", optional = true,
        (0 until n).map(i =>
          if (i % 7 == 3) None else Some(s"v$i"))))
    val bytes = ParquetWrite.build(cols, "snappy",
      rowsPerGroup = 100, bloom = Set("id", "name"))
    val rnd = new scala.util.Random(0x91dc)
    (0 until 800).foreach { _ =>
      val bad = bytes.clone()
      bad(rnd.nextInt(bad.length)) = rnd.nextInt().toByte
      ParquetFooter.parse(bad).foreach { foot =>
        foot.rowGroups.foreach(_.columns.foreach { c =>
          c.offsetIndex.foreach(r =>
            ParquetFooter.parseOffsetIndex(bad, r): Unit)
          c.columnIndex.foreach(r =>
            ParquetFooter.parseColumnIndex(bad, r): Unit)
          c.bloomOffset.foreach(o =>
            ParquetFooter.parseBloom(bad, o).foreach(b =>
              b.mightContain(ParquetFooter.bloomHashLong(42L)): Unit))
        })
      }
    }
  }

  test("malformed footers reject, never throw") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("pqf_bad")
    Seq((1L, "x")).toDF("a", "b").coalesce(1).write.parquet(dir)
    val ok = onePart(dir)
    assert(ParquetFooter.parse(ok).isDefined)
    assert(ParquetFooter.parse(Array.emptyByteArray).isEmpty)
    assert(ParquetFooter.parse(ok.dropRight(1)).isEmpty)
    assert(ParquetFooter.parse(ok.drop(1)).isEmpty)
    val badLen = ok.clone()
    badLen(badLen.length - 5) = 0x7f // absurd footer length
    assert(ParquetFooter.parse(badLen).isEmpty)
    val rnd = new scala.util.Random(61)
    (0 until 300).foreach { _ =>
      val m = ok.clone()
      // mutate within the footer region
      val tail = math.min(m.length, 2000)
      m(m.length - 1 - rnd.nextInt(tail)) = rnd.nextInt().toByte
      ParquetFooter.parse(m)
    }
    (0 until 200).foreach { _ =>
      ParquetFooter.parse(
        Array.fill(rnd.nextInt(64))(rnd.nextInt().toByte))
    }
  }

  test("page index parses and matches parquet-mr's own readers") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("pqf_pi")
    (0 until 30000).map(i => (i.toLong, i * 0.25, s"s$i"))
      .toDF("id", "score", "txt").coalesce(1)
      .write.option("parquet.page.row.count.limit", 5000)
      .parquet(dir)
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val footer = ParquetFooter.parse(bytes).get
    val cols = footer.rowGroups.head.columns
    assert(cols.forall(_.offsetIndex.isDefined))
    assert(cols.forall(_.columnIndex.isDefined))

    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.getAbsolutePath),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val block = rdr.getFooter.getBlocks.get(0)
      import scala.jdk.CollectionConverters._
      block.getColumns.asScala.foreach { cc =>
        val mine = cols.find(_.path == cc.getPath.toDotString).get
        val oi = rdr.readOffsetIndex(cc)
        val pages = ParquetFooter
          .parseOffsetIndex(bytes, mine.offsetIndex.get).get
        assert(pages.length == oi.getPageCount)
        pages.zipWithIndex.foreach { case (p, i) =>
          assert(p.offset == oi.getOffset(i))
          assert(p.compressedSize == oi.getCompressedPageSize(i))
          assert(p.firstRow == oi.getFirstRowIndex(i))
        }
        // the row-count limit binds before the size limit here
        assert(pages.length == 6)
        assert(pages.map(_.firstRow) ==
          (0 until 6).map(_ * 5000L))
        val ci = rdr.readColumnIndex(cc)
        val mci = ParquetFooter
          .parseColumnIndex(bytes, mine.columnIndex.get).get
        assert(mci.nullPages ==
          ci.getNullPages.asScala.map(Boolean.unbox).toSeq)
        assert(mci.nullCounts.get ==
          ci.getNullCounts.asScala.map(Long.unbox).toSeq)
        def bb(x: java.nio.ByteBuffer): Seq[Byte] = {
          val a = new Array[Byte](x.remaining()); x.duplicate().get(a)
          a.toSeq
        }
        assert(mci.minValues.map(_.toSeq) ==
          ci.getMinValues.asScala.map(bb).toSeq)
        assert(mci.maxValues.map(_.toSeq) ==
          ci.getMaxValues.asScala.map(bb).toSeq)
      }
    } finally rdr.close()

    // decoded INT64/DOUBLE bounds reproduce the global min/max
    val idCol = cols.find(_.path == "id").get
    val ids = ParquetFooter
      .parseColumnIndex(bytes, idCol.columnIndex.get).get
    assert(ids.minValues.flatMap(ParquetFooter.boundI64).min == 0L)
    assert(ids.maxValues.flatMap(ParquetFooter.boundI64).max ==
      29999L)
    val scCol = cols.find(_.path == "score").get
    val scs = ParquetFooter
      .parseColumnIndex(bytes, scCol.columnIndex.get).get
    assert(scs.maxValues.flatMap(ParquetFooter.boundF64).max ==
      29999 * 0.25)
  }

  test("bloom probe is bit-exact vs parquet-mr's own filter") {
    import org.apache.parquet.column.values.bloomfilter.
      BlockSplitBloomFilter
    val bf = new BlockSplitBloomFilter(4096)
    val rnd = new scala.util.Random(62)
    val members = (0 until 2000).map(_ => rnd.nextLong())
    members.foreach(v => bf.insertHash(bf.hash(v)))
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    val mine = ParquetFooter.BloomBits(baos.toByteArray)
    // the hash itself agrees lane for lane
    (members.take(200) ++ Seq(0L, -1L, Long.MinValue)).foreach { v =>
      assert(ParquetFooter.bloomHashLong(v) == bf.hash(v))
    }
    // membership agrees on members AND on arbitrary probes
    members.foreach(v =>
      assert(mine.mightContain(ParquetFooter.bloomHashLong(v))))
    (0 until 5000).foreach { _ =>
      val h = rnd.nextLong()
      assert(mine.mightContain(h) == bf.findHash(h))
    }
  }

  test("a Spark-written bloom filter parses and probes") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("pqf_bl")
    (0 until 4000).map(i => (i * 3L, s"k${i * 3}"))
      .toDF("id", "key").coalesce(1)
      .write
      .option("parquet.bloom.filter.enabled#id", "true")
      .option("parquet.bloom.filter.enabled#key", "true")
      .parquet(dir)
    val bytes = onePart(dir)
    val footer = ParquetFooter.parse(bytes).get
    val idCol = footer.rowGroups.head.columns
      .find(_.path == "id").get
    assert(idCol.bloomOffset.isDefined)
    val bloom = ParquetFooter.parseBloom(bytes,
      idCol.bloomOffset.get).get
    // every present value answers true
    (0 until 4000).foreach { i =>
      assert(bloom.mightContain(
        ParquetFooter.bloomHashLong(i * 3L)))
    }
    // absent values answer mostly false (default FPP is 1%)
    val fp = (0 until 4000).count { i =>
      bloom.mightContain(ParquetFooter.bloomHashLong(i * 3L + 1))
    }
    assert(fp < 400, s"false-positive rate too high: $fp/4000")
    // the BYTE_ARRAY column probes over raw bytes
    val keyCol = footer.rowGroups.head.columns
      .find(_.path == "key").get
    val kb = ParquetFooter.parseBloom(bytes,
      keyCol.bloomOffset.get).get
    assert(kb.mightContain(ParquetFooter.bloomHashBinary(
      "k300".getBytes("UTF-8"))))
    val kfp = (0 until 2000).count { i =>
      kb.mightContain(ParquetFooter.bloomHashBinary(
        s"absent$i".getBytes("UTF-8")))
    }
    assert(kfp < 200)
    // fuzz: mutating the index/bloom regions never throws
    val rnd = new scala.util.Random(63)
    (0 until 300).foreach { _ =>
      val m = bytes.clone()
      m(rnd.nextInt(m.length)) = rnd.nextInt().toByte
      ParquetFooter.parse(m).foreach { f =>
        f.rowGroups.flatMap(_.columns).foreach { c =>
          c.offsetIndex.foreach(ParquetFooter.parseOffsetIndex(m, _))
          c.columnIndex.foreach(ParquetFooter.parseColumnIndex(m, _))
          c.bloomOffset.foreach(ParquetFooter.parseBloom(m, _))
        }
      }
    }
  }
}
