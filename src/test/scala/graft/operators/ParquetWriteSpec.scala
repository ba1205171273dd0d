package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** From-scratch parquet WRITER pins: files built by [[ParquetWrite]]
  * (Thrift compact footer, PLAIN v1 pages, RLE def levels) must read
  * back value-exactly through THREE independent readers — Spark's
  * parquet-mr path, our own [[ParquetData]] page walker, and the
  * [[ParquetFooter]] audit — across all six kinds, nulls, and all
  * three codecs. */
class ParquetWriteSpec extends AnyFunSuite with LocalSpark {

  private def mkCols(n: Int): Seq[ParquetWrite.WCol] = Seq(
    ParquetWrite.WCol("id", "i64", optional = false,
      (0 until n).map(i => Some(i.toLong))),
    ParquetWrite.WCol("i", "i32", optional = true,
      (0 until n).map(i =>
        if (i % 7 == 3) None else Some(i - 500))),
    ParquetWrite.WCol("f", "f32", optional = true,
      (0 until n).map(i =>
        if (i % 5 == 2) None else Some(i / 3f))),
    ParquetWrite.WCol("d", "f64", optional = false,
      (0 until n).map(i => Some(i * 0.25 - 3.0))),
    ParquetWrite.WCol("flag", "boolean", optional = true,
      (0 until n).map(i =>
        if (i % 11 == 7) None else Some(i % 3 == 0))),
    ParquetWrite.WCol("s", "string", optional = true,
      (0 until n).map(i =>
        if (i % 13 == 9) None else Some(s"v${i % 23}-é$i"))),
    ParquetWrite.WCol("b", "binary", optional = false,
      (0 until n).map(i =>
        Some(Array.tabulate[Byte](i % 6)(j => (i + j).toByte)))))

  test("Spark's own reader reads our files value-exactly, " +
    "all codecs") {
    val n = 1500
    val cols = mkCols(n)
    for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd")) {
      val bytes = ParquetWrite.build(cols, codec)
      val tmp = java.nio.file.Files.createTempDirectory("graft_pw")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.parquet(fl.getAbsolutePath)
      assert(df.schema.fieldNames.toSeq ==
        Seq("id", "i", "f", "d", "flag", "s", "b"))
      assert(df.schema("s").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(df.schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == n, codec)
      (0 until n by 13).foreach { i =>
        val r = rows(i)
        assert(r.getLong(0) == i.toLong)
        assert(Option(r.get(1)).map(_.asInstanceOf[Int]) ==
          cols(1).values(i))
        assert(Option(r.get(2)).map(_.asInstanceOf[Float]) ==
          cols(2).values(i))
        assert(r.getDouble(3) == i * 0.25 - 3.0)
        assert(Option(r.get(4)).map(_.asInstanceOf[Boolean]) ==
          cols(4).values(i), s"$codec flag at $i")
        assert(Option(r.get(5)).map(_.asInstanceOf[String]) ==
          cols(5).values(i))
        assert(r.get(6).asInstanceOf[Array[Byte]].toSeq ==
          cols(6).values(i).get.asInstanceOf[Array[Byte]].toSeq)
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("our OWN page walker and footer audit read our files") {
    val n = 800
    val cols = mkCols(n)
    for (codec <- Seq("snappy", "gzip", "zstd")) {
      val bytes = ParquetWrite.build(cols, codec)
      val foot = ParquetFooter.parse(bytes)
        .getOrElse(fail("our footer reader rejected our file"))
      assert(foot.numRows == n)
      assert(foot.rowGroups.length == 1)
      assert(foot.rowGroups.head.columns.map(_.path) ==
        Seq("id", "i", "f", "d", "flag", "s", "b"))
      val (leaves, vals) = ParquetData.decodeFile(bytes)
        .getOrElse(fail("our page walker rejected our file"))
      assert(leaves.map(_.name) ==
        Seq("id", "i", "f", "d", "flag", "s", "b"))
      (0 until n by 17).foreach { i =>
        assert(vals(0)(i).contains(i.toLong))
        assert(vals(1)(i).map {
          case l: Long => l.toInt
          case x: Int => x
        } == cols(1).values(i))
        assert(vals(4)(i) == cols(4).values(i), s"flag at $i")
        assert(vals(5)(i).map(v => new String(
          v.asInstanceOf[Array[Byte]], "UTF-8")) ==
          cols(5).values(i))
      }
    }
  }

  test("writer rejections: ragged lengths, nulls in required, " +
    "unknown kinds") {
    import ParquetWrite.WCol
    intercept[IllegalArgumentException](ParquetWrite.build(Seq(
      WCol("a", "i64", optional = false, IndexedSeq(Some(1L))),
      WCol("b", "i64", optional = false, IndexedSeq()))))
    intercept[IllegalArgumentException](ParquetWrite.build(Seq(
      WCol("a", "i64", optional = false, IndexedSeq(None)))))
    intercept[RuntimeException](ParquetWrite.build(Seq(
      WCol("a", "i128", optional = false, IndexedSeq(Some(1L))))))
  }

  test("RLE/bit-packed hybrid: runs collapse to RLE, mixed values " +
    "bit-pack, groups cap at 63 (r14)") {
    // 16 × 3 at width 2: one RLE run — varint(16<<1), value byte
    assert(ParquetWrite.rleHybrid(
      IndexedSeq.fill(16)(3), 2).toSeq == Seq[Byte](32, 3))
    // 8 alternating bits: one bit-packed group — header (1<<1)|1,
    // LSB-first 01010101... = 0xAA
    assert(ParquetWrite.rleHybrid(
      IndexedSeq.tabulate(8)(_ % 2), 1).toSeq ==
      Seq[Byte](3, 0xAA.toByte))
    // 63-group cap: 520 distinct-ish values at width 1 → two
    // bit-packed headers (63 groups + 2 groups)
    val many = IndexedSeq.tabulate(520)(i => (i / 2) % 2)
    val enc = ParquetWrite.rleHybrid(many, 1)
    assert((enc(0) & 1) == 1 && (enc(0) >> 1) == 63)
    val second = 1 + 63
    assert((enc(second) & 1) == 1 && (enc(second) >> 1) == 2)
  }

  test("dictionary-encoded columns read back through all three " +
    "readers; footer carries the dict encoding (r14)") {
    import ParquetWrite.WCol
    val n = 1200
    val langs = Seq("en", "de", "fr", "pt", "ja")
    val cols = Seq(
      WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      WCol("lang", "string", optional = true,
        (0 until n).map(i =>
          if (i % 11 == 6) None else Some(langs(i % 5)))),
      WCol("bucket", "i64", optional = false,
        (0 until n).map(i => Some((i % 7).toLong))),
      WCol("allnull", "string", optional = true,
        (0 until n).map(_ => None: Option[Any])))
    for (codec <- Seq("uncompressed", "snappy", "gzip", "zstd")) {
      val bytes = ParquetWrite.build(cols, codec,
        dict = Set("lang", "bucket", "allnull"))
      // footer: dict chunks advertise PLAIN_DICTIONARY + a dict
      // page offset; plain chunks don't
      val foot = ParquetFooter.parse(bytes).getOrElse(
        fail("footer rejected"))
      val byName = foot.rowGroups.head.columns
        .map(c => c.path -> c).toMap
      assert(byName("lang").encodings.contains(2))
      assert(byName("lang").dictPageOffset.isDefined)
      assert(byName("id").dictPageOffset.isEmpty)
      // our own page walker
      val (leaves, vals) = ParquetData.decodeFile(bytes).getOrElse(
        fail("page walker rejected dict file"))
      assert(leaves.map(_.name) ==
        Seq("id", "lang", "bucket", "allnull"))
      (0 until n by 7).foreach { i =>
        assert(vals(1)(i).map(v => new String(
          v.asInstanceOf[Array[Byte]], "UTF-8")) ==
          cols(1).values(i))
        assert(vals(2)(i).contains((i % 7).toLong))
        assert(vals(3)(i).isEmpty)
      }
      // parquet-mr
      val tmp = java.nio.file.Files.createTempDirectory("graft_pwd")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val rows = spark.read.parquet(fl.getAbsolutePath)
        .collect().sortBy(_.getLong(0))
      assert(rows.length == n, codec)
      (0 until n by 13).foreach { i =>
        assert(Option(rows(i).get(1)) == cols(1).values(i))
        assert(rows(i).getLong(2) == (i % 7).toLong)
        assert(rows(i).get(3) == null)
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("oversized dictionaries fall back to PLAIN (width cap) " +
    "(r14)") {
    import ParquetWrite.WCol
    val n = 70000 // > 2^16 distinct values
    val cols = Seq(
      WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      WCol("s", "string", optional = false,
        (0 until n).map(i => Some(s"unique-$i"))))
    val bytes = ParquetWrite.build(cols, "snappy",
      dict = Set("s"))
    val foot = ParquetFooter.parse(bytes).getOrElse(
      fail("footer rejected"))
    val sCol = foot.rowGroups.head.columns.find(_.path == "s").get
    assert(sCol.dictPageOffset.isEmpty, "fallback did not engage")
    val (_, vals) = ParquetData.decodeFile(bytes).getOrElse(
      fail("page walker rejected the fallback file"))
    assert(vals(1)(12345).map(v => new String(
      v.asInstanceOf[Array[Byte]], "UTF-8")).contains("unique-12345"))
  }

  test("3-level LIST columns: null list / empty list / null " +
    "element round-trip via parquet-mr AND decodeFileDeep (r14)") {
    import ParquetWrite.{WCol, WListCol}
    val n = 900
    val toks: IndexedSeq[Option[Seq[Option[Any]]]] =
      (0 until n).map { i =>
        if (i % 7 == 3) None
        else if (i % 5 == 4) Some(Seq.empty)
        else Some((0 until (i % 4) + 1).map(j =>
          if ((i + j) % 9 == 8) None
          else Some((i.toLong * 10 + j): Any)))
      }
    val words: IndexedSeq[Option[Seq[Option[Any]]]] =
      (0 until n).map { i =>
        if (i % 6 == 5) None
        else Some((0 until i % 3).map(j =>
          Some(s"w${(i + j) % 13}": Any)))
      }
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      WListCol("toks", "i64", optional = true,
        elemOptional = true, toks),
      WListCol("words", "string", optional = true,
        elemOptional = false, words))
    for (codec <- Seq("uncompressed", "snappy", "gzip")) {
      val bytes = ParquetWrite.build(cols, codec,
        dict = Set("words"))
      // parquet-mr surfaces real array columns
      val tmp = java.nio.file.Files.createTempDirectory("graft_pwl")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.parquet(fl.getAbsolutePath)
      assert(df.schema("toks").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true))
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == n, codec)
      (0 until n).foreach { i =>
        val got = Option(rows(i).get(1)).map(
          _.asInstanceOf[scala.collection.Seq[Any]]
            .toSeq.map(Option(_)))
        assert(got == toks(i).map(_.map(_.map(_.asInstanceOf[Any]))),
          s"toks at $i ($codec)")
        val gotW = Option(rows(i).get(2)).map(
          _.asInstanceOf[scala.collection.Seq[Any]]
            .toSeq.map(Option(_)))
        assert(gotW == words(i), s"words at $i ($codec)")
      }
      fl.delete(); tmp.toFile.delete()
      // our own deep decoder
      val (nodes, vals) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail("decodeFileDeep rejected our list file"))
      assert(nodes(1).isInstanceOf[ParquetData.DeepList])
      (0 until n by 11).foreach { i =>
        val got = vals(1)(i).map(_.asInstanceOf[Seq[Option[Any]]])
        assert(got == toks(i), s"deep toks at $i")
        val gotW = vals(2)(i)
          .map(_.asInstanceOf[Seq[Option[Any]]]
            .map(_.map(b => new String(
              b.asInstanceOf[Array[Byte]], "UTF-8"))))
        assert(gotW == words(i), s"deep words at $i")
      }
    }
  }

  test("MULTIPLE row groups: dict + list chunks per group read " +
    "back everywhere (r14)") {
    import ParquetWrite.{WCol, WListCol}
    val n = 1000
    val langs = Seq("en", "de", "fr")
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      WCol("lang", "string", optional = true,
        (0 until n).map(i =>
          if (i % 11 == 6) None else Some(langs(i % 3)))),
      WListCol("xs", "i64", optional = true, elemOptional = true,
        (0 until n).map { i =>
          if (i % 7 == 3) None
          else Some((0 until i % 3).map(j =>
            if ((i + j) % 5 == 4) None
            else Some((i * 100 + j).toLong: Any)))
        }))
    val bytes = ParquetWrite.build(cols, "snappy",
      dict = Set("lang"), rowsPerGroup = 300)
    val foot = ParquetFooter.parse(bytes).getOrElse(
      fail("footer rejected"))
    assert(foot.rowGroups.length == 4) // 300+300+300+100
    assert(foot.rowGroups.map(_.numRows) == Seq(300L, 300L, 300L,
      100L))
    assert(foot.numRows == n)
    // every group's lang chunk has its own dictionary page
    assert(foot.rowGroups.forall(
      _.columns.find(_.path == "lang").get.dictPageOffset.isDefined))
    // our deep decoder concatenates the groups
    val (_, vals) = ParquetData.decodeFileDeep(bytes).getOrElse(
      fail("decodeFileDeep rejected the multi-group file"))
    (0 until n by 37).foreach { i =>
      assert(vals(0)(i).contains(i.toLong), s"id at $i")
    }
    // parquet-mr
    val tmp = java.nio.file.Files.createTempDirectory("graft_pwg")
    val fl = new java.io.File(tmp.toFile, "x.parquet")
    java.nio.file.Files.write(fl.toPath, bytes)
    val rows = spark.read.parquet(fl.getAbsolutePath)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == n)
    (0 until n by 13).foreach { i =>
      assert(Option(rows(i).get(1)) ==
        cols(1).asInstanceOf[WCol].values(i), s"lang at $i")
    }
    fl.delete(); tmp.toFile.delete()
  }

  test("flat STRUCT columns: null struct / null field round-trip " +
    "via parquet-mr AND decodeFileDeep (r14)") {
    import ParquetWrite.{WCol, WStructCol}
    val n = 800
    val sv: IndexedSeq[Option[Seq[Option[Any]]]] =
      (0 until n).map { i =>
        if (i % 11 == 6) None
        else Some(Seq(
          Some(i.toLong * 3),
          if (i % 5 == 2) None else Some(s"n$i"),
          Some(i * 0.5)))
      }
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      WStructCol("st", optional = true,
        Seq(("a", "i64", false), ("b", "string", true),
          ("c", "f64", false)), sv))
    for (codec <- Seq("uncompressed", "snappy")) {
      val bytes = ParquetWrite.build(cols, codec,
        rowsPerGroup = 300)
      // parquet-mr
      val tmp = java.nio.file.Files.createTempDirectory("graft_pws")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.parquet(fl.getAbsolutePath)
      assert(df.schema("st").dataType.isInstanceOf[
        org.apache.spark.sql.types.StructType])
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == n, codec)
      (0 until n).foreach { i =>
        val got = Option(rows(i).get(1)).map { r0 =>
          val r = r0.asInstanceOf[org.apache.spark.sql.Row]
          Seq(Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))
        }
        assert(got == sv(i).map(_.map(_.map(_.asInstanceOf[Any]))),
          s"st at $i ($codec)")
      }
      fl.delete(); tmp.toFile.delete()
      // our deep decoder
      val (nodes, vals) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail("decodeFileDeep rejected our struct file"))
      assert(nodes(1).isInstanceOf[ParquetData.DeepStruct])
      (0 until n by 7).foreach { i =>
        val got = vals(1)(i).map(
          _.asInstanceOf[Seq[Option[Any]]].map(_.map {
            case b: Array[Byte] => new String(b, "UTF-8")
            case x => x
          }))
        assert(got == sv(i), s"deep st at $i ($codec)")
      }
    }
    // rejections: null struct in required col, null required field
    intercept[IllegalArgumentException](ParquetWrite.build(Seq(
      WStructCol("s", optional = false, Seq(("a", "i64", false)),
        IndexedSeq(None)))))
    intercept[IllegalArgumentException](ParquetWrite.build(Seq(
      WStructCol("s", optional = true, Seq(("a", "i64", false)),
        IndexedSeq(Some(Seq(None)))))))
  }

  test("MAP columns: null map / empty map / null value round-trip " +
    "via parquet-mr AND decodeFileDeep (late r14)") {
    val n = 500
    val maps: IndexedSeq[Option[Seq[(Any, Option[Any])]]] =
      (0 until n).map { i =>
        if (i % 7 == 3) None
        else if (i % 5 == 4) Some(Seq.empty)
        else Some((0 until (i % 3) + 1).map { j =>
          (s"k${(i + j) % 11}": Any,
            if ((i + j) % 9 == 8) None
            else Some((i.toLong * 10 + j): Any))
        })
      }
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      ParquetWrite.WMapCol("m", "string", "i64", optional = true,
        valueOptional = true, values = maps))
    for ((codec, rpg) <- Seq(("snappy", Int.MaxValue),
      ("gzip", 120))) {
      val bytes = ParquetWrite.build(cols, codec, rowsPerGroup = rpg)
      val tmp = java.nio.file.Files.createTempDirectory("graft_pwm")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.parquet(fl.getAbsolutePath)
      import org.apache.spark.sql.types._
      assert(df.schema("m").dataType ==
        MapType(StringType, LongType, valueContainsNull = true))
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == n)
      (0 until n).foreach { i =>
        val g = Option(rows(i).get(1)).map(
          _.asInstanceOf[scala.collection.Map[Any, Any]]
            .toSeq.map { case (k, v) => (k, Option(v)) }
            .sortBy(_._1.toString))
        val want = maps(i).map(_.sortBy(_._1.toString))
        assert(g == want, s"spark map at $i ($codec)")
      }
      // our own deep walker: each entry row Some(Seq(key, value)),
      // string keys surfaced as raw BYTE_ARRAYs — stringify them
      val (_, deepCols) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail("decodeFileDeep rejected the map file"))
      (0 until n).foreach { i =>
        val want = maps(i).map(_.map { case (k, v) =>
          Some(Seq(Some(k), v): Seq[Option[Any]]): Option[Any]
        }: Seq[Option[Any]])
        val got = deepCols(1)(i).map(
          _.asInstanceOf[Seq[Option[Any]]].map(_.map { entry =>
            entry.asInstanceOf[Seq[Option[Any]]].map(_.map {
              case b: Array[Byte] => new String(b, "UTF-8")
              case x => x
            })
          }))
        assert(got == want, s"deep map at $i ($codec)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("LIST<STRUCT> columns: null list / empty / null element / " +
    "null field round-trip via parquet-mr AND decodeFileDeep " +
    "(late r14)") {
    val n = 400
    val anns: IndexedSeq[Option[Seq[Option[Seq[Option[Any]]]]]] =
      (0 until n).map { i =>
        if (i % 7 == 3) None
        else if (i % 5 == 4) Some(Seq.empty)
        else Some((0 until (i % 3) + 1).map { j =>
          if ((i + j) % 11 == 10) None
          else Some(Seq(
            Some((i.toLong * 10 + j): Any),
            if ((i + j) % 4 == 3) None
            else Some(s"t${(i + j) % 6}": Any)))
        })
      }
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      ParquetWrite.WListStructCol("anns", optional = true,
        elemOptional = true,
        fields = Seq(("pos", "i64", false), ("tag", "string", true)),
        values = anns))
    for ((codec, rpg) <- Seq(("snappy", Int.MaxValue),
      ("zstd", 90))) {
      val bytes = ParquetWrite.build(cols, codec, rowsPerGroup = rpg)
      val tmp = java.nio.file.Files.createTempDirectory("graft_pwls")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.parquet(fl.getAbsolutePath)
      import org.apache.spark.sql.types._
      // nullability flags aside (parquet-mr hoists nullability
      // through nullable containers), names and types must match
      df.schema("anns").dataType match {
        case ArrayType(st: StructType, true) =>
          assert(st.fields.map(f => (f.name, f.dataType)).toSeq ==
            Seq(("pos", LongType), ("tag", StringType)))
        case other => fail(s"anns type $other")
      }
      val rows = df.collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        val g = Option(rows(i).get(1)).map(
          _.asInstanceOf[scala.collection.Seq[Any]].toSeq.map(e =>
            Option(e).map { r0 =>
              val r = r0.asInstanceOf[org.apache.spark.sql.Row]
              Seq(Option(r.get(0)), Option(r.get(1)))
            }))
        assert(g == anns(i), s"spark anns at $i ($codec)")
      }
      // our own deep walker, string fields as raw BYTE_ARRAYs
      val (_, deepCols) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail("decodeFileDeep rejected list<struct>"))
      (0 until n).foreach { i =>
        val got = deepCols(1)(i).map(
          _.asInstanceOf[Seq[Option[Any]]].map(_.map { st =>
            st.asInstanceOf[Seq[Option[Any]]].map(_.map {
              case b: Array[Byte] => new String(b, "UTF-8")
              case x => x
            })
          }))
        assert(got == anns(i), s"deep anns at $i ($codec)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("RICH logical kinds ts/date/decimal round-trip via " +
    "parquet-mr AND our raw page walker (late r14)") {
    val n = 600
    val micros = (0 until n).map { i =>
      if (i % 13 == 2) None
      // pre-1970 for i < 500 — negative micros, the sign-sensitive
      // edge orc-core needed a quirk for; parquet is plain i64
      else Some((i - 500L) * 86400000000L + (i % 7) * 123457L)
    }
    val days = (0 until n).map { i =>
      if (i % 17 == 5) None else Some(i - 400)
    }
    val amts = (0 until n).map { i =>
      if (i % 7 == 1) None
      else Some(java.math.BigDecimal.valueOf(i * 12345L - 99L, 3))
    }
    val cols = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      ParquetWrite.WCol("ts", "ts", optional = true,
        micros.map(_.map(v => v: Any))),
      ParquetWrite.WCol("day", "date", optional = true,
        days.map(_.map(v => v: Any))),
      ParquetWrite.WCol("amt", "decimal(14,3)", optional = true,
        amts.map(_.map(v => v: Any))))
    for ((codec, rpg) <- Seq(("snappy", Int.MaxValue),
      ("zstd", 128))) {
      val bytes = ParquetWrite.build(cols, codec, rowsPerGroup = rpg)
      val tmp = java.nio.file.Files.createTempDirectory("graft_pwr")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.parquet(fl.getAbsolutePath)
      import org.apache.spark.sql.types._
      assert(df.schema("ts").dataType == TimestampType)
      assert(df.schema("day").dataType == DateType)
      assert(df.schema("amt").dataType == DecimalType(14, 3))
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == n)
      (0 until n by 7).foreach { i =>
        val r = rows(i)
        micros(i) match {
          case None => assert(r.isNullAt(1))
          case Some(us) =>
            // Timestamp.getTime is millis; compare at micros via
            // the internal epoch-micros round trip
            val got = r.getTimestamp(1)
            // floorDiv: getTime truncates toward zero pre-1970
            val gotUs = Math.floorDiv(got.getTime, 1000L) *
              1000000L + got.getNanos / 1000
            assert(gotUs == us, s"ts at $i")
        }
        days(i) match {
          case None => assert(r.isNullAt(2))
          case Some(d) =>
            assert(r.getDate(2).toLocalDate.toEpochDay == d.toLong,
              s"day at $i")
        }
        amts(i) match {
          case None => assert(r.isNullAt(3))
          case Some(a) =>
            assert(r.getDecimal(3).compareTo(a) == 0, s"amt at $i")
        }
      }
      // our own walker surfaces the raw physical values
      val (leaves, vals) = ParquetData.decodeFile(bytes)
        .getOrElse(fail("our page walker rejected the rich file"))
      assert(leaves.map(_.name) == Seq("id", "ts", "day", "amt"))
      val elems = ParquetFooter.parse(bytes).get.schemaElems
      assert(elems.find(_.name == "ts")
        .exists(_.convertedType == 10)) // TIMESTAMP_MICROS
      assert(elems.find(_.name == "day")
        .exists(_.convertedType == 6)) // DATE
      assert(elems.find(_.name == "amt")
        .exists(_.convertedType == 5)) // DECIMAL
      (0 until n by 11).foreach { i =>
        assert(vals(1)(i) == micros(i), s"raw micros at $i")
        assert(vals(2)(i).map {
          case l: Long => l.toInt
          case x: Int => x
        } == days(i), s"raw days at $i")
        assert(vals(3)(i).map {
          case l: Long => l
          case x: Int => x.toLong
        } == amts(i).map(_.unscaledValue.longValueExact),
          s"raw unscaled at $i")
      }
    }
  }

  test("DATA_PAGE_V2 + DELTA_BINARY_PACKED: v2 framing with bare " +
    "levels, delta ints, dict-in-v2 via parquet-mr AND our " +
    "walker (late r14)") {
    val n = 900
    val toks: IndexedSeq[Option[Seq[Option[Any]]]] =
      (0 until n).map { i =>
        if (i % 7 == 3) None
        else if (i % 5 == 4) Some(Seq.empty)
        else Some((0 until (i % 3) + 1).map(j =>
          if ((i + j) % 9 == 8) None
          else Some((i.toLong * 7 + j): Any)))
      }
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      // monotone-ish + jitter: exercises negative min-deltas
      ParquetWrite.WCol("seq", "i64", optional = true,
        (0 until n).map(i => if (i % 11 == 6) None
          else Some(i.toLong * 1000 - (i % 13) * 77))),
      ParquetWrite.WCol("small", "i32", optional = false,
        (0 until n).map(i => Some(i - 450))),
      ParquetWrite.WCol("lang", "string", optional = true,
        (0 until n).map(i => if (i % 13 == 9) None
          else Some(s"L${i % 7}"))),
      ParquetWrite.WListCol("toks", "i64", optional = true,
        elemOptional = true, toks))
    for (codec <- Seq("uncompressed", "snappy", "zstd")) {
      val bytes = ParquetWrite.build(cols, codec,
        dict = Set("lang"), rowsPerGroup = 400, pageVersion = 2,
        delta = Set("id", "seq", "small"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_pwv2")
      val fl = new java.io.File(tmp.toFile, "x.parquet")
      java.nio.file.Files.write(fl.toPath, bytes)
      val rows = spark.read.parquet(fl.getAbsolutePath)
        .collect().sortBy(_.getLong(0))
      assert(rows.length == n, codec)
      (0 until n by 7).foreach { i =>
        val r = rows(i)
        assert(Option(r.get(1)).map(_.asInstanceOf[Long]) ==
          (if (i % 11 == 6) None else Some(i.toLong * 1000 -
            (i % 13) * 77)), s"seq at $i ($codec)")
        assert(r.getInt(2) == i - 450, s"small at $i")
        assert(Option(r.get(3)) ==
          (if (i % 13 == 9) None else Some(s"L${i % 7}")),
          s"lang at $i")
        val gt = Option(r.get(4)).map(
          _.asInstanceOf[scala.collection.Seq[Any]]
            .toSeq.map(Option(_)))
        assert(gt == toks(i).map(_.map(_.map(_.asInstanceOf[Any]))),
          s"toks at $i")
      }
      // our own deep walker decodes the v2 pages + DELTA values
      // (the file carries a list column, so the flat walk defers)
      val (_, vals) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail(s"our walker rejected v2/$codec"))
      (0 until n by 11).foreach { i =>
        assert(vals(0)(i).contains(i.toLong), s"id at $i")
        assert(vals(2)(i).map {
          case l: Long => l.toInt
          case x: Int => x
        }.contains(i - 450), s"raw small at $i")
        assert(vals(4)(i) == toks(i), s"raw toks at $i")
      }
      fl.delete(); tmp.toFile.delete()
    }
    // INT32 modular arithmetic: extreme int deltas wrap to 32 bits
    // so every miniblock width stays <= 32 (Arrow C++ rejects
    // widths past the physical type width)
    locally {
      val ints = Seq(0, Int.MinValue, Int.MaxValue, -7, 1 << 30)
      val enc = ParquetWrite.deltaBinaryPackedEnc(
        ints.map(_.toLong), bits32 = true)
      // walk: varint(128) varint(4) varint(count) zig(first), then
      // per block zig(minDelta) + 4 width bytes
      var pos = 0
      def varint(): Long = {
        var v = 0L; var sh = 0; var done = false
        while (!done) {
          val x = enc(pos) & 0xff; pos += 1
          v |= (x & 0x7fL) << sh; sh += 7; done = (x & 0x80) == 0
        }
        v
      }
      assert(varint() == 128 && varint() == 4 &&
        varint() == ints.length)
      varint() // first value (zigzag)
      varint() // block min delta (zigzag)
      (0 until 4).foreach { k =>
        assert((enc(pos + k) & 0xff) <= 32,
          s"miniblock width ${enc(pos + k) & 0xff} exceeds 32")
      }
      // and the values still round-trip through our reader
      val cols3 = Seq(ParquetWrite.WCol("v", "i32",
        optional = false,
        ints.map(v => Some(v): Option[Any]).toIndexedSeq))
      val b3 = ParquetWrite.build(cols3, "uncompressed",
        pageVersion = 2, delta = Set("v"))
      val (_, got3) = ParquetData.decodeFile(b3).getOrElse(
        fail("i32 delta extremes rejected"))
      assert(got3(0).flatten.map {
        case l: Long => l.toInt
        case x: Int => x
      } == ints, s"i32 extremes: ${got3(0).flatten}")
    }
    // the DELTA encoder's byte form round-trips at width edges
    for (vs <- Seq(
      Seq.empty[Long], Seq(42L), (0 until 300).map(_.toLong * 3),
      Seq(Long.MaxValue - 2, Long.MinValue + 5, 0L, -1L,
        Long.MaxValue, Long.MinValue),
      (0 until 257).map(i => if (i % 2 == 0) 0L else 1L << 40))) {
      val enc = ParquetWrite.deltaBinaryPackedEnc(vs)
      val cols2 = Seq(ParquetWrite.WCol("v", "i64",
        optional = false, vs.map(v => Some(v): Option[Any])
          .toIndexedSeq))
      val b2 = ParquetWrite.build(cols2, "uncompressed",
        pageVersion = 2, delta = Set("v"))
      val (_, got) = ParquetData.decodeFile(b2)
        .getOrElse(fail(s"delta edge rejected (${vs.length})"))
      assert(got(0).flatten == vs, s"delta edge ${vs.take(3)}")
      assert(enc.length >= 4)
    }
  }

  test("BYTE_STREAM_SPLIT + DELTA_BYTE_ARRAY columns via " +
    "parquet-mr AND our walker (late r14)") {
    val n = 700
    def urlAt(i: Int): String = s"https://example.com/p/${i / 10}/doc-$i"
    def blobAt(i: Int): Array[Byte] =
      Array.tabulate((i % 5) + 1)(j => (i + j).toByte)
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      ParquetWrite.WCol("score", "f32", optional = true,
        (0 until n).map(i =>
          if (i % 9 == 5) None else Some(i * 0.25f - 30f))),
      ParquetWrite.WCol("emb", "f64", optional = false,
        (0 until n).map(i => Some(math.sin(i * 0.1) * 1e3))),
      // shared URL prefixes: the DELTA_BYTE_ARRAY sweet spot
      ParquetWrite.WCol("url", "string", optional = true,
        (0 until n).map(i =>
          if (i % 13 == 7) None else Some(urlAt(i)))),
      ParquetWrite.WCol("blob", "binary", optional = false,
        (0 until n).map(i => Some(blobAt(i): Any))))
    // Spark's VECTORIZED reader has no BYTE_STREAM_SPLIT decoder;
    // parquet-mr's own row reader (the non-vectorized path) does —
    // that's the independent reader this differential wants
    withConf("spark.sql.parquet.enableVectorizedReader" -> "false") {
      for ((codec, pv) <- Seq(("uncompressed", 1), ("snappy", 2),
        ("zstd", 2))) {
        val bytes = ParquetWrite.build(cols, codec, pageVersion = pv,
          split = Set("score", "emb"), deltaStr = Set("url", "blob"),
          rowsPerGroup = 300)
        val tmp = java.nio.file.Files.createTempDirectory("graft_pbss")
        val fl = new java.io.File(tmp.toFile, "x.parquet")
        java.nio.file.Files.write(fl.toPath, bytes)
        val rows = spark.read.parquet(fl.getAbsolutePath)
          .collect().sortBy(_.getLong(0))
        assert(rows.length == n, s"$codec v$pv")
        (0 until n by 7).foreach { i =>
          val r = rows(i)
          assert(Option(r.get(1)) ==
            (if (i % 9 == 5) None else Some(i * 0.25f - 30f)),
            s"score at $i ($codec v$pv)")
          assert(r.getDouble(2) == math.sin(i * 0.1) * 1e3,
            s"emb at $i")
          assert(Option(r.get(3)) ==
            (if (i % 13 == 7) None else Some(urlAt(i))),
            s"url at $i")
          assert(r.getAs[Array[Byte]](4).sameElements(blobAt(i)),
            s"blob at $i")
        }
        // our own flat walker decodes both new encodings
        val (_, vals) = ParquetData.decodeFile(bytes)
          .getOrElse(fail(s"our walker rejected split/deltaStr " +
            s"($codec v$pv)"))
        (0 until n by 11).foreach { i =>
          assert(vals(1)(i) ==
            (if (i % 9 == 5) None else Some(i * 0.25f - 30f)),
            s"raw score at $i")
          assert(vals(2)(i).contains(math.sin(i * 0.1) * 1e3),
            s"raw emb at $i")
          // the raw walker surfaces BYTE_ARRAY as bytes
          assert(vals(3)(i).map {
            case b: Array[Byte] => new String(b, "UTF-8")
            case x => x
          } == (if (i % 13 == 7) None else Some(urlAt(i))),
            s"raw url at $i")
          assert(vals(4)(i).exists {
            case b: Array[Byte] => b.sameElements(blobAt(i))
            case _ => false
          }, s"raw blob at $i")
        }
        fl.delete(); tmp.toFile.delete()
      }
    }
    // misdeclared encodings fail loud at the boundary
    intercept[IllegalArgumentException](ParquetWrite.build(
      Seq(ParquetWrite.WCol("s", "string", optional = false,
        IndexedSeq(Some("x")))), "uncompressed", split = Set("s")))
    intercept[IllegalArgumentException](ParquetWrite.build(
      Seq(ParquetWrite.WCol("f", "f32", optional = false,
        IndexedSeq(Some(1f)))), "uncompressed", deltaStr = Set("f")))
  }

  test("PAGE INDEX: ColumnIndex/OffsetIndex written per chunk, " +
    "read back by our walker AND consumed by parquet-mr's " +
    "filter path (late r14)") {
    val n = 900
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      ParquetWrite.WCol("name", "string", optional = true,
        (0 until n).map(i =>
          if (i % 11 == 4) None else Some(f"doc-$i%05d"))),
      ParquetWrite.WCol("score", "f64", optional = false,
        (0 until n).map(i => Some(i * 0.5))),
      // an all-null column: nullPages=true, empty bounds
      ParquetWrite.WCol("gone", "i32", optional = true,
        (0 until n).map(_ => None)),
      // NaN float: the ColumnIndex is omitted (spec-safe), the
      // OffsetIndex still present
      ParquetWrite.WCol("nanny", "f32", optional = false,
        (0 until n).map(i =>
          Some(if (i == 7) Float.NaN else i * 1f))),
      // bool + list: no ColumnIndex either
      ParquetWrite.WCol("flag", "boolean", optional = false,
        (0 until n).map(i => Some(i % 2 == 0))),
      ParquetWrite.WListCol("toks", "i64", optional = true,
        elemOptional = false,
        (0 until n).map(i => Some(Seq(Some(i.toLong: Any))))))
    val bytes = ParquetWrite.build(cols, "snappy",
      rowsPerGroup = 300)
    val foot = ParquetFooter.parse(bytes)
      .getOrElse(fail("our footer walk rejected the file"))
    assert(foot.rowGroups.length == 3)
    foot.rowGroups.zipWithIndex.foreach { case (rg, g) =>
      val byPath = rg.columns.map(c => c.path -> c).toMap
      // every chunk carries an OffsetIndex locating its one page
      rg.columns.foreach { c =>
        val oi = c.offsetIndex.getOrElse(
          fail(s"missing OffsetIndex on ${c.path} group $g"))
        val locs = ParquetFooter.parseOffsetIndex(bytes, oi)
          .getOrElse(fail(s"bad OffsetIndex on ${c.path}"))
        assert(locs.length == 1 && locs.head.firstRow == 0L)
        assert(locs.head.offset > 0 &&
          locs.head.offset + locs.head.compressedSize <= bytes.length)
      }
      // id: exact per-group i64 bounds
      val idCi = byPath("id").columnIndex.getOrElse(
        fail(s"missing ColumnIndex on id group $g"))
      val idx = ParquetFooter.parseColumnIndex(bytes, idCi)
        .getOrElse(fail("bad id ColumnIndex"))
      def le64(b: Array[Byte]): Long =
        (0 until 8).map(k => (b(k) & 0xffL) << (8 * k)).sum
      assert(!idx.nullPages.head)
      assert(le64(idx.minValues.head) == g * 300L)
      assert(le64(idx.maxValues.head) == g * 300L + 299L)
      assert(idx.nullCounts.contains(Seq(0L)))
      // name: string bounds + the real null count
      val nameIdx = ParquetFooter.parseColumnIndex(bytes,
        byPath("name").columnIndex.get).get
      val expectNulls = (g * 300 until (g + 1) * 300)
        .count(_ % 11 == 4).toLong
      assert(nameIdx.nullCounts.contains(Seq(expectNulls)))
      assert(new String(nameIdx.minValues.head, "UTF-8") ==
        f"doc-${(g * 300 until (g + 1) * 300).filter(_ % 11 != 4).min}%05d")
      // all-null column: nullPages=true with empty bounds
      val goneIdx = ParquetFooter.parseColumnIndex(bytes,
        byPath("gone").columnIndex.get).get
      assert(goneIdx.nullPages.head &&
        goneIdx.minValues.head.isEmpty)
      // the NaN float chunk (group 0 only) omits its ColumnIndex;
      // NaN-free groups of the same column keep theirs
      assert(byPath("nanny").columnIndex.isEmpty == (g == 0))
      // boolean / nested: never a ColumnIndex
      assert(byPath("flag").columnIndex.isEmpty)
      assert(rg.columns.find(_.path.contains("."))
        .forall(_.columnIndex.isEmpty))
    }
    // the spec's float-zero rule: a chunk holding both zeros must
    // publish min as -0.0 and max as +0.0 (byte-order consumers
    // could otherwise prune the numerically-equal other zero)
    locally {
      val zc = Seq(ParquetWrite.WCol("z", "f32", optional = false,
        IndexedSeq(Some(0f), Some(-0f), Some(0f))))
      val zb = ParquetWrite.build(zc, "uncompressed",
        bloom = Set("z"))
      val zf = ParquetFooter.parse(zb).get
      val zi = ParquetFooter.parseColumnIndex(zb,
        zf.rowGroups.head.columns.head.columnIndex.get).get
      def bits(b: Array[Byte]): Int =
        (0 until 4).map(k => (b(k) & 0xff) << (8 * k)).sum
      assert(bits(zi.minValues.head) ==
        java.lang.Float.floatToIntBits(-0f), "min must be -0.0")
      assert(bits(zi.maxValues.head) ==
        java.lang.Float.floatToIntBits(0f), "max must be +0.0")
      // the bloom answers for BOTH zero bit patterns
      val zbl = ParquetFooter.parseBloom(zb,
        zf.rowGroups.head.columns.head.bloomOffset.get).get
      def fh(f: Float): Long = {
        val b = new Array[Byte](4)
        val x = java.lang.Float.floatToIntBits(f)
        (0 until 4).foreach(k => b(k) = ((x >>> (8 * k)) & 0xff).toByte)
        Zstd.xxh64(b, 0, 4)
      }
      assert(zbl.mightContain(fh(0f)) && zbl.mightContain(fh(-0f)))
    }
    // parquet-mr CONSUMES the indexes: a pushed filter triggers
    // its column-index page filtering (enabled by default) — wrong
    // bounds would silently drop rows here
    val tmp = java.nio.file.Files.createTempDirectory("graft_pidx")
    val fl = new java.io.File(tmp.toFile, "x.parquet")
    java.nio.file.Files.write(fl.toPath, bytes)
    val df = spark.read.parquet(fl.getAbsolutePath)
    assert(df.filter("id >= 310 AND id < 590").count() == 280)
    assert(df.filter("name = 'doc-00421'").count() == 1)
    assert(df.filter("score > 440.0").count() == 19)
    assert(df.count() == n)
    fl.delete(); tmp.toFile.delete()
  }

  test("BLOOM FILTERS: bit-exact vs parquet-mr's " +
    "BlockSplitBloomFilter, probed by our reader, consumed by " +
    "parquet-mr equality filters (late r14)") {
    // 1. the bitset construction is byte-identical to parquet-mr's
    val rnd = new scala.util.Random(83)
    val hashes = Seq.fill(500)(rnd.nextLong())
    val numBytes = ParquetWrite.bloomNumBytes(hashes.length)
    val ours = ParquetWrite.bloomBuild(hashes, numBytes)
    val theirs = new org.apache.parquet.column.values.bloomfilter
      .BlockSplitBloomFilter(numBytes)
    hashes.foreach(theirs.insertHash)
    val theirBytes = new java.io.ByteArrayOutputStream()
    theirs.writeTo(theirBytes)
    assert(ours.sameElements(theirBytes.toByteArray),
      "bitset diverged from BlockSplitBloomFilter")
    // 2. a written file: our reader finds and probes the filters
    val n = 700
    val cols: Seq[ParquetWrite.AnyWCol] = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong * 13))),
      ParquetWrite.WCol("url", "string", optional = true,
        (0 until n).map(i =>
          if (i % 9 == 5) None else Some(s"https://h$i.example/p"))))
    val bytes = ParquetWrite.build(cols, "snappy",
      rowsPerGroup = 350, bloom = Set("id", "url"))
    val foot = ParquetFooter.parse(bytes).getOrElse(
      fail("footer rejected the bloom file"))
    foot.rowGroups.zipWithIndex.foreach { case (rg, g) =>
      rg.columns.foreach { c =>
        val off = c.bloomOffset.getOrElse(
          fail(s"missing bloom on ${c.path} group $g"))
        val bits = ParquetFooter.parseBloom(bytes, off).getOrElse(
          fail(s"bloom header rejected on ${c.path}"))
        val lo = g * 350
        val hi = math.min(lo + 350, n)
        if (c.path == "id") {
          (lo until hi).foreach { i =>
            assert(bits.mightContain(
              ParquetFooter.bloomHashLong(i.toLong * 13)),
              s"false negative id ${i * 13}")
          }
          val misses = (0 until 2000).count(k =>
            bits.mightContain(ParquetFooter.bloomHashLong(
              1000000L + k)))
          assert(misses < 2000 * 5 / 100, s"fpp too high: $misses")
        } else {
          (lo until hi).filter(_ % 9 != 5).foreach { i =>
            assert(bits.mightContain(ParquetFooter.bloomHashBinary(
              s"https://h$i.example/p".getBytes("UTF-8"))),
              s"false negative url $i")
          }
        }
      }
    }
    // 3. parquet-mr consumes them: equality predicates on values
    //    inside the min/max range force the bloom check — a false
    //    negative would silently drop the row group
    val tmp = java.nio.file.Files.createTempDirectory("graft_pblm")
    val fl = new java.io.File(tmp.toFile, "x.parquet")
    java.nio.file.Files.write(fl.toPath, bytes)
    val df = spark.read.parquet(fl.getAbsolutePath)
    assert(df.filter("id = 4550").count() == 1) // 350*13
    assert(df.filter("url = 'https://h421.example/p'").count() == 1)
    assert(df.filter("id = 4551").count() == 0) // in-range miss
    assert(df.count() == n)
    fl.delete(); tmp.toFile.delete()
  }

  test("an empty-but-valid file (0 rows) reads everywhere") {
    val cols = mkCols(0)
    val bytes = ParquetWrite.build(cols, "snappy")
    assert(ParquetFooter.parse(bytes).exists(_.numRows == 0))
    assert(ParquetData.decodeFile(bytes).exists(_._2
      .forall(_.isEmpty)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_pw0")
    val fl = new java.io.File(tmp.toFile, "x.parquet")
    java.nio.file.Files.write(fl.toPath, bytes)
    assert(spark.read.parquet(fl.getAbsolutePath).count() == 0)
    fl.delete(); tmp.toFile.delete()
  }
}
