package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** From-scratch ORC writer pins: files built by [[OrcWrite]]
  * (protobuf tail via our own wire helpers, byte-RLE bitmaps,
  * RLEv1 integer runs, zlib chunk framing) must read back
  * value-exactly through Spark's own ORC reader AND our
  * [[OrcData]] decoder across kinds, nulls, codecs and stripe
  * splits. */
class OrcWriteSpec extends AnyFunSuite with LocalSpark {

  private def mkCols(n: Int): Seq[OrcWrite.WCol] = Seq(
    OrcWrite.WCol("id", "i64", optional = false,
      (0 until n).map(i => Some(i.toLong))),
    OrcWrite.WCol("i", "i32", optional = true,
      (0 until n).map(i =>
        if (i % 7 == 3) None else Some(i - 500))),
    OrcWrite.WCol("f", "f32", optional = true,
      (0 until n).map(i =>
        if (i % 5 == 2) None else Some(i / 3f))),
    OrcWrite.WCol("d", "f64", optional = false,
      (0 until n).map(i => Some(i * 0.25 - 3.0))),
    OrcWrite.WCol("flag", "boolean", optional = true,
      (0 until n).map(i =>
        if (i % 11 == 7) None else Some(i % 3 == 0))),
    OrcWrite.WCol("s", "string", optional = true,
      (0 until n).map(i =>
        if (i % 13 == 9) None else Some(s"v${i % 23}-é$i"))),
    OrcWrite.WCol("b", "binary", optional = false,
      (0 until n).map(i =>
        Some(Array.tabulate[Byte](i % 6)(j => (i + j).toByte)))))

  test("Spark's own ORC reader reads our files value-exactly, " +
    "both codecs + multi-stripe") {
    val n = 1500
    val cols = mkCols(n)
    for ((codec, rps) <- Seq(("none", Int.MaxValue),
      ("zlib", Int.MaxValue), ("zlib", 400),
      ("snappy", Int.MaxValue), ("zstd", 500))) {
      val bytes = OrcWrite.build(cols, codec, rps)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ow")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.orc(fl.getAbsolutePath)
      assert(df.schema.fieldNames.toSeq ==
        Seq("id", "i", "f", "d", "flag", "s", "b"))
      assert(df.schema("s").dataType ==
        org.apache.spark.sql.types.StringType)
      val rows = df.collect().sortBy(_.getLong(0))
      assert(rows.length == n, s"$codec/$rps")
      (0 until n by 13).foreach { i =>
        val r = rows(i)
        assert(r.getLong(0) == i.toLong)
        assert(Option(r.get(1)).map(_.asInstanceOf[Int]) ==
          cols(1).values(i), s"$codec/$rps i at $i")
        assert(Option(r.get(2)).map(_.asInstanceOf[Float]) ==
          cols(2).values(i))
        assert(r.getDouble(3) == i * 0.25 - 3.0)
        assert(Option(r.get(4)).map(_.asInstanceOf[Boolean]) ==
          cols(4).values(i), s"$codec/$rps flag at $i")
        assert(Option(r.get(5)).map(_.asInstanceOf[String]) ==
          cols(5).values(i))
        assert(r.get(6).asInstanceOf[Array[Byte]].toSeq ==
          cols(6).values(i).get.asInstanceOf[Array[Byte]].toSeq)
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("our OWN decoder reads our files (tail + stripes)") {
    val n = 900
    val cols = mkCols(n)
    for ((codec, rps) <- Seq(("zlib", Int.MaxValue),
      ("none", 250), ("snappy", 300), ("zstd", Int.MaxValue))) {
      val bytes = OrcWrite.build(cols, codec, rps)
      val tail = OrcTail.parseTail(bytes)
        .getOrElse(fail("our tail reader rejected our file"))
      assert(tail.numRows == n)
      if (rps < n) assert(tail.stripes.length == (n + rps - 1) / rps)
      val (leaves, vals) = OrcData.decodeFile(bytes)
        .getOrElse(fail("our stripe decoder rejected our file"))
      assert(leaves.map(_.name) ==
        Seq("id", "i", "f", "d", "flag", "s", "b"))
      (0 until n by 17).foreach { i =>
        assert(vals(0)(i).contains(i.toLong))
        assert(vals(1)(i).map(_.asInstanceOf[Long].toInt) ==
          cols(1).values(i))
        assert(vals(4)(i) == cols(4).values(i))
        assert(vals(5)(i) == cols(5).values(i))
      }
    }
  }

  test("RLEv2: short-repeat / fixed-delta / direct byte forms " +
    "pin, and every sub-encoding round-trips (r14)") {
    // 5 × 7 signed → SHORT_REPEAT: header (w-1)<<3 | (run-3),
    // value zigzag(7)=14 big-endian 1 byte
    assert(OrcWrite.intRleV2(Seq.fill(5)(7L), signed = true)
      .toSeq == Seq[Byte](2, 14))
    // 20 × 9 unsigned → fixed-delta DELTA: 0b11, w=0, len=20
    assert(OrcWrite.intRleV2(Seq.fill(20)(9L), signed = false)
      .toSeq == Seq[Byte](0xc0.toByte, 19, 9, 0))
    // mixed values → DIRECT (0b01 header)
    val direct = OrcWrite.intRleV2(Seq(1L, 5L, 2L, 7L), signed = false)
    assert((direct(0) & 0xc0) == 0x40)
    // a column concatenating all the patterns round-trips through
    // BOTH readers at rle=v2
    val vals: IndexedSeq[Long] =
      (IndexedSeq.fill(700)(42L) ++ // long run → DELTA chunks
        IndexedSeq.tabulate(600)(i => (i % 2).toLong) ++ // DIRECT
        IndexedSeq.fill(7)(-3L) ++ // SHORT_REPEAT (signed)
        IndexedSeq.tabulate(500)(i => i.toLong * 977 - 9999) ++
        IndexedSeq.fill(513)(Long.MaxValue - 1)) // 512+1 split
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        vals.indices.map(i => Some(i.toLong))),
      OrcWrite.WCol("v", "i64", optional = true,
        vals.indices.map(i =>
          if (i % 19 == 11) None else Some(vals(i)))))
    for (codec <- Seq("none", "zlib")) {
      val bytes = OrcWrite.build(cols, codec, 800, rle = "v2")
      val (_, got) = OrcData.decodeFile(bytes)
        .getOrElse(fail("our decoder rejected our v2 file"))
      vals.indices.foreach { i =>
        assert(got(1)(i) == cols(1).values(i), s"at $i ($codec)")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_ow2")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val rows = spark.read.orc(fl.getAbsolutePath)
        .collect().sortBy(_.getLong(0))
      vals.indices.foreach { i =>
        assert(Option(rows(i).get(1)) == cols(1).values(i),
          s"spark at $i ($codec)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("RLEv2 PATCHED_BASE: outlier segments emit 0b10 headers " +
    "and round-trip through BOTH readers (late r14)") {
    // ~8 huge outliers over small values: 95th-percentile width 7,
    // patches carry the high ~33 bits
    val pbVals = IndexedSeq.tabulate(400)(i =>
      if (i % 53 == 17) 1000000000000L + i
      else (i * 7 % 127).toLong)
    val encPb = OrcWrite.intRleV2(pbVals, signed = true)
    assert(((encPb(0) & 0xff) >>> 6) == 2, "expected a PB header")
    // negative min: the sign-magnitude base path
    val pbNeg = IndexedSeq.tabulate(300)(i =>
      if (i % 71 == 5) 800000000000L + i
      else (i * 11 % 211).toLong - 100)
    assert(((OrcWrite.intRleV2(pbNeg, signed = true)(0) & 0xff)
      >>> 6) == 2)
    // a 387-index gap between patches forces (255, 0) chaining
    val pbGap = IndexedSeq.tabulate(512)(i =>
      if (i == 3 || i == 390) 5000000000L else (i % 97).toLong)
    assert(((OrcWrite.intRleV2(pbGap, signed = true)(0) & 0xff)
      >>> 6) == 2)
    // smooth data must NOT flip to PB (no outliers past the
    // rounded width)
    val smooth = IndexedSeq.tabulate(500)(i => i.toLong * 977 - 9999)
    assert(((OrcWrite.intRleV2(smooth, signed = true)(0) & 0xff)
      >>> 6) == 1)
    // full files through Spark's orc-core AND our own decoder
    val all = pbVals ++ pbNeg ++ pbGap
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        all.indices.map(i => Some(i.toLong))),
      OrcWrite.WCol("v", "i64", optional = true,
        all.indices.map(i =>
          if (i % 23 == 9) None else Some(all(i)))))
    for (codec <- Seq("none", "zlib", "zstd")) {
      val bytes = OrcWrite.build(cols, codec, 600, rle = "v2")
      val (_, got) = OrcData.decodeFile(bytes)
        .getOrElse(fail(s"our decoder rejected the PB file ($codec)"))
      all.indices.foreach { i =>
        assert(got(1)(i) == cols(1).values(i), s"at $i ($codec)")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_opb")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val rows = spark.read.orc(fl.getAbsolutePath)
        .collect().sortBy(_.getLong(0))
      assert(rows.length == all.length)
      all.indices.foreach { i =>
        assert(Option(rows(i).get(1)) ==
          (if (i % 23 == 9) None else Some(all(i))),
          s"spark at $i ($codec)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("dictionary strings (v1 + v2): value-exact via Spark and " +
    "our decoder, and the dictionary actually engages (r14)") {
    val n = 1400
    val langs = Seq("en", "de", "fr", "pt", "ja", "ko", "zh")
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WCol("lang", "string", optional = true,
        (0 until n).map(i =>
          if (i % 11 == 6) None else Some(langs(i % 7)))))
    for (rle <- Seq("v1", "v2")) {
      val dictBytes = OrcWrite.build(cols, "none", 500, rle,
        dict = Set("lang"))
      val directBytes = OrcWrite.build(cols, "none", 500, rle)
      assert(dictBytes.length < directBytes.length,
        s"dictionary did not shrink the file ($rle)")
      val (_, got) = OrcData.decodeFile(dictBytes)
        .getOrElse(fail(s"our decoder rejected dict $rle"))
      (0 until n).foreach { i =>
        assert(got(1)(i) == cols(1).values(i), s"at $i ($rle)")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_owd")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, dictBytes)
      val rows = spark.read.orc(fl.getAbsolutePath)
        .collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        assert(Option(rows(i).get(1)) == cols(1).values(i),
          s"spark at $i ($rle)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("timestamp / date / decimal columns round-trip via Spark " +
    "and our decoder — incl. pre-1970 sub-second (r14)") {
    val n = 1000
    val micros: IndexedSeq[Long] = (0 until n).map {
      case i if i % 9 == 4 => -1500000L - i * 777L // pre-1970 frac
      case i if i % 9 == 7 => -2000000L * i // pre-1970 whole
      case i => 1600000000000000L + i * 1000003L
    }
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WCol("t", "ts", optional = true,
        (0 until n).map(i =>
          if (i % 13 == 2) None else Some(micros(i)))),
      OrcWrite.WCol("day", "date", optional = true,
        (0 until n).map(i =>
          if (i % 17 == 5) None else Some(18000 + i % 900 - 400))),
      OrcWrite.WCol("amt", "decimal(12,3)", optional = true,
        (0 until n).map(i =>
          if (i % 7 == 1) None
          else Some(java.math.BigDecimal.valueOf(
            i.toLong * 12345 - 999999, 3)))))
    for ((codec, rle) <- Seq(("zlib", "v1"), ("none", "v2"),
      ("zlib", "v2"))) {
      val bytes = OrcWrite.build(cols, codec, 300, rle)
      // our decoder: ts as micros, date as days, decimal exact
      val (_, got) = OrcData.decodeFile(bytes)
        .getOrElse(fail(s"our decoder rejected $codec/$rle"))
      (0 until n).foreach { i =>
        assert(got(1)(i) == cols(1).values(i), s"ts at $i ($rle)")
        assert(got(2)(i).map(_.asInstanceOf[Long].toInt) ==
          cols(2).values(i), s"day at $i ($rle)")
        assert(got(3)(i) == cols(3).values(i), s"amt at $i ($rle)")
      }
      // spark (session tz = UTC via build.sbt javaOptions)
      val tmp = java.nio.file.Files.createTempDirectory("graft_owt")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.orc(fl.getAbsolutePath)
      assert(df.schema("amt").dataType ==
        org.apache.spark.sql.types.DecimalType(12, 3))
      val rows = df.collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        val ts = Option(rows(i).get(1)).map { x =>
          val inst = x.asInstanceOf[java.sql.Timestamp].toInstant
          inst.getEpochSecond * 1000000L + inst.getNano / 1000L
        }
        assert(ts == cols(1).values(i), s"spark ts at $i ($rle)")
        val day = Option(rows(i).get(2)).map(
          _.asInstanceOf[java.sql.Date].toLocalDate
            .toEpochDay.toInt)
        assert(day == cols(2).values(i), s"spark day at $i ($rle)")
        val amt = Option(rows(i).get(3)).map(
          _.asInstanceOf[java.math.BigDecimal].setScale(3))
        assert(amt == cols(3).values(i), s"spark amt at $i ($rle)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("LIST columns: null list / empty list / null element " +
    "round-trip via Spark and our decoder, dict elements (r14)") {
    val n = 700
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
    val cols: Seq[OrcWrite.AnyWCol] = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WListCol("toks", "i64", optional = true,
        elemOptional = true, toks),
      OrcWrite.WListCol("words", "string", optional = true,
        elemOptional = false, words))
    for ((codec, rle, rps) <- Seq(("none", "v1", Int.MaxValue),
      ("zlib", "v2", 250), ("none", "v2", Int.MaxValue))) {
      val bytes = OrcWrite.build(cols, codec, rps, rle,
        dict = Set("words"))
      // our own decoder (lists surface through the deep walk)
      val (_, got) = OrcData.decodeFileDeep(bytes)
        .getOrElse(fail(s"our decoder rejected lists $codec/$rle"))
      (0 until n).foreach { i =>
        assert(got(1)(i) == toks(i), s"toks at $i ($rle)")
        assert(got(2)(i) == words(i), s"words at $i ($rle)")
      }
      // Spark's orc-core
      val tmp = java.nio.file.Files.createTempDirectory("graft_owl")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.orc(fl.getAbsolutePath)
      assert(df.schema("toks").dataType ==
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = true))
      val rows = df.collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        val gt = Option(rows(i).get(1)).map(
          _.asInstanceOf[scala.collection.Seq[Any]]
            .toSeq.map(Option(_)))
        assert(gt == toks(i).map(_.map(_.map(_.asInstanceOf[Any]))),
          s"spark toks at $i ($rle)")
        val gw = Option(rows(i).get(2)).map(
          _.asInstanceOf[scala.collection.Seq[Any]]
            .toSeq.map(Option(_)))
        assert(gw == words(i), s"spark words at $i ($rle)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("flat STRUCT columns: null struct / null field round-trip " +
    "via Spark and our decoder (late r14)") {
    val n = 600
    val pts: IndexedSeq[Option[Seq[Option[Any]]]] =
      (0 until n).map { i =>
        if (i % 7 == 3) None
        else Some(Seq(
          Some(i.toLong * 3),
          if (i % 5 == 4) None else Some(s"p${i % 17}"),
          Some(i % 2 == 0)))
      }
    val cols: Seq[OrcWrite.AnyWCol] = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WStructCol("pt", optional = true,
        fields = Seq(("x", "i64", false), ("tag", "string", true),
          ("on", "boolean", false)),
        values = pts))
    for ((codec, rle, rps) <- Seq(("zlib", "v1", Int.MaxValue),
      ("none", "v2", 130), ("snappy", "v2", Int.MaxValue))) {
      val bytes = OrcWrite.build(cols, codec, rps, rle)
      val (_, got) = OrcData.decodeFileDeep(bytes)
        .getOrElse(fail(s"our decoder rejected structs $codec/$rle"))
      (0 until n).foreach { i =>
        assert(got(1)(i) == pts(i), s"pt at $i ($rle)")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_ows")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.orc(fl.getAbsolutePath)
      import org.apache.spark.sql.types._
      assert(df.schema("pt").dataType == StructType(Seq(
        StructField("x", LongType),
        StructField("tag", StringType),
        StructField("on", BooleanType))))
      val rows = df.collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        val g = Option(rows(i).get(1)).map { r0 =>
          val r = r0.asInstanceOf[org.apache.spark.sql.Row]
          Seq(Option(r.get(0)), Option(r.get(1)), Option(r.get(2)))
        }
        assert(g == pts(i), s"spark pt at $i ($rle)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("MAP columns: null map / empty map / null value round-trip " +
    "via Spark and our decoder (late r14)") {
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
    val cols: Seq[OrcWrite.AnyWCol] = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WMapCol("m", "string", "i64", optional = true,
        valueOptional = true, values = maps))
    for ((codec, rle, rps) <- Seq(("zlib", "v2", Int.MaxValue),
      ("none", "v1", 120))) {
      val bytes = OrcWrite.build(cols, codec, rps, rle)
      // our decoder zips entries as Some(Seq(key, value)) rows
      val (_, got) = OrcData.decodeFileDeep(bytes)
        .getOrElse(fail(s"our decoder rejected maps $codec/$rle"))
      (0 until n).foreach { i =>
        val want = maps(i).map(_.map { case (k, v) =>
          Some(Seq(Some(k), v): Seq[Option[Any]]): Option[Any]
        }: Seq[Option[Any]])
        assert(got(1)(i) == want, s"map at $i ($rle)")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_owm")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.orc(fl.getAbsolutePath)
      import org.apache.spark.sql.types._
      assert(df.schema("m").dataType ==
        MapType(StringType, LongType, valueContainsNull = true))
      val rows = df.collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        val g = Option(rows(i).get(1)).map(
          _.asInstanceOf[scala.collection.Map[Any, Any]]
            .toSeq.map { case (k, v) => (k, Option(v)) }.sortBy(
              _._1.toString))
        val want = maps(i).map(_.sortBy(_._1.toString))
        assert(g == want, s"spark map at $i ($rle)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("LIST<STRUCT> columns: null list / empty / null element / " +
    "null field round-trip via Spark and our decoder (late r14)") {
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
    val cols: Seq[OrcWrite.AnyWCol] = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WListStructCol("anns", optional = true,
        elemOptional = true,
        fields = Seq(("pos", "i64", false), ("tag", "string", true)),
        values = anns))
    for ((codec, rle, rps) <- Seq(("zlib", "v2", Int.MaxValue),
      ("none", "v1", 90))) {
      val bytes = OrcWrite.build(cols, codec, rps, rle)
      val (_, got) = OrcData.decodeFileDeep(bytes)
        .getOrElse(fail(s"our decoder rejected list<struct> $rle"))
      (0 until n).foreach { i =>
        assert(got(1)(i) == anns(i), s"anns at $i ($rle)")
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_owls")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      val df = spark.read.orc(fl.getAbsolutePath)
      import org.apache.spark.sql.types._
      assert(df.schema("anns").dataType == ArrayType(StructType(Seq(
        StructField("pos", LongType),
        StructField("tag", StringType)))))
      val rows = df.collect().sortBy(_.getLong(0))
      (0 until n).foreach { i =>
        val g = Option(rows(i).get(1)).map(
          _.asInstanceOf[scala.collection.Seq[Any]].toSeq.map(e =>
            Option(e).map { r0 =>
              val r = r0.asInstanceOf[org.apache.spark.sql.Row]
              Seq(Option(r.get(0)), Option(r.get(1)))
            }))
        assert(g == anns(i), s"spark anns at $i ($rle)")
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("ROW INDEX: per-column statistics written per stripe, read " +
    "back by OrcTail AND consumed by orc-core's sarg path (late r14)") {
    val n = 900
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong))),
      OrcWrite.WCol("name", "string", optional = true,
        (0 until n).map(i =>
          if (i % 11 == 4) None else Some(f"doc-$i%05d"))),
      OrcWrite.WCol("score", "f64", optional = false,
        (0 until n).map(i => Some(i * 0.5))),
      OrcWrite.WCol("flag", "boolean", optional = false,
        (0 until n).map(i => Some(i % 3 == 0))))
    for ((codec, rle) <- Seq(("none", "v1"), ("zlib", "v2"),
      ("zstd", "v2"))) {
      val bytes = OrcWrite.build(cols, codec, 300, rle)
      // our own tail walk: stride, index streams, exact stats
      val tail = OrcTail.parseTail(bytes)
        .getOrElse(fail(s"tail rejected ($codec)"))
      assert(tail.rowIndexStride == 10000)
      assert(tail.stripes.length == 3)
      tail.stripes.zipWithIndex.foreach { case (si, g) =>
        assert(si.indexLength > 0, s"no index bytes in stripe $g")
        val sf = OrcTail.parseStripeFooter(bytes, si,
          tail.compression, tail.blockSize)
          .getOrElse(fail(s"stripe footer rejected ($codec/$g)"))
        // index streams lead the stream list, one per column
        assert(sf.streams.take(5).forall(_.kind == 6))
        // column 1 = id: one entry, exact i64 bounds per stripe
        val idIdx = OrcTail.readRowIndex(bytes, si, sf, 1,
          tail.compression, tail.blockSize)
          .getOrElse(fail(s"id row index rejected ($codec/$g)"))
        assert(idIdx.length == 1)
        val idStats = idIdx.head.stats.getOrElse(
          fail("id entry lacks statistics"))
        assert(idStats.numValues == 300L)
        assert(idStats.hasNull.contains(false))
        assert(idStats.ints.exists(s =>
          s.min.contains(g * 300L) && s.max.contains(g * 300L + 299L)))
        // column 2 = name: string bounds + real null accounting
        val nameIdx = OrcTail.readRowIndex(bytes, si, sf, 2,
          tail.compression, tail.blockSize).get.head
        val nameStats = nameIdx.stats.get
        val present = (g * 300 until (g + 1) * 300)
          .filter(_ % 11 != 4)
        assert(nameStats.numValues == present.length.toLong)
        assert(nameStats.hasNull.contains(true))
        assert(nameStats.strs.exists(s =>
          s.min.contains(f"doc-${present.min}%05d") &&
          s.max.contains(f"doc-${present.max}%05d")))
        // column 3 = score: double bounds
        val scoreStats = OrcTail.readRowIndex(bytes, si, sf, 3,
          tail.compression, tail.blockSize).get.head.stats.get
        assert(scoreStats.dbls.exists(s =>
          s.min.contains(g * 300 * 0.5) &&
          s.max.contains((g * 300 + 299) * 0.5)))
      }
      // string bounds compare by UTF-8 BYTES: a supplementary
      // character's 4-byte sequence outranks ￿ even though
      // Java String order says otherwise
      if (codec == "none") {
        val sc = Seq(OrcWrite.WCol("s", "string", optional = false,
          IndexedSeq(Some("a"), Some("￿"),
            Some(new String(Character.toChars(0x1F600))))))
        val sb = OrcWrite.build(sc, "none", 10, rle)
        val st = OrcTail.parseTail(sb).get
        val ssf = OrcTail.parseStripeFooter(sb, st.stripes.head,
          st.compression, st.blockSize).get
        val sStats = OrcTail.readRowIndex(sb, st.stripes.head, ssf,
          1, st.compression, st.blockSize).get.head.stats.get
        assert(sStats.strs.exists(_.max.contains(
          new String(Character.toChars(0x1F600)))),
          "max must follow UTF-8 byte order")
      }
      // orc-core CONSUMES the statistics: pushed filters trigger
      // its sarg row-group/stripe pruning — wrong bounds would
      // silently drop rows
      val tmp = java.nio.file.Files.createTempDirectory("graft_oidx")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      withConf("spark.sql.orc.filterPushdown" -> "true") {
        val df = spark.read.orc(fl.getAbsolutePath)
        assert(df.filter("id >= 310 AND id < 590").count() == 280,
          s"$codec id range")
        assert(df.filter("name = 'doc-00421'").count() == 1)
        assert(df.filter("score > 440.0").count() == 19)
        assert(df.filter("id > 100000").count() == 0) // full prune
        assert(df.count() == n)
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("BLOOM FILTERS: hashes and bitsets bit-exact vs orc-core's " +
    "Murmur3/BloomFilterUtf8, probed by OrcTail, consumed by the " +
    "sarg path (late r14)") {
    val rnd = new scala.util.Random(97)
    // 1. Murmur3 x64-64 differential across lengths incl. tails
    (0 until 60).foreach { len =>
      val b = Array.fill(len)(rnd.nextInt().toByte)
      assert(OrcTail.murmur64(b) ==
        org.apache.orc.util.Murmur3.hash64(b),
        s"murmur diverged at len $len")
    }
    // 2. the long mix + whole-bitset construction vs BloomFilterUtf8
    val strs = (0 until 400).map(i => s"key-$i-${rnd.nextInt(1000)}")
      .distinct
    val longs = Seq.fill(300)(rnd.nextLong()).distinct
    locally {
      val theirs = new org.apache.orc.util.BloomFilterUtf8(
        strs.length, 0.05)
      strs.foreach(s => theirs.addBytes(s.getBytes("UTF-8"), 0,
        s.getBytes("UTF-8").length))
      val (numBits, k) = OrcTail.bloomSizing(strs.length, 0.05)
      assert(k == theirs.getNumHashFunctions,
        s"k $k vs ${theirs.getNumHashFunctions}")
      val bits = new Array[Long](numBits / 64)
      strs.foreach { str =>
        val h = OrcTail.murmur64(str.getBytes("UTF-8"))
        val h1 = h.toInt; val h2 = (h >>> 32).toInt
        var i = 1
        while (i <= k) {
          var c = h1 + i * h2
          if (c < 0) c = ~c
          val pos = c % numBits
          bits(pos >>> 6) |= 1L << (pos & 63)
          i += 1
        }
      }
      assert(bits.sameElements(theirs.getBitSet),
        "string bitset diverged from BloomFilterUtf8")
    }
    locally {
      val theirs = new org.apache.orc.util.BloomFilterUtf8(
        longs.length, 0.05)
      longs.foreach(theirs.addLong)
      val (numBits, k) = OrcTail.bloomSizing(longs.length, 0.05)
      val bits = new Array[Long](numBits / 64)
      longs.foreach { v =>
        val h = OrcTail.orcLongHash(v)
        val h1 = h.toInt; val h2 = (h >>> 32).toInt
        var i = 1
        while (i <= k) {
          var c = h1 + i * h2
          if (c < 0) c = ~c
          val pos = c % numBits
          bits(pos >>> 6) |= 1L << (pos & 63)
          i += 1
        }
      }
      assert(bits.sameElements(theirs.getBitSet),
        "long bitset diverged from BloomFilterUtf8")
    }
    // 3. a written file: OrcTail finds and probes the streams;
    //    orc-core's sarg path consumes them
    val n = 600
    val cols = Seq(
      OrcWrite.WCol("id", "i64", optional = false,
        (0 until n).map(i => Some(i.toLong * 7))),
      OrcWrite.WCol("name", "string", optional = true,
        (0 until n).map(i =>
          if (i % 13 == 6) None else Some(s"host-$i.example"))))
    for (codec <- Seq("none", "zlib")) {
      val bytes = OrcWrite.build(cols, codec, 200, "v2",
        bloom = Set("id", "name"))
      val tail = OrcTail.parseTail(bytes).get
      tail.stripes.zipWithIndex.foreach { case (si, g) =>
        val sf = OrcTail.parseStripeFooter(bytes, si,
          tail.compression, tail.blockSize).get
        val idBloom = OrcTail.readBloomFilter(bytes, si, sf, 1,
          tail.compression, tail.blockSize)
          .getOrElse(fail(s"id bloom missing ($codec/$g)"))
        assert(idBloom.length == 1)
        (g * 200 until (g + 1) * 200).foreach { i =>
          assert(idBloom.head.mightContain(
            OrcTail.orcLongHash(i.toLong * 7)),
            s"false negative id ${i * 7}")
        }
        val misses = (0 until 1000).count(j =>
          idBloom.head.mightContain(
            OrcTail.orcLongHash(1000000L + j)))
        assert(misses < 1000 / 10, s"fpp too high: $misses")
        val nameBloom = OrcTail.readBloomFilter(bytes, si, sf, 2,
          tail.compression, tail.blockSize).get.head
        (g * 200 until (g + 1) * 200).filter(_ % 13 != 6)
          .foreach { i =>
            assert(nameBloom.mightContain(OrcTail.murmur64(
              s"host-$i.example".getBytes("UTF-8"))),
              s"false negative name $i")
          }
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_oblm")
      val fl = new java.io.File(tmp.toFile, "x.orc")
      java.nio.file.Files.write(fl.toPath, bytes)
      withConf("spark.sql.orc.filterPushdown" -> "true") {
        val df = spark.read.orc(fl.getAbsolutePath)
        assert(df.filter("id = 1400").count() == 1, codec) // 200*7
        assert(df.filter("name = 'host-421.example'").count() == 1)
        assert(df.filter("id = 1401").count() == 0) // in-range miss
        assert(df.count() == n)
      }
      fl.delete(); tmp.toFile.delete()
    }
  }

  test("writer rejections and 0-row files") {
    import OrcWrite.WCol
    intercept[IllegalArgumentException](OrcWrite.build(Seq(
      WCol("a", "i64", optional = false, IndexedSeq(None)))))
    intercept[RuntimeException](OrcWrite.build(Seq(
      WCol("a", "decimal", optional = false,
        IndexedSeq(Some(1L))))))
    val bytes = OrcWrite.build(mkCols(0), "zlib")
    assert(OrcTail.parseTail(bytes).exists(_.numRows == 0))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ow0")
    val fl = new java.io.File(tmp.toFile, "x.orc")
    java.nio.file.Files.write(fl.toPath, bytes)
    assert(spark.read.orc(fl.getAbsolutePath).count() == 0)
    fl.delete(); tmp.toFile.delete()
  }
}
