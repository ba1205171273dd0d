package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** ORC stripe-data decode pins: REAL Spark-written ORC files across
  * types, nulls, dictionary + direct strings, data shapes that
  * force each RLEv2 sub-encoding (constant runs → SHORT_REPEAT,
  * monotone → DELTA, random → DIRECT, skewed-with-outliers →
  * PATCHED_BASE) and all four codecs — decoded from raw bytes by
  * [[OrcData]] and compared value-exactly against Spark's own ORC
  * reader. Plus nested rejection and mutation fuzz. */
class OrcDataSpec extends AnyFunSuite with LocalSpark {

  private def writeOne(df: org.apache.spark.sql.DataFrame,
      codec: String): Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_orcd")
    df.coalesce(1).write.mode("overwrite")
      .option("compression", codec).orc(dir.toString)
    val f = dir.toFile.listFiles()
      .filter(_.getName.endsWith(".orc")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete(): Unit
    }
    rm(dir.toFile)
    bytes
  }

  private def mkDf(n: Int) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    (0 until n).map { i =>
      (i.toLong, // monotone -> DELTA runs
        rnd.nextLong(), // random -> DIRECT
        if (i % 97 == 13) 1000000000L + i else (i % 30).toLong,
        // ^ skewed with outliers -> PATCHED_BASE
        7L, // constant -> SHORT_REPEAT
        if (i % 7 == 3) None else Some(i - 500), // int + nulls
        i * 0.25 - 3.0,
        if (i % 5 == 2) None else Some(i / 3f),
        i % 3 == 0,
        if (i % 7 == 3) None else Some(s"v${i % 11}"), // dict
        s"unique-$i-${rnd.nextInt(1000)}", // direct strings
        Array.tabulate[Byte](i % 6)(j => (i + j).toByte))
    }.toDF("mono", "rand", "skew", "const", "i32", "f64", "f32",
      "flag", "dict_s", "uniq_s", "blob")
  }

  private def compare(bytes: Array[Byte]): Unit = {
    val (leaves, cols) = OrcData.decodeFile(bytes).getOrElse(
      fail("OrcData rejected a valid Spark file"))
    // Spark's own reader on a temp copy of the same bytes
    val tmp = java.nio.file.Files.createTempDirectory("graft_orcr")
    val f = new java.io.File(tmp.toFile, "x.orc")
    java.nio.file.Files.write(f.toPath, bytes)
    val viaSpark = spark.read.orc(f.getAbsolutePath)
    val names = viaSpark.schema.fieldNames.toSeq
    assert(leaves.map(_.name) == names)
    val sparkRows = viaSpark.collect()
      .map(r => names.indices.map(i => Option(r.get(i)).map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }))
      .sortBy(_.head.get.asInstanceOf[Long])
    val ours = cols.head.indices.map(r => leaves.indices.map { c =>
      cols(c)(r).map {
        case i: Long if viaSpark.schema(c).dataType ==
          org.apache.spark.sql.types.IntegerType => i.toInt
        case b: Array[Byte] => b.toSeq
        case v => v
      }
    }).sortBy(_.head.get.asInstanceOf[Long])
    f.delete(); tmp.toFile.delete()
    assert(ours.length == sparkRows.length)
    assert(ours == sparkRows.toSeq)
  }

  test("differential: Spark ORC, all types + nulls + RLEv2 " +
    "shapes, 4 codecs") {
    val df = mkDf(3000)
    for (codec <- Seq("zstd", "snappy", "zlib", "none"))
      compare(writeOne(df, codec))
  }

  test("differential: lz4 codec") {
    compare(writeOne(mkDf(500), "lz4"))
  }

  test("forced sub-encodings actually appeared (sanity)") {
    // 3000 monotone + constant + skewed rows make the writer emit
    // DELTA, SHORT_REPEAT and PATCHED_BASE runs; decode already
    // proves correctness — this pins that skew produces outliers
    // larger than 2^28 so PATCHED_BASE is genuinely exercised
    val df = mkDf(3000)
    val bytes = writeOne(df, "none")
    val (leaves, cols) = OrcData.decodeFile(bytes).get
    val si = leaves.indexWhere(_.name == "skew")
    val vals = cols(si).flatten.map(_.asInstanceOf[Long])
    assert(vals.max > (1L << 29) && vals.count(_ < 30) > 2000)
  }

  test("dictionary disabled -> direct strings still decode") {
    val s = spark
    import s.implicits._
    val df = (0 until 800).map(i => (i.toLong, s"k${i % 5}"))
      .toDF("id", "txt")
    // force DIRECT_V2 even for low-cardinality strings
    withConf("orc.dictionary.key.threshold" -> "0.0") {
      compare(writeOne(df, "zstd"))
    }
  }

  test("differential: timestamp (nanos packing) and decimal") {
    val s = spark
    import s.implicits._
    val n = 1200
    val df = (0 until n).map(i => (i.toLong, i)).toDF("id", "i")
      .selectExpr("id",
        // sub-second fractions exercise the trailing-zero nanos
        // packing at several magnitudes, incl. exact zero
        "timestamp_micros(cast(id * 86400000000 + " +
          "(id % 5) * 123450 + (id % 3) * 7 as long)) AS ts",
        "cast(cast(id as string) || '.' || " +
          "lpad(cast(id % 100 as string), 2, '0') " +
          "as decimal(14,2)) AS dec")
    val bytes = writeOne(df, "zstd")
    val (leaves, cols) = OrcData.decodeFile(bytes).get
    assert(leaves.map(_.kind) == Seq(4, 9, 14))
    val tmp = java.nio.file.Files.createTempDirectory("graft_orct")
    val f = new java.io.File(tmp.toFile, "x.orc")
    java.nio.file.Files.write(f.toPath, bytes)
    val viaSpark = spark.read.orc(f.getAbsolutePath).collect()
      .map(r => (r.getLong(0),
        r.getTimestamp(1).toInstant,
        r.getDecimal(2)))
      .sortBy(_._1)
    f.delete(); tmp.toFile.delete()
    val ours = cols(0).indices.map { r =>
      val micros = cols(1)(r).get.asInstanceOf[Long]
      (cols(0)(r).get.asInstanceOf[Long],
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L),
        cols(2)(r).get.asInstanceOf[java.math.BigDecimal])
    }.sortBy(_._1)
    assert(ours.length == viaSpark.length)
    ours.zip(viaSpark).foreach { case (a, b) =>
      assert(a._1 == b._1 && a._2 == b._2, s"ts mismatch $a vs $b")
      assert(a._3.compareTo(b._3) == 0, s"dec mismatch $a vs $b")
    }
  }

  test("differential: pre-1970 sub-second timestamps (writer's " +
    "truncating millis/1000 needs the one-second read repair)") {
    val s = spark
    import s.implicits._
    // negative epochs with fractional seconds at several magnitudes:
    // exactly the shape where the stored second is one too high and
    // orc-core's readers subtract a second on decode
    val micros = Seq(
      -1L, -999999L, -1000000L, -1500000L, -1000001L,
      -86400000000L - 123000L, // 1969-12-31 with .123 s
      -86400000000L, 0L, 1L, 999999L,
      -2208988800000000L + 250000L, // 1900-01-01 + .25 s
      1500000L)
    val df = micros.zipWithIndex
      .map { case (m, i) => (i.toLong, m) }.toDF("id", "m")
      .selectExpr("id", "timestamp_micros(m) AS ts")
    val bytes = writeOne(df, "zstd")
    val (leaves, cols) = OrcData.decodeFile(bytes).get
    assert(leaves.map(_.kind) == Seq(4, 9))
    val tmp = java.nio.file.Files.createTempDirectory("graft_orcn")
    val f = new java.io.File(tmp.toFile, "x.orc")
    java.nio.file.Files.write(f.toPath, bytes)
    val viaSpark = spark.read.orc(f.getAbsolutePath).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toInstant))
      .sortBy(_._1)
    f.delete(); tmp.toFile.delete()
    val ours = cols(0).indices.map { r =>
      val mi = cols(1)(r).get.asInstanceOf[Long]
      (cols(0)(r).get.asInstanceOf[Long],
        java.time.Instant.ofEpochSecond(
          Math.floorDiv(mi, 1000000L),
          Math.floorMod(mi, 1000000L) * 1000L))
    }.sortBy(_._1)
    assert(ours.length == viaSpark.length)
    ours.zip(viaSpark).foreach { case (a, b) =>
      assert(a == b, s"pre-1970 ts mismatch: ours $a vs spark $b")
    }
  }

  // ------------------------------------------------------------
  // decodeFileDeep: recursive nesting (round 13)
  // ------------------------------------------------------------

  test("deep differential: list<struct<long, string>> with null " +
    "lists/elements/fields") {
    val s = spark
    import s.implicits._
    val n = 2000
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 13 == 9) None
        else Some((0 until i % 4).map { k =>
          if ((i + k) % 7 == 6) None
          else Some((i * 10L + k,
            if ((i + k) % 5 == 4) None
            else Some(s"v${(i + k) % 9}")))
        }))
    }
    val df = docs.toDF("id", "spans")
    for (codec <- Seq("zstd", "snappy")) {
      val bytes = writeOne(df, codec)
      val (nodes, cols) = OrcData.decodeFileDeep(bytes)
        .getOrElse(fail("OrcData rejected list<struct>"))
      assert(nodes.map(_.name) == Seq("id", "spans"))
      val lst = nodes(1).asInstanceOf[OrcData.OrcListNode]
      assert(lst.elem.isInstanceOf[OrcData.OrcStructNode])
      val ours = cols(0).indices.map { r =>
        (cols(0)(r).get.asInstanceOf[Long],
          cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map(
            _.map { e =>
              val fs = e.asInstanceOf[Seq[Option[Any]]]
              (fs(0).get.asInstanceOf[Long],
                fs(1).map(_.asInstanceOf[String]))
            })))
      }.sortBy(_._1)
      assert(ours == docs.map(d => (d._1, d._2.map(_.toSeq))))
    }
  }

  test("deep differential: struct<struct> and struct<list>") {
    val s = spark
    import s.implicits._
    val n = 1500
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 11 == 7) None
        else Some((i * 3L,
          if (i % 6 == 2) None
          else Some((s"s${i % 9}",
            if (i % 4 == 1) None else Some(i * 7L))))),
        if (i % 9 == 5) None
        else Some((i % 50L,
          if (i % 7 == 3) None
          else Some((0 until i % 4).map(m => i * 2L + m)))))
    }
    val df = docs.toDF("id", "meta", "sl")
    val bytes = writeOne(df, "zstd")
    val (nodes, cols) = OrcData.decodeFileDeep(bytes)
      .getOrElse(fail("OrcData rejected struct<struct>"))
    val st = nodes(1).asInstanceOf[OrcData.OrcStructNode]
    assert(st.fields(1).isInstanceOf[OrcData.OrcStructNode])
    val ourMeta = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map { x =>
          val fs = x.asInstanceOf[Seq[Option[Any]]]
          (fs(0).get.asInstanceOf[Long],
            fs(1).map { y =>
              val gs = y.asInstanceOf[Seq[Option[Any]]]
              (gs(0).get.asInstanceOf[String],
                gs(1).map(_.asInstanceOf[Long]))
            })
        })
    }.sortBy(_._1)
    assert(ourMeta == docs.map(d => (d._1, d._2)))
    val ourSl = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(2)(r).map { x =>
          val fs = x.asInstanceOf[Seq[Option[Any]]]
          (fs(0).get.asInstanceOf[Long],
            fs(1).map(_.asInstanceOf[Seq[Option[Any]]]
              .map(_.get.asInstanceOf[Long])))
        })
    }.sortBy(_._1)
    assert(ourSl == docs.map(d => (d._1, d._3.map(t =>
      (t._1, t._2.map(_.toSeq))))))
  }

  test("deep differential: list<list<long>> and map<string, " +
    "struct>") {
    val s = spark
    import s.implicits._
    val n = 1500
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 17 == 5) None
        else Some((0 until i % 4).map { k =>
          if ((i + k) % 9 == 8) None
          else Some((0 until (i + k) % 3).map { m =>
            if ((i + k + m) % 11 == 10) None
            else Some(i * 100L + k * 10L + m)
          })
        }),
        if (i % 13 == 9) null
        else (0 until i % 3).map(k =>
          (s"k$k", (i * 10L + k, s"w${(i + k) % 5}"))).toMap)
    }
    val df = docs.toDF("id", "mat", "m")
    val bytes = writeOne(df, "zstd")
    val (nodes, cols) = OrcData.decodeFileDeep(bytes)
      .getOrElse(fail("OrcData rejected list<list>/map<struct>"))
    val outer = nodes(1).asInstanceOf[OrcData.OrcListNode]
    assert(outer.elem.isInstanceOf[OrcData.OrcListNode])
    assert(nodes(2).isInstanceOf[OrcData.OrcMapNode])
    val ourMat = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map(
          _.map(_.asInstanceOf[Seq[Option[Any]]]
            .map(_.map(_.asInstanceOf[Long]))))))
    }.sortBy(_._1)
    assert(ourMat == docs.map(d =>
      (d._1, d._2.map(_.map(_.map(_.toSeq)).toSeq))))
    val ourMaps = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(2)(r).map(_.asInstanceOf[Seq[Option[Any]]].map { e =>
          val kv = e.get.asInstanceOf[Seq[Option[Any]]]
          val vs = kv(1).get.asInstanceOf[Seq[Option[Any]]]
          kv(0).get.asInstanceOf[String] ->
            (vs(0).get.asInstanceOf[Long],
              vs(1).get.asInstanceOf[String])
        }.toMap))
    }.sortBy(_._1)
    assert(ourMaps == docs.map(d => (d._1, Option(d._3))))
  }

  test("deep decode agrees with the one-level decoder") {
    val s = spark
    import s.implicits._
    val df = (0 until 900).map { i =>
      (i.toLong,
        if (i % 7 == 3) None else Some(i - 500),
        if (i % 13 == 9) None
        else Some((0 until i % 5).map(k => i * 100L + k)),
        s"v${i % 11}")
    }.toDF("id", "i32", "toks", "txt")
    val bytes = writeOne(df, "zstd")
    val (_, flatish) = OrcData.decodeFileNested(bytes).get
    val (_, deep) = OrcData.decodeFileDeep(bytes).get
    (0 until 4).foreach { c =>
      assert(deep(c) == flatish(c),
        s"column $c disagrees between deep and one-level decode")
    }
  }

  test("differential: list columns (length runs + child slicing)") {
    val s = spark
    import s.implicits._
    val n = 2500
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 13 == 9) None // null list
        else Some((0 until i % 5).map { k =>
          if ((i + k) % 6 == 5) None // null element
          else Some(i * 100L + k)
        }),
        s"pad-$i")
    }
    val df = docs.toDF("id", "toks", "txt")
    for (codec <- Seq("zstd", "snappy")) {
      val bytes = writeOne(df, codec)
      val (shapes, cols) = OrcData.decodeFileNested(bytes)
        .getOrElse(fail("OrcData rejected a list file"))
      assert(shapes.map(_.name) == Seq("id", "toks", "txt"))
      assert(shapes(1).isList && shapes(1).childKind == 4)
      val ours = cols(0).indices.map { r =>
        (cols(0)(r).get.asInstanceOf[Long],
          cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]]
            .map(_.map(_.asInstanceOf[Long]))),
          cols(2)(r).get.asInstanceOf[String])
      }.sortBy(_._1)
      assert(ours == docs.map(d => (d._1, d._2.map(_.toSeq), d._3)))
    }
  }

  test("differential: flat struct columns (present-gated children)") {
    val s = spark
    import s.implicits._
    val n = 1800
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 11 == 7) None
        else Some((i * 3L,
          if (i % 4 == 1) None else Some(s"s${i % 9}"))))
    }
    val df = docs.toDF("id", "meta")
    val bytes = writeOne(df, "zstd")
    val (shapes, cols) = OrcData.decodeFileNested(bytes)
      .getOrElse(fail("OrcData rejected a struct file"))
    assert(shapes(1).isStruct &&
      shapes(1).structFields.map(_._1) == Seq("_1", "_2"))
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map { x =>
          val fs = x.asInstanceOf[Seq[Option[Any]]]
          (fs(0).get.asInstanceOf[Long],
            fs(1).map(_.asInstanceOf[String]))
        })
    }.sortBy(_._1)
    assert(ours == docs)
  }

  test("differential: map columns (length runs + zipped children)") {
    val s = spark
    import s.implicits._
    val n = 1600
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 13 == 9) null
        else (0 until i % 4).map(k =>
          (s"k$k", i * 10L + k)).toMap)
    }
    val df = docs.toDF("id", "m")
    val bytes = writeOne(df, "zstd")
    val (shapes, cols) = OrcData.decodeFileNested(bytes)
      .getOrElse(fail("OrcData rejected a map file"))
    assert(shapes(1).isMap && !shapes(1).isStruct)
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map { e =>
          val kv = e.get.asInstanceOf[Seq[Option[Any]]]
          (kv(0).get.asInstanceOf[String],
            kv(1).get.asInstanceOf[Long])
        }.toMap).orNull)
    }.sortBy(_._1)
    assert(ours == docs)
  }

  test("deeper nesting rejects honestly; tail still parses") {
    val s = spark
    import s.implicits._
    val df = (0 until 10).map(i => (i.toLong, Seq(Seq(i, i + 1))))
      .toDF("id", "xs") // list<list<long>>
    val bytes = writeOne(df, "zstd")
    assert(OrcData.decodeFile(bytes).isEmpty)
    assert(OrcData.decodeFileNested(bytes).isEmpty)
    assert(OrcTail.parseTail(bytes).isDefined)
    // the FLAT decoder still rejects one-level lists
    val one = writeOne((0 until 10).map(i => (i.toLong, Seq(i)))
      .toDF("id", "xs"), "zstd")
    assert(OrcData.decodeFile(one).isEmpty)
    assert(OrcData.decodeFileNested(one).isDefined)
  }

  test("mutation fuzz: corrupted files never throw") {
    val bytes = writeOne(mkDf(300), "zlib")
    assert(OrcData.decodeFile(bytes).isDefined)
    val rnd = new scala.util.Random(11)
    for (_ <- 0 until 300) {
      val m = bytes.clone()
      val i = rnd.nextInt(m.length)
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      OrcData.decodeFile(m): Unit // None or in-shape, never throws
    }
  }
}
