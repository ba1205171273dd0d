package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** Parquet data-page decode pins: REAL Spark-written files across
  * physical types, nulls, dictionary encoding (with mid-chunk
  * fallback to PLAIN), all four supported codecs and both data-page
  * versions, decoded from raw bytes by [[ParquetData]] and compared
  * value-exactly against Spark's own reader — the strongest
  * differential available (the reference implementation the whole
  * stack already trusts). Plus nested-schema rejection and mutation
  * fuzz (never throw, never invent). */
object ParquetDataSpec {
  /** Struct fixture shape (top level for the Spark encoder). */
  final case class Sub(a: Long, b: Option[String])
}

class ParquetDataSpec extends AnyFunSuite with LocalSpark {
  import ParquetDataSpec.Sub

  private def writeOne(df: org.apache.spark.sql.DataFrame,
      codec: String, extra: Map[String, String] = Map.empty)
      : Array[Byte] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_pqd")
    val w0 = df.coalesce(1).write.mode("overwrite")
      .option("compression", codec)
    val w = extra.foldLeft(w0) { case (acc, (k, v)) =>
      acc.option(k, v) }
    w.parquet(dir.toString)
    val f = dir.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete(): Unit
    }
    rm(dir.toFile)
    bytes
  }

  /** Spark-read rows (sorted by first col) vs our decode. */
  private def compare(bytes: Array[Byte],
      expected: Seq[Seq[Option[Any]]]): Unit = {
    val (leaves, cols) = ParquetData.decodeFile(bytes).getOrElse(
      fail("decodeFile rejected a valid Spark file"))
    assert(cols.head.length == expected.length)
    // row-major ours, sorted by col 0 for a stable compare
    val ours = cols.head.indices.map(r => leaves.indices.map { c =>
      cols(c)(r).map {
        case b: Array[Byte] => new String(b, "UTF-8")
        case v => v
      }
    }).sortBy(_.head.get.asInstanceOf[Long])
    val exp = expected.sortBy(_.head.get.asInstanceOf[Long])
    assert(ours == exp)
  }

  private def mkDf(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      (i.toLong * 1000003L,
        if (i % 7 == 3) None else Some(i - 500),
        i * 0.25 - 3.0,
        if (i % 5 == 2) None else Some(i / 3f),
        i % 3 == 0,
        if (i % 7 == 3) None
        else Some(s"v${i % 11}"), // low cardinality -> dictionary
        Array.tabulate[Byte](i % 6)(j => (i + j).toByte))
    }.toDF("id", "i32", "f64", "f32", "flag", "txt", "blob")
  }

  private def expRows(n: Int): Seq[Seq[Option[Any]]] =
    (0 until n).map { i =>
      Seq(Some(i.toLong * 1000003L),
        if (i % 7 == 3) None else Some(i - 500),
        Some(i * 0.25 - 3.0),
        if (i % 5 == 2) None else Some(i / 3f),
        Some(i % 3 == 0),
        if (i % 7 == 3) None else Some(s"v${i % 11}"),
        Some(new String(Array.tabulate[Byte](i % 6)(j =>
          (i + j).toByte), "UTF-8")))
    }

  test("differential: Spark v1 pages, all types + nulls + dict, " +
    "4 codecs") {
    val n = 3000 // several pages, dictionary + def levels
    val df = mkDf(n)
    val exp = expRows(n)
    for (codec <- Seq("snappy", "gzip", "zstd", "uncompressed")) {
      compare(writeOne(df, codec), exp)
    }
  }

  test("differential: LZ4_RAW codec") {
    val df = mkDf(500)
    compare(writeOne(df, "lz4_raw"), expRows(500))
  }

  test("differential: legacy Hadoop-framed LZ4 codec") {
    val df = mkDf(1500) // several blocks
    val bytes = writeOne(df, "lz4")
    // really the legacy codec id 5, not LZ4_RAW
    val footer = ParquetFooter.parse(bytes).get
    assert(footer.rowGroups.head.columns.head.codecId == 5)
    compare(bytes, expRows(1500))
  }

  test("differential: dictionary fallback to PLAIN mid-chunk") {
    val s = spark
    import s.implicits._
    // high-cardinality strings with a tiny dictionary page cap force
    // parquet-mr to fall back to PLAIN after the first pages
    val n = 4000
    val df = (0 until n).map(i =>
      (i.toLong, s"unique-value-$i-${"pad" * 10}"))
      .toDF("id", "txt")
    val bytes = writeOne(df, "snappy",
      Map("parquet.dictionary.page.size" -> "1024"))
    // prove the fallback actually happened: both encodings present
    val footer = ParquetFooter.parse(bytes).get
    val encs = footer.rowGroups.head.columns
      .find(_.path == "txt").get.encodings
    assert(encs.contains(0), s"expected PLAIN fallback in $encs")
    val (leaves, cols) = ParquetData.decodeFile(bytes).get
    assert(leaves.map(_.name) == Seq("id", "txt"))
    val ours = cols(0).indices
      .map(r => (cols(0)(r).get.asInstanceOf[Long],
        new String(cols(1)(r).get.asInstanceOf[Array[Byte]],
          "UTF-8"))).sortBy(_._1)
    assert(ours == (0 until n).map(i =>
      (i.toLong, s"unique-value-$i-${"pad" * 10}")))
  }

  test("differential: DATA_PAGE_V2 (dict-encoded, RLE booleans)") {
    val s = spark
    import s.implicits._
    val n = 2000
    val df = (0 until n).map(i =>
      (i.toLong, s"k${i % 13}",
        if (i % 7 == 3) None else Some((i % 17).toLong),
        i % 2 == 0))
      .toDF("id", "txt", "x", "flag")
    val bytes = writeOne(df, "zstd",
      Map("parquet.writer.version" -> "v2"))
    val (leaves, cols) = ParquetData.decodeFile(bytes).get
    assert(leaves.map(_.name) == Seq("id", "txt", "x", "flag"))
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        new String(cols(1)(r).get.asInstanceOf[Array[Byte]], "UTF-8"),
        cols(2)(r).map(_.asInstanceOf[Long]),
        cols(3)(r).get.asInstanceOf[Boolean])
    }.sortBy(_._1)
    assert(ours == (0 until n).map(i =>
      (i.toLong, s"k${i % 13}",
        if (i % 7 == 3) None else Some((i % 17).toLong),
        i % 2 == 0)))
  }

  test("differential: v2 DELTA family (binary-packed ints, " +
    "delta byte arrays)") {
    val s = spark
    import s.implicits._
    val n = 3000
    // unique ids -> DELTA_BINARY_PACKED; unique long strings with a
    // tiny dictionary cap -> DELTA_BYTE_ARRAY fallback
    val df = (0 until n).map(i =>
      (i.toLong * 977L - 12345L, i - 1500,
        s"prefix-shared-${i / 10}-tail-$i"))
      .toDF("id", "i32", "txt")
    val bytes = writeOne(df, "snappy",
      Map("parquet.writer.version" -> "v2",
        "parquet.dictionary.page.size" -> "512"))
    val footer = ParquetFooter.parse(bytes).get
    val txtEncs = footer.rowGroups.head.columns
      .find(_.path == "txt").get.encodings
    assert(txtEncs.contains(7) || txtEncs.contains(6),
      s"expected a DELTA byte-array fallback in $txtEncs")
    val (leaves, cols) = ParquetData.decodeFile(bytes).get
    assert(leaves.map(_.name) == Seq("id", "i32", "txt"))
    val ours = cols(0).indices.map(r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).get.asInstanceOf[Int],
        new String(cols(2)(r).get.asInstanceOf[Array[Byte]],
          "UTF-8"))).sortBy(_._1)
    assert(ours == (0 until n).map(i =>
      (i.toLong * 977L - 12345L, i - 1500,
        s"prefix-shared-${i / 10}-tail-$i")))
  }

  test("differential: INT96 legacy timestamps convert to micros") {
    val s = spark
    import s.implicits._
    val n = 400
    val df = (0 until n).map(i => (i.toLong, i)).toDF("id", "i")
      .selectExpr("id",
        "timestamp_micros(cast(id * 98765432109 + id % 997 " +
          "as long)) AS ts")
    val bytes = withConf(
      "spark.sql.parquet.outputTimestampType" -> "INT96") {
      writeOne(df, "snappy")
    }
    val (leaves, cols) = ParquetData.decodeFile(bytes).get
    assert(leaves(1).typeId == 3) // really INT96
    // Spark's own reader on the same bytes: the true differential
    val tmp = java.nio.file.Files.createTempDirectory("graft_i96")
    val f = new java.io.File(tmp.toFile, "x.parquet")
    java.nio.file.Files.write(f.toPath, bytes)
    val viaSpark = spark.read.parquet(f.getAbsolutePath)
      .selectExpr("id",
        "unix_micros(ts) AS us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    f.delete(); tmp.toFile.delete()
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        ParquetData.int96ToMicros(
          cols(1)(r).get.asInstanceOf[Array[Byte]]).get)
    }.sortBy(_._1)
    assert(ours == viaSpark)
    assert(ours.map(_._2) == (0 until n).map(i =>
      i * 98765432109L + i % 997))
    // non-timestamp INT96 bytes stay raw
    assert(ParquetData.int96ToMicros(Array.fill[Byte](12)(-1)).isEmpty)
    assert(ParquetData.int96ToMicros(Array.fill[Byte](4)(0)).isEmpty)
  }

  test("decimal surfaces as raw physical values at the right scale") {
    val s = spark
    import s.implicits._
    val df = (0 until 100).map(i => (i.toLong, (i * 13 + 7).toString))
      .toDF("id", "ds")
      .withColumn("dec", org.apache.spark.sql.functions
        .expr("cast(ds as decimal(12,2))"))
      .drop("ds")
    val bytes = writeOne(df, "snappy")
    val (leaves, cols) = ParquetData.decodeFile(bytes).get
    // decimal(12,2) stores as INT64 unscaled
    assert(leaves(1).typeId == 2)
    val ours = cols(0).indices.map(r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).get.asInstanceOf[Long])).sortBy(_._1)
    assert(ours == (0 until 100).map(i =>
      (i.toLong, (i * 13 + 7) * 100L)))
  }

  test("the driver's own parquet-cpp files decode") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/testdata/sf0.001/nation.parquet"))
    val (leaves, cols) = ParquetData.decodeFile(bytes).get
    assert(leaves.map(_.name).take(3) ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    def asLong(v: Any): Long = v match {
      case i: Int => i.toLong
      case l: Long => l
    }
    val viaSpark = spark.read
      .parquet("/root/testdata/sf0.001/nation.parquet")
      .selectExpr("n_nationkey", "n_name", "n_regionkey")
      .collect().map(r => (asLong(r.get(0)), r.getString(1),
        asLong(r.get(2))))
      .sortBy(_._1).toSeq
    val ki = leaves.indexWhere(_.name == "n_nationkey")
    val ni = leaves.indexWhere(_.name == "n_name")
    val ri = leaves.indexWhere(_.name == "n_regionkey")
    val ours = cols(ki).indices.map(r =>
      (asLong(cols(ki)(r).get),
        new String(cols(ni)(r).get.asInstanceOf[Array[Byte]], "UTF-8"),
        asLong(cols(ri)(r).get))).sortBy(_._1)
    assert(ours == viaSpark)
  }

  test("differential: list columns (3-level shape, rep levels)") {
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
    val df = docs
      .toDF("id", "toks", "txt")
    for (codec <- Seq("snappy", "zstd")) {
      val bytes = writeOne(df, codec)
      val (shapes, cols) = ParquetData.decodeFileNested(bytes)
        .getOrElse(fail("decodeFileNested rejected a list file"))
      assert(shapes.map(_.name) == Seq("id", "toks", "txt"))
      val lsh = shapes(1).asInstanceOf[ParquetData.ColShape]
      assert(lsh.isList && lsh.maxRep == 1 && lsh.maxDef == 3)
      val ours = cols(0).indices.map { r =>
        (cols(0)(r).get.asInstanceOf[Long],
          cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]]
            .map(_.map(_.asInstanceOf[Long]))),
          new String(cols(2)(r).get.asInstanceOf[Array[Byte]],
            "UTF-8"))
      }.sortBy(_._1)
      assert(ours == docs.map(d =>
        (d._1, d._2.map(_.toSeq), d._3)))
    }
  }

  test("differential: list columns in DATA_PAGE_V2") {
    val s = spark
    import s.implicits._
    val n = 1500
    val docs = (0 until n).map { i =>
      (i.toLong, (0 until i % 4).map(k => (i * 10 + k).toLong))
    }
    val df = docs.toDF("id", "xs")
    val bytes = writeOne(df, "zstd",
      Map("parquet.writer.version" -> "v2"))
    val (shapes, cols) = ParquetData.decodeFileNested(bytes).get
    assert(shapes(1).asInstanceOf[ParquetData.ColShape].isList)
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).get.asInstanceOf[Seq[Option[Any]]]
          .map(_.get.asInstanceOf[Long]))
    }.sortBy(_._1)
    assert(ours == docs)
  }

  test("differential: flat struct columns (shared def levels)") {
    val s = spark
    import s.implicits._
    val n = 1800
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 11 == 7) None // null struct
        else Some(Sub(i * 3L,
          if (i % 4 == 1) None else Some(s"s${i % 9}"))))
    }
    val df = docs.toDF("id", "meta")
    val bytes = writeOne(df, "zstd")
    val (shapes, cols) = ParquetData.decodeFileNested(bytes)
      .getOrElse(fail("decodeFileNested rejected a struct file"))
    assert(shapes.map(_.name) == Seq("id", "meta"))
    val st = shapes(1).asInstanceOf[ParquetData.StructShape]
    assert(st.optional && st.fields.map(_.name) == Seq("a", "b"))
    assert(st.fields(0).maxDef == 1 && st.fields(1).maxDef == 2)
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map { x =>
          val fs = x.asInstanceOf[Seq[Option[Any]]]
          Sub(fs(0).get.asInstanceOf[Long],
            fs(1).map(b => new String(
              b.asInstanceOf[Array[Byte]], "UTF-8")))
        })
    }.sortBy(_._1)
    assert(ours == docs)
  }

  test("differential: map columns (zipped key/value chunks)") {
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
    val (shapes, cols) = ParquetData.decodeFileNested(bytes)
      .getOrElse(fail("decodeFileNested rejected a map file"))
    assert(shapes(1).isInstanceOf[ParquetData.MapShape])
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map { e =>
          val kv = e.get.asInstanceOf[Seq[Option[Any]]]
          (new String(kv(0).get.asInstanceOf[Array[Byte]], "UTF-8"),
            kv(1).get.asInstanceOf[Long])
        }.toMap).orNull)
    }.sortBy(_._1)
    assert(ours == docs)
  }

  test("differential: BYTE_STREAM_SPLIT (patched file read back " +
    "by Spark itself)") {
    val s = spark
    import s.implicits._
    // no writer emits BSS here, so CONSTRUCT one: take a real
    // uncompressed PLAIN double page, transpose its value bytes
    // into byte planes and flip the encoding varint (same length).
    // parquet-mr READS BSS, so Spark is a true differential for
    // both the construction and our decoder.
    val n = 700
    val df = (0 until n).map(i => (i.toLong, i * 0.37 - 9.5))
      .toDF("id", "d")
    val bytes = writeOne(df, "uncompressed",
      Map("parquet.enable.dictionary" -> "false"))
    val footer = ParquetFooter.parse(bytes).get
    val cm = footer.rowGroups.head.columns.find(_.path == "d").get
    assert(cm.codecId == 0 && cm.numValues == n)
    // locate the encoding byte inside the v1 DataPageHeader: walk
    // the thrift-compact header (type/sizes varints, then the
    // field-5 struct: num_values varint, then field 2 = encoding)
    val off = cm.dataPageOffset.toInt
    var p = off
    def skipFieldVarint(): Unit = {
      assert((bytes(p) & 0x0f) == 5) // i32 field
      p += 1
      while ((bytes(p) & 0x80) != 0) p += 1
      p += 1
    }
    skipFieldVarint() // 1: page type
    // skip remaining i32 fields (sizes, optional crc) to field 5
    while ((bytes(p) & 0x0f) == 5) skipFieldVarint()
    assert((bytes(p) & 0x0f) == 12) // field 5: DataPageHeader struct
    p += 1
    skipFieldVarint() // inner 1: num_values
    assert((bytes(p) & 0x0f) == 5)
    p += 1
    assert(bytes(p) == 0x00, "expected PLAIN") // encoding varint
    val patched = bytes.clone()
    patched(p) = 0x12 // zigzag(9) = BYTE_STREAM_SPLIT
    // the page body is the chunk's tail: values only (required
    // column, no levels), so the final 8*n bytes of the chunk
    val bodyStart = (cm.dataPageOffset + cm.totalCompressed).toInt -
      8 * n
    for (i <- 0 until n; k <- 0 until 8)
      patched(bodyStart + k * n + i) = bytes(bodyStart + 8 * i + k)
    // Spark's own reader accepts the construction
    val tmp = java.nio.file.Files.createTempDirectory("graft_bss")
    val f = new java.io.File(tmp.toFile, "x.parquet")
    java.nio.file.Files.write(f.toPath, patched)
    // Spark's VECTORIZED reader lacks BSS; parquet-mr's row reader
    // (the library Spark bundles) is the differential
    val viaSpark = withConf(
      "spark.sql.parquet.enableVectorizedReader" -> "false") {
      spark.read.parquet(f.getAbsolutePath)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
        .sortBy(_._1).toSeq
    }
    f.delete(); tmp.toFile.delete()
    assert(viaSpark == (0 until n).map(i =>
      (i.toLong, i * 0.37 - 9.5)))
    // ...and so does ours
    val (leaves, cols) = ParquetData.decodeFile(patched).get
    assert(leaves(1).typeId == 5)
    val ours = cols(0).indices.map(r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).get.asInstanceOf[Double])).sortBy(_._1)
    assert(ours == viaSpark)
  }

  // ------------------------------------------------------------
  // decodeFileDeep: recursive nesting (round 13)
  // ------------------------------------------------------------

  private def asStr(v: Any): String =
    new String(v.asInstanceOf[Array[Byte]], "UTF-8")

  test("deep differential: list<struct<long, string>> (the " +
    "annotation-span shape) with null lists/elements/fields") {
    val s = spark
    import s.implicits._
    val n = 2000
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 13 == 9) None // null list
        else Some((0 until i % 4).map { k =>
          if ((i + k) % 7 == 6) None // null struct element
          else Some((i * 10L + k,
            if ((i + k) % 5 == 4) None
            else Some(s"v${(i + k) % 9}")))
        }))
    }
    val df = docs.toDF("id", "spans")
    for (codec <- Seq("snappy", "zstd")) {
      val bytes = writeOne(df, codec)
      val (nodes, cols) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail("decodeFileDeep rejected list<struct>"))
      assert(nodes.map(_.name) == Seq("id", "spans"))
      val lst = nodes(1).asInstanceOf[ParquetData.DeepList]
      assert(lst.elem.isInstanceOf[ParquetData.DeepStruct])
      val ours = cols(0).indices.map { r =>
        (cols(0)(r).get.asInstanceOf[Long],
          cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map(
            _.map { e =>
              val fs = e.asInstanceOf[Seq[Option[Any]]]
              (fs(0).get.asInstanceOf[Long], fs(1).map(asStr))
            })))
      }.sortBy(_._1)
      assert(ours == docs.map(d => (d._1, d._2.map(_.toSeq))))
    }
  }

  test("deep differential: struct<struct> (nested metadata)") {
    val s = spark
    import s.implicits._
    val n = 1500
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 11 == 7) None // null outer struct
        else Some((i * 3L,
          if (i % 6 == 2) None // null inner struct
          else Some((s"s${i % 9}",
            if (i % 4 == 1) None else Some(i * 7L))))))
    }
    val df = docs.toDF("id", "meta")
    val bytes = writeOne(df, "zstd")
    val (nodes, cols) = ParquetData.decodeFileDeep(bytes)
      .getOrElse(fail("decodeFileDeep rejected struct<struct>"))
    val st = nodes(1).asInstanceOf[ParquetData.DeepStruct]
    assert(st.fields(1).isInstanceOf[ParquetData.DeepStruct])
    val ours = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map { x =>
          val fs = x.asInstanceOf[Seq[Option[Any]]]
          (fs(0).get.asInstanceOf[Long],
            fs(1).map { y =>
              val gs = y.asInstanceOf[Seq[Option[Any]]]
              (asStr(gs(0).get),
                gs(1).map(_.asInstanceOf[Long]))
            })
        })
    }.sortBy(_._1)
    assert(ours == docs)
  }

  test("deep differential: list<list<long>> (two repetition " +
    "levels) incl. empty and null inner lists") {
    val s = spark
    import s.implicits._
    val n = 1500
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 17 == 5) None // null outer
        else Some((0 until i % 4).map { k =>
          if ((i + k) % 9 == 8) None // null inner list
          else Some((0 until (i + k) % 3).map { m =>
            if ((i + k + m) % 11 == 10) None // null element
            else Some(i * 100L + k * 10L + m)
          })
        }))
    }
    val df = docs.toDF("id", "mat")
    for (codec <- Seq("snappy", "zstd")) {
      val bytes = writeOne(df, codec)
      val (nodes, cols) = ParquetData.decodeFileDeep(bytes)
        .getOrElse(fail("decodeFileDeep rejected list<list>"))
      val outer = nodes(1).asInstanceOf[ParquetData.DeepList]
      val inner = outer.elem.asInstanceOf[ParquetData.DeepList]
      assert(outer.repLvl == 1 && inner.repLvl == 2)
      val ours = cols(0).indices.map { r =>
        (cols(0)(r).get.asInstanceOf[Long],
          cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map(
            _.map(_.asInstanceOf[Seq[Option[Any]]]
              .map(_.map(_.asInstanceOf[Long]))))))
      }.sortBy(_._1)
      assert(ours == docs.map(d =>
        (d._1, d._2.map(_.map(_.map(_.toSeq)).toSeq))))
    }
  }

  test("deep differential: map<string, struct> and struct<list>") {
    val s = spark
    import s.implicits._
    val n = 1200
    val docs = (0 until n).map { i =>
      (i.toLong,
        if (i % 13 == 9) null
        else (0 until i % 3).map(k =>
          (s"k$k", (i * 10L + k, s"w${(i + k) % 5}"))).toMap,
        if (i % 11 == 7) None
        else Some((i % 50L,
          if (i % 7 == 3) None
          else Some((0 until i % 4).map(m => i * 2L + m)))))
    }
    val df = docs.toDF("id", "m", "sl")
    val bytes = writeOne(df, "zstd")
    val (nodes, cols) = ParquetData.decodeFileDeep(bytes)
      .getOrElse(fail("decodeFileDeep rejected map<_, struct>"))
    val mp = nodes(1).asInstanceOf[ParquetData.DeepList]
    assert(mp.isMap)
    val ourMaps = cols(0).indices.map { r =>
      (cols(0)(r).get.asInstanceOf[Long],
        cols(1)(r).map(_.asInstanceOf[Seq[Option[Any]]].map { e =>
          val kv = e.get.asInstanceOf[Seq[Option[Any]]]
          val vs = kv(1).get.asInstanceOf[Seq[Option[Any]]]
          asStr(kv(0).get) ->
            (vs(0).get.asInstanceOf[Long], asStr(vs(1).get))
        }.toMap))
    }.sortBy(_._1)
    assert(ourMaps == docs.map(d =>
      (d._1, Option(d._2))).sortBy(_._1))
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

  test("deep decode agrees with the flat and one-level decoders") {
    val s = spark
    import s.implicits._
    val df = (0 until 900).map { i =>
      (i.toLong,
        if (i % 7 == 3) None else Some(i - 500),
        if (i % 13 == 9) None
        else Some((0 until i % 5).map(k => i * 100L + k)),
        s"v${i % 11}")
    }.toDF("id", "i32", "toks", "txt")
    val bytes = writeOne(df, "snappy")
    val (_, flatish) = ParquetData.decodeFileNested(bytes).get
    val (_, deep) = ParquetData.decodeFileDeep(bytes).get
    // byte arrays compare by reference — normalize recursively
    def norm(v: Any): Any = v match {
      case b: Array[Byte] => b.toSeq
      case o: Option[_] => o.map(norm)
      case s: Seq[_] => s.map(norm)
      case other => other
    }
    (0 until 4).foreach { c =>
      assert(deep(c).map(norm) == flatish(c).map(norm),
        s"column $c disagrees between deep and one-level decode")
    }
  }

  test("deep decode mutation fuzz: never throws, never invents") {
    val s = spark
    import s.implicits._
    val df = (0 until 300).map { i =>
      (i.toLong,
        if (i % 13 == 9) None
        else Some((0 until i % 4).map(k =>
          Some((i * 10L + k, s"v${(i + k) % 9}")))))
    }.toDF("id", "spans")
    val bytes = writeOne(df, "none")
    val base = ParquetData.decodeFileDeep(bytes)
    assert(base.isDefined)
    val rnd = new scala.util.Random(31)
    var rejected = 0
    for (_ <- 0 until 300) {
      val m = bytes.clone()
      val at = rnd.nextInt(m.length - 12) // keep footer len+magic
      m(at) = (m(at) ^ (1 << rnd.nextInt(8))).toByte
      ParquetData.decodeFileDeep(m) match {
        case None => rejected += 1
        case Some(_) => () // flipped a dead byte (padding, stats)
      }
    }
    assert(rejected > 0)
  }

  test("deeper nesting rejects honestly") {
    val s = spark
    import s.implicits._
    val df = (0 until 10).map(i => (i.toLong, Seq(Seq(i, i + 1))))
      .toDF("id", "xs") // list<list<int>>: two repeated levels
    val bytes = writeOne(df, "snappy")
    assert(ParquetData.decodeFile(bytes).isEmpty)
    assert(ParquetData.decodeFileNested(bytes).isEmpty)
    // footer itself still parses (the audit layer is independent)
    assert(ParquetFooter.parse(bytes).isDefined)
    // the FLAT decoder still rejects one-level lists too
    val one = writeOne((0 until 10).map(i => (i.toLong, Seq(i)))
      .toDF("id", "xs"), "snappy")
    assert(ParquetData.decodeFile(one).isEmpty)
  }

  test("mutation fuzz: corrupted files never throw, never invent") {
    val df = mkDf(200)
    val bytes = writeOne(df, "snappy")
    val good = ParquetData.decodeFile(bytes)
    assert(good.isDefined)
    val rnd = new scala.util.Random(42)
    var changedOk = 0
    for (_ <- 0 until 300) {
      val m = bytes.clone()
      val i = rnd.nextInt(m.length)
      m(i) = (m(i) ^ (1 << rnd.nextInt(8))).toByte
      ParquetData.decodeFile(m) match {
        case None => // rejected: fine
        case Some(_) => changedOk += 1 // either untouched tail bytes
        // or a value flip inside a non-checksummed page body — the
        // format carries no per-page CRC by default, so in-shape
        // results are legal; the call just must not throw
      }
    }
    assert(changedOk >= 0)
  }
}
