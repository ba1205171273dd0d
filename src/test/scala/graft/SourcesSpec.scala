package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ArrowIpc, Avro}
import graft.sources.{ArrowSource, AvroSource}

/** The user-facing DataFrame sources: `.arrow` and `.avro` trees read
  * back as REAL typed Spark columns — nested list/struct/map/enum
  * shapes included — with one-file schema inference and a loud
  * mixed-schema failure. */
object SourcesSpec {
  final case class Sub(a: Long, b: Option[String])
  final case class Doc(id: Long, text: String, toks: Seq[Long],
    tags: Option[Seq[String]], sub: Sub, score: Double,
    flag: Boolean, blob: Array[Byte])
}

class SourcesSpec extends AnyFunSuite with LocalSpark {
  import SourcesSpec.{Doc, Sub}

  private def tmpDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toFile
    d.deleteOnExit()
    d
  }

  test("AvroSource: nested record/array/map/enum surface as Spark types") {
    val nf = Seq(
      Avro.NField("id", Avro.NPrim("long"), nullable = false),
      Avro.NField("xs",
        Avro.NArr(Avro.NPrim("long"), itemsNullable = true),
        nullable = true),
      Avro.NField("m",
        Avro.NMap(Avro.NPrim("string"), valuesNullable = false),
        nullable = false),
      Avro.NField("e", Avro.NEnum("col", Seq("red", "blue")),
        nullable = false),
      Avro.NField("sub", Avro.NRec("inner", Seq(
        Avro.NField("a", Avro.NPrim("long"), nullable = false),
        Avro.NField("b", Avro.NPrim("string"), nullable = true))),
        nullable = false))
    val dir = tmpDir("avrosrc")
    for (shard <- 0 until 3) {
      val rows: Seq[Avro.Row] = (0 until 5).map { j =>
        val i = shard * 5 + j
        Seq(
          Some(i.toLong),
          if (i % 6 == 3) None
          else Some((0 until i % 3).map(k =>
            if (k == 1) None else Some(i * 10L + k)): Seq[Option[Any]]),
          Some(Seq("k" -> Some(s"v$i")): Seq[(String, Option[Any])]),
          Some(Seq("red", "blue")(i % 2)),
          Some(Seq(Some(i * 3L),
            if (i % 4 == 1) None else Some(s"s$i")): Avro.Row))
      }
      java.nio.file.Files.write(
        new java.io.File(dir, f"part-$shard%03d.avro").toPath,
        Avro.buildNested("doc", nf, rows,
          if (shard % 2 == 0) "deflate" else "null"))
    }
    val df = AvroSource.read(spark, dir.getAbsolutePath)
    assert(df.schema == StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("xs", ArrayType(LongType, containsNull = true),
        nullable = true),
      StructField("m", MapType(StringType, StringType,
        valueContainsNull = false), nullable = false),
      StructField("e", StringType, nullable = false),
      StructField("sub", StructType(Seq(
        StructField("a", LongType, nullable = false),
        StructField("b", StringType, nullable = true))),
        nullable = false))))
    val got = df.orderBy("id").collect()
    assert(got.length == 15)
    for (i <- 0 until 15) {
      val r = got(i)
      assert(r.getLong(0) == i.toLong)
      if (i % 6 == 3) assert(r.isNullAt(1))
      else assert(r.getSeq[Any](1) == (0 until i % 3).map(k =>
        if (k == 1) null else i * 10L + k))
      assert(r.getMap[String, String](2) == Map("k" -> s"v$i"))
      assert(r.getString(3) == Seq("red", "blue")(i % 2))
      val sub = r.getStruct(4)
      assert(sub.getLong(0) == i * 3L)
      if (i % 4 == 1) assert(sub.isNullAt(1))
      else assert(sub.getString(1) == s"s$i")
    }
    // SQL works over the nested columns — the whole point of the API
    df.createOrReplaceTempView("avro_src")
    val agg = spark.sql(
      """SELECT e, count(*) AS n, sum(sub.a) AS sa,
        |  sum(size(xs)) AS sx
        |FROM avro_src GROUP BY e ORDER BY e""".stripMargin).collect()
    assert(agg.map(_.getString(0)).toSeq == Seq("blue", "red"))
  }

  test("ArrowSource: nested list + struct surface as Spark types") {
    // reuse the engine-side arrow-java nested builder via a real file
    // write: list<int64?> + struct<int64, utf8?>
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.complex.{ListVector, StructVector}
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field,
      FieldType, Schema => ASchema}
    import scala.jdk.CollectionConverters._
    val dir = tmpDir("arrowsrc")
    for (shard <- 0 until 2) {
      val schema = new ASchema(Seq(
        new Field("id", new FieldType(false,
          new ArrowType.Int(64, true), null), null),
        new Field("xs", new FieldType(true, ArrowType.List.INSTANCE,
          null), Seq(new Field("item", new FieldType(true,
          new ArrowType.Int(64, true), null), null)).asJava),
        new Field("sub", new FieldType(false,
          ArrowType.Struct.INSTANCE, null), Seq(
          new Field("a", new FieldType(false,
            new ArrowType.Int(64, true), null), null),
          new Field("b", new FieldType(true, ArrowType.Utf8.INSTANCE,
            null), null)).asJava)).asJava)
      val alloc = new RootAllocator()
      val root = VectorSchemaRoot.create(schema, alloc)
      root.allocateNew()
      val ids = root.getVector("id").asInstanceOf[BigIntVector]
      val xs = root.getVector("xs").asInstanceOf[ListVector]
      val xsData = xs.getDataVector.asInstanceOf[BigIntVector]
      val sub = root.getVector("sub").asInstanceOf[StructVector]
      val a = sub.getChild("a").asInstanceOf[BigIntVector]
      val b = sub.getChild("b").asInstanceOf[VarCharVector]
      var off = 0
      for (j <- 0 until 6) {
        val i = shard * 6 + j
        ids.setSafe(j, i.toLong)
        if (i % 5 == 4) xs.setNull(j)
        else {
          xs.startNewValue(j)
          for (k <- 0 until i % 3) {
            if (k == 1) xsData.setNull(off + k)
            else xsData.setSafe(off + k, i * 10L + k)
          }
          xs.endValue(j, i % 3)
          off += i % 3
        }
        sub.setIndexDefined(j)
        a.setSafe(j, i * 2L)
        if (i % 4 == 3) b.setNull(j) else b.setSafe(j,
          s"t$i".getBytes("UTF-8"))
      }
      root.setRowCount(6)
      val buf = new java.io.ByteArrayOutputStream()
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root,
        null, java.nio.channels.Channels.newChannel(buf))
      w.start(); w.writeBatch(); w.end(); w.close()
      root.close(); alloc.close()
      java.nio.file.Files.write(
        new java.io.File(dir, f"part-$shard%03d.arrow").toPath,
        buf.toByteArray)
    }
    val df = ArrowSource.read(spark, dir.getAbsolutePath)
    assert(df.schema("xs").dataType ==
      ArrayType(LongType, containsNull = true))
    assert(df.schema("sub").dataType == StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType, nullable = true))))
    val got = df.orderBy("id").collect()
    assert(got.length == 12)
    for (i <- 0 until 12) {
      val r = got(i)
      assert(r.getLong(0) == i.toLong)
      if (i % 5 == 4) assert(r.isNullAt(1))
      else assert(r.getSeq[Any](1) == (0 until i % 3).map(k =>
        if (k == 1) null else i * 10L + k))
      assert(r.getStruct(2).getLong(0) == i * 2L)
    }
    // SQL over list + struct columns
    df.createOrReplaceTempView("arrow_src")
    val n = spark.sql(
      "SELECT sum(sub.a) FROM arrow_src WHERE xs IS NOT NULL")
      .collect()(0).getLong(0)
    assert(n == (0 until 12).filter(_ % 5 != 4).map(_ * 2L).sum)
  }

  test("readStream == read on the same tree (both sources)") {
    val dir = tmpDir("srcstream")
    val nf = Seq(
      Avro.NField("id", Avro.NPrim("long"), nullable = false),
      Avro.NField("xs",
        Avro.NArr(Avro.NPrim("long"), itemsNullable = false),
        nullable = false))
    for (shard <- 0 until 4) {
      val rows: Seq[Avro.Row] = (0 until 7).map { j =>
        val i = shard * 7 + j
        Seq(Some(i.toLong),
          Some((0 until i % 4).map(k =>
            Some(i * 5L + k): Option[Any]): Seq[Option[Any]]))
      }
      java.nio.file.Files.write(
        new java.io.File(dir, f"p-$shard%02d.avro").toPath,
        Avro.buildNested("d", nf, rows))
    }
    val batch = AvroSource.read(spark, dir.getAbsolutePath)
      .selectExpr("id", "size(xs) AS n", "aggregate(xs, 0L, (a,x) -> a + x) AS sx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(batch.length == 28)
    val q = AvroSource.readStream(spark, dir.getAbsolutePath)
      .selectExpr("id", "size(xs) AS n", "aggregate(xs, 0L, (a,x) -> a + x) AS sx")
      .writeStream.format("memory").queryName("avro_src_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql("SELECT * FROM avro_src_stream")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }

  test("ArrowSink round trip: DataFrame -> .arrow tree -> DataFrame") {
    import spark.implicits._
    val dir = tmpDir("arrowsink")
    val docs = (0 until 257).map { i => // crosses a 128-row batch edge
      Doc(i.toLong, s"text-$i-" + ("x" * (i % 7)),
        (0 until i % 5).map(k => i * 10L + k),
        if (i % 6 == 3) None else Some((0 until i % 3).map(k => s"t$k")),
        Sub(i * 2L, if (i % 4 == 1) None else Some(s"s$i")),
        i * 0.25, i % 3 == 0,
        Array.tabulate[Byte](i % 9)(k => (i + k).toByte))
    }
    val df = spark.createDataset(docs).toDF().repartition(3)
    graft.sources.ArrowSink.write(df, dir.getAbsolutePath,
      rowsPerBatch = 128)
    val files = dir.listFiles().filter(_.getName.endsWith(".arrow"))
    assert(files.length == 3)
    // our reader consumes the tree
    val back = ArrowSource.read(spark, dir.getAbsolutePath)
      .orderBy("id").collect()
    assert(back.length == 257)
    for (i <- 0 until 257) {
      val r = back(i)
      val d = docs(i)
      assert(r.getLong(0) == d.id && r.getString(1) == d.text)
      assert(r.getSeq[Long](2) == d.toks)
      if (d.tags.isEmpty) assert(r.isNullAt(3))
      else assert(r.getSeq[String](3) == d.tags.get)
      val sub = r.getStruct(4)
      assert(sub.getLong(0) == d.sub.a)
      assert(Option(sub.getString(1)) == d.sub.b)
      assert(r.getDouble(5) == d.score && r.getBoolean(6) == d.flag)
      assert(r.getAs[Array[Byte]](7).sameElements(d.blob))
    }
    // arrow-java's own reader also consumes the tree (independent)
    val alloc = new org.apache.arrow.memory.RootAllocator()
    val ch = java.nio.channels.FileChannel.open(
      files.sortBy(_.getName).head.toPath)
    val rd = new org.apache.arrow.vector.ipc.ArrowFileReader(ch, alloc)
    var total = 0
    while (rd.loadNextBatch()) total += rd.getVectorSchemaRoot.getRowCount
    rd.close(); ch.close(); alloc.close()
    assert(total > 0 && total <= 257)
    // an exotic scalar still rejects loudly at schema time
    val bad = spark.createDataset(Seq((1L, "x")))
      .toDF("i", "s")
      .withColumn("c", org.apache.spark.sql.functions
        .expr("current_timestamp()"))
    val ex = intercept[IllegalArgumentException] {
      graft.sources.ArrowSink.write(bad, tmpDir("x").getAbsolutePath)
    }
    assert(ex.getMessage.contains("cannot write column"))
  }

  test("ArrowSink round trip: MapType + DecimalType columns") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val dir = tmpDir("arrowsinkmap")
    val df = spark.createDataset((0 until 67).map { i =>
      (i.toLong,
        if (i % 9 == 4) null
        else (0 until i % 4).map(k => (s"k$k", i * 10L + k)).toMap,
        (i * 13 + 7).toString)
    }).toDF("id", "m", "ds")
      .withColumn("dec", expr("cast(ds as decimal(12,3)) / 100"))
      .drop("ds")
    graft.sources.ArrowSink.write(df, dir.getAbsolutePath,
      rowsPerBatch = 16)
    val back = ArrowSource.read(spark, dir.getAbsolutePath)
      .orderBy("id").collect()
    assert(back.length == 67)
    for (i <- 0 until 67) {
      val r = back(i)
      if (i % 9 == 4) assert(r.isNullAt(1))
      else assert(r.getMap[String, Long](1).toMap ==
        (0 until i % 4).map(k => (s"k$k", i * 10L + k)).toMap)
      // decimal survives with exact scale: (i*13+7)/100 at scale 3+
      val d = r.getDecimal(2)
      assert(d.compareTo(new java.math.BigDecimal(i * 13 + 7)
        .movePointLeft(2)) == 0)
    }
    // the read-back schema carries real Spark Map/Decimal types
    val sch = ArrowSource.read(spark, dir.getAbsolutePath).schema
    assert(sch("m").dataType.isInstanceOf[
      org.apache.spark.sql.types.MapType])
    assert(sch("dec").dataType.isInstanceOf[
      org.apache.spark.sql.types.DecimalType])
  }

  test("AvroSink round trip: DataFrame -> .avro tree -> both readers") {
    import spark.implicits._
    val dir = tmpDir("avrosink")
    val docs = (0 until 123).map { i =>
      Doc(i.toLong, s"d-$i", (0 until i % 4).map(k => i + k.toLong),
        if (i % 5 == 2) None else Some(Seq(s"a$i", "b")),
        Sub(i.toLong * 3, if (i % 3 == 1) None else Some(s"z$i")),
        i * 0.5, i % 2 == 0,
        Array.tabulate[Byte](i % 5)(k => (i - k).toByte))
    }
    val df = spark.createDataset(docs).toDF().repartition(2)
    graft.sources.AvroSink.write(df, dir.getAbsolutePath,
      codec = "zstandard", blockRows = 16)
    assert(dir.listFiles().count(_.getName.endsWith(".avro")) == 2)
    // our source reads it back
    val back = AvroSource.read(spark, dir.getAbsolutePath)
      .orderBy("id").collect()
    assert(back.length == 123)
    for (i <- 0 until 123) {
      val r = back(i); val d = docs(i)
      assert(r.getLong(0) == d.id && r.getString(1) == d.text)
      assert(r.getSeq[Long](2) == d.toks)
      if (d.tags.isEmpty) assert(r.isNullAt(3))
      else assert(r.getSeq[String](3) == d.tags.get)
      val sub = r.getStruct(4)
      assert(sub.getLong(0) == d.sub.a &&
        Option(sub.getString(1)) == d.sub.b)
      assert(r.getAs[Array[Byte]](7).sameElements(d.blob))
    }
    // avro-java reads our containers too (independent reader)
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val bytes = java.nio.file.Files.readAllBytes(
      dir.listFiles().filter(_.getName.endsWith(".avro"))
        .sortBy(_.getName).head.toPath)
    val rd = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(bytes),
      new GenericDatumReader[GenericRecord]())
    var n = 0
    while (rd.hasNext) { rd.next(); n += 1 }
    rd.close()
    assert(n > 0 && n <= 123)
  }

  test("AvroSink/AvroSource: logical types round trip as Spark " +
    "Date/Timestamp/Decimal") {
    import spark.implicits._
    import org.apache.spark.sql.functions.expr
    val dir = tmpDir("avrological")
    val df = spark.createDataset((0 until 90).map(i => i.toLong))
      .toDF("id")
      .withColumn("d", expr("date_add(date'2020-01-01', " +
        "cast(id as int))"))
      .withColumn("ts", expr(
        "timestamp_micros(id * 86400000000 + id * 123457)"))
      .withColumn("dec", expr(
        "cast(cast(id * 13 + 7 as string) as decimal(14,3)) / 100"))
    graft.sources.AvroSink.write(df, dir.getAbsolutePath,
      codec = "deflate")
    val back = AvroSource.read(spark, dir.getAbsolutePath)
    val sch = back.schema
    assert(sch("d").dataType == org.apache.spark.sql.types.DateType)
    assert(sch("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // division widened the declared type — the round trip must
    // carry whatever precision/scale the frame really has
    assert(sch("dec").dataType == df.schema("dec").dataType)
    // value-exact: the round trip must be the identity
    assert(back.exceptAll(df).count() == 0 &&
      df.exceptAll(back).count() == 0)
    // the independent avro-java reader sees the logical types too
    val f = dir.listFiles().filter(_.getName.endsWith(".avro"))
      .sortBy(_.getName).head
    val rd = new org.apache.avro.file.DataFileReader(
      f, new org.apache.avro.generic.GenericDatumReader[Any]())
    val schema = rd.getSchema
    def lt(field: String): String = {
      val s0 = schema.getField(field).schema()
      val s = if (s0.getType ==
        org.apache.avro.Schema.Type.UNION)
        s0.getTypes.get(1) else s0
      Option(s.getLogicalType).map(_.getName).getOrElse("none")
    }
    assert(lt("d") == "date" && lt("ts") == "timestamp-micros" &&
      lt("dec") == "decimal")
    rd.close()
  }

  test("mixed-schema trees fail loudly, not silently merge") {
    val dir = tmpDir("avromix")
    val f1 = Seq(Avro.NField("id", Avro.NPrim("long"), nullable = false))
    val f2 = Seq(Avro.NField("id", Avro.NPrim("string"), nullable = false))
    java.nio.file.Files.write(new java.io.File(dir, "a.avro").toPath,
      Avro.buildNested("r", f1, Seq(Seq(Some(1L)))))
    java.nio.file.Files.write(new java.io.File(dir, "b.avro").toPath,
      Avro.buildNested("r", f2, Seq(Seq(Some("x")))))
    val ex = intercept[org.apache.spark.SparkException] {
      AvroSource.read(spark, dir.getAbsolutePath).count()
    }
    assert(ex.getMessage.contains("schema mismatch") ||
      String.valueOf(ex.getCause).contains("schema mismatch"))
  }
}
