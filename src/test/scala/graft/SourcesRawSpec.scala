package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ParquetRawSource

/** [[ParquetRawSource]] pins: Spark-written parquet trees read back
  * through the FROM-SCRATCH decoder as typed DataFrames —
  * value-exact vs Spark's own reader across types (incl. UTF8
  * strings, dates and micros timestamps via ConvertedType), nulls
  * and codecs; our own ParquetWrite trees too; nested schemas and
  * schema drift reject loudly. */
class SourcesRawSpec extends AnyFunSuite with LocalSpark {

  test("Spark-written tree reads back value-exactly, typed") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_praw").toString
    val df = (0 until 900).map { i =>
      (i.toLong,
        if (i % 7 == 3) None else Some(i - 500),
        if (i % 13 == 9) None else Some(s"v${i % 23}-é$i"),
        i * 0.25 - 3.0,
        java.sql.Date.valueOf(java.time.LocalDate
          .ofEpochDay(18000L + i % 400)),
        java.sql.Timestamp.from(java.time.Instant
          .ofEpochSecond(1600000000L + i, (i % 1000) * 1000L)))
    }.toDF("id", "i", "s", "d", "day", "ts")
    df.repartition(3).write.mode("overwrite")
      .option("compression", "zstd").parquet(dir)
    val got = ParquetRawSource.read(spark, dir)
    assert(got.schema("s").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(got.schema("day").dataType ==
      org.apache.spark.sql.types.DateType)
    assert(got.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    val exp = spark.read.parquet(dir)
    val key: org.apache.spark.sql.Row => Long = _.getLong(0)
    val a = got.collect().sortBy(key).map(_.toSeq).toSeq
    val b = exp.collect().sortBy(key).map(_.toSeq).toSeq
    assert(a.length == 900)
    assert(a == b)
  }

  test("our own ParquetWrite trees read back; rejections are loud") {
    val s = spark
    import s.implicits._
    import graft.operators.ParquetWrite
    val dir = java.nio.file.Files
      .createTempDirectory("graft_praw2").toString
    val cols = Seq(
      ParquetWrite.WCol("id", "i64", optional = false,
        (0 until 50).map(i => Some(i.toLong))),
      ParquetWrite.WCol("s", "string", optional = true,
        (0 until 50).map(i =>
          if (i % 5 == 0) None else Some(s"w$i"))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "a.parquet"),
      ParquetWrite.build(cols, "snappy"))
    val got = ParquetRawSource.read(spark, dir)
    assert(got.count() == 50)
    assert(got.where("s is null").count() == 10)
    assert(got.where("id = 7 and s = 'w7'").count() == 1)
    // schema drift across files rejects
    val dir3 = java.nio.file.Files
      .createTempDirectory("graft_praw4").toString
    Seq((1L, "a")).toDF("id", "s").write
      .parquet(s"$dir3/p1")
    Seq((1L, 2.0)).toDF("id", "x").write
      .parquet(s"$dir3/p2")
    val flat = new java.io.File(dir3)
    // move part files side by side
    Seq("p1", "p2").foreach { sub =>
      new java.io.File(flat, sub).listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          java.nio.file.Files.move(f.toPath,
            new java.io.File(flat, s"$sub-${f.getName}").toPath)
        }
    }
    val e2 = intercept[Exception](
      ParquetRawSource.read(spark, dir3).count())
    def chain(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    assert(chain(e2).exists(_.contains("schema drift")))
  }

  test("nested schemas surface as real array/struct/map columns") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_praw_nested").toString
    val df = (0 until 400).map { i =>
      (i.toLong,
        if (i % 9 == 4) None
        else Some((0 until i % 4).map(j =>
          if ((i + j) % 7 == 5) None else Some(i * 10 + j))),
        if (i % 11 == 6) None
        else Some((i.toLong * 3,
          if (i % 5 == 2) None else Some(s"n$i"))),
        if (i % 13 == 8) None
        else Some(Map(s"k${i % 3}" -> i.toLong,
          "fixed" -> (i % 17).toLong)))
    }.toDF("id", "xs", "st", "m")
    df.repartition(2).write.mode("overwrite").parquet(dir)
    val got = ParquetRawSource.read(spark, dir)
    assert(got.schema("xs").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
    assert(got.schema("st").dataType.isInstanceOf[
      org.apache.spark.sql.types.StructType])
    assert(got.schema("m").dataType.isInstanceOf[
      org.apache.spark.sql.types.MapType])
    val exp = spark.read.parquet(dir)
    def norm(r: org.apache.spark.sql.Row): Seq[Any] =
      r.toSeq.map {
        case xs: Seq[_] => xs.toList
        case m: Map[_, _] => m.toList.sortBy(_._1.toString)
        case st: org.apache.spark.sql.Row => st.toSeq.toList
        case x => x
      }
    val a = got.collect().sortBy(_.getLong(0)).map(norm).toSeq
    val b = exp.collect().sortBy(_.getLong(0)).map(norm).toSeq
    assert(a.length == 400)
    assert(a == b)
  }

  test("projection decodes ONLY the projected columns' chunks") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_praw_proj").toString
    (0 until 200).map(i => (i.toLong, s"s$i", i * 0.5))
      .toDF("id", "txt", "x")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // decode-counter pin: 1 file × 1 row group × 1 projected leaf
    val before = graft.operators.ParquetData.chunksDecoded.get()
    val got = ParquetRawSource.read(spark, dir,
      columns = Seq("id")).collect()
    val delta = graft.operators.ParquetData.chunksDecoded.get() -
      before
    assert(got.map(_.getLong(0)).sorted.toSeq ==
      (0L until 200L).toSeq)
    assert(got.head.schema.fieldNames.toSeq == Seq("id"))
    assert(delta == 1L,
      s"projected read walked $delta chunks, expected 1")
    // belt and braces: corrupt an UNPROJECTED column's pages —
    // projected reads stay green, full reads fail loudly
    val file = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(file.toPath)
    val foot = graft.operators.ParquetFooter.parse(bytes).get
    val txtCol = foot.rowGroups.head.columns
      .find(_.path == "txt").get
    val off = txtCol.dictPageOffset
      .map(d => math.min(d, txtCol.dataPageOffset))
      .getOrElse(txtCol.dataPageOffset).toInt
    java.util.Arrays.fill(bytes, off,
      off + txtCol.totalCompressed.toInt, 0x5a.toByte)
    java.nio.file.Files.write(file.toPath, bytes)
    // the in-place edit invalidates Hadoop's local-FS .crc sidecar
    new java.io.File(file.getParentFile,
      s".${file.getName}.crc").delete(): Unit
    assert(ParquetRawSource.read(spark, dir,
      columns = Seq("id", "x")).count() == 200)
    val e = intercept[Exception](
      ParquetRawSource.read(spark, dir).count())
    def chain(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    assert(chain(e).exists(_.contains("do not decode")))
    // unknown projected names reject on the driver
    val e2 = intercept[Exception](
      ParquetRawSource.read(spark, dir, columns = Seq("nope")))
    assert(e2.getMessage.contains("nope"))
  }
}
