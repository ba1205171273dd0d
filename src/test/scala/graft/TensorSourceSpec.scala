package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Safetensors
import graft.sources.{TensorSink, TensorSource}

/** The user-facing tensor-shard API: DataFrame → `.safetensors`
  * tree → DataFrame round trips (scalars + array columns, every
  * writable type), F16/BF16 files read back as floats, the
  * streaming twin equals the batch read, and the loud failures —
  * ragged arrays, NULL cells, rank-3 tensors, mixed-schema trees,
  * row-count disagreement inside a file. */
class TensorSourceSpec extends AnyFunSuite with LocalSpark {

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  test("sink → source round trip across writable types") {
    val s = spark
    import s.implicits._
    val df = (0 until 20).map { i =>
      (i.toLong, i, i.toShort, i.toByte, i % 2 == 0, i * 0.5,
        i * 0.25f, Seq.tabulate(4)(j => (i * 4 + j).toFloat))
    }.toDF("l", "i", "s", "b", "bool", "d", "f", "emb")
    val dir = tmpDir("tsrc")
    TensorSink.write(df.repartition(3), dir, Map("k" -> "v"))
    val back = TensorSource.read(spark, dir)
    assert(back.schema("l").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(back.schema("emb").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
    val got = back.select($"l", $"i", $"s", $"b", $"bool", $"d",
      $"f", $"emb")
      .as[(Long, Int, Short, Byte, Boolean, Double, Float,
        Seq[Float])]
      .collect().sortBy(_._1).toSeq
    val want = df.as[(Long, Int, Short, Byte, Boolean, Double,
      Float, Seq[Float])].collect().sortBy(_._1).toSeq
    assert(got == want)
  }

  test("F16/BF16 shards read back as exact half-float values") {
    val dir = tmpDir("tsrc_f16")
    val xs = Seq(1.0f, -2.0f, 0.5f, 65504.0f) // f16-exact
    val bfs = Seq(1.0f, -2.0f, 0.5f, 3.5f)    // bf16-exact
    val halfBytes = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    xs.foreach(x => halfBytes.putShort(Safetensors.floatToHalf(x)))
    val bfBytes = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bfs.foreach { x =>
      bfBytes.putShort((java.lang.Float.floatToIntBits(x) >>> 16)
        .toShort)
    }
    val bytes = Safetensors.build(Seq(
      Safetensors.Tensor("h", "F16", Seq(4), halfBytes.array()),
      Safetensors.Tensor("bf", "BF16", Seq(4), bfBytes.array())))
    java.nio.file.Files.write(java.nio.file.Paths.get(
      dir, "a.safetensors"), bytes)
    val got = TensorSource.read(spark, dir)
      .collect().map(r => (r.getFloat(0), r.getFloat(1)))
    assert(got.map(_._1).toSet == xs.toSet)
    assert(got.map(_._2).toSet == bfs.toSet)
  }

  test("F8 shards read back as Float columns (E4M3-FN and E5M2)") {
    val dir = tmpDir("tsrc_f8")
    // E4M3-FN: 0x38=1.0 0xc0=-2.0 0x7e=448 0x01=2^-9
    // E5M2:    0x3c=1.0 0xc0=-2.0 0x7b=57344 0x01=2^-16
    val bytes = Safetensors.build(Seq(
      Safetensors.Tensor("a", "F8_E4M3", Seq(4),
        Array(0x38, 0xc0, 0x7e, 0x01).map(_.toByte)),
      Safetensors.Tensor("b", "F8_E5M2", Seq(4),
        Array(0x3c, 0xc0, 0x7b, 0x01).map(_.toByte))))
    java.nio.file.Files.write(java.nio.file.Paths.get(
      dir, "a.safetensors"), bytes)
    val got = TensorSource.read(spark, dir)
      .collect().map(r => (r.getFloat(0), r.getFloat(1)))
    assert(got.map(_._1).toSet ==
      Set(1f, -2f, 448f, math.pow(2, -9).toFloat))
    assert(got.map(_._2).toSet ==
      Set(1f, -2f, 57344f, math.pow(2, -16).toFloat))
  }

  test("streaming twin equals the batch read") {
    val s = spark
    import s.implicits._
    val df = (0 until 30).map(i =>
      (i.toLong, Seq(i.toFloat, -i.toFloat))).toDF("id", "v")
    val dir = tmpDir("tsrc_stream")
    TensorSink.write(df.repartition(4), dir)
    val q = TensorSource.readStream(spark, dir)
      .writeStream.format("memory").queryName("tsrc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tsrc_stream")
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
      val batch = TensorSource.read(spark, dir)
        .as[(Long, Seq[Float])].collect().sortBy(_._1).toSeq
      assert(streamed == batch && batch.length == 30)
    } finally q.stop()
  }

  test("loud failures: ragged, NULL, rank-3, mixed schema") {
    val s = spark
    import s.implicits._
    val dir = tmpDir("tsrc_bad")
    // ragged array column
    val ragged = Seq((1L, Seq(1f, 2f)), (2L, Seq(1f))).toDF("id", "v")
    assertThrows[org.apache.spark.SparkException](
      TensorSink.write(ragged.coalesce(1), tmpDir("tsrc_rag")))
    // NULL cell
    val withNull = Seq((1L, Some(Seq(1f))), (2L, None))
      .toDF("id", "v")
    assertThrows[org.apache.spark.SparkException](
      TensorSink.write(withNull.coalesce(1), tmpDir("tsrc_null")))
    // unsupported column type fails fast on the driver
    assertThrows[IllegalArgumentException](
      TensorSink.write(Seq((1L, "x")).toDF("id", "s"), dir))
    // rank-3 tensor rejects at read
    val r3 = Safetensors.build(Seq(Safetensors.Tensor(
      "t", "F32", Seq(2, 2, 2), new Array[Byte](32))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "r3.safetensors"), r3)
    assertThrows[IllegalArgumentException](
      TensorSource.read(spark, dir).collect())
    // first-dim disagreement inside one file rejects
    val dir2 = tmpDir("tsrc_n")
    val badN = Safetensors.build(Seq(
      Safetensors.Tensor("a", "I64", Seq(2), new Array[Byte](16)),
      Safetensors.Tensor("b", "I64", Seq(3), new Array[Byte](24))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir2, "n.safetensors"), badN)
    assertThrows[IllegalArgumentException](
      TensorSource.read(spark, dir2).collect())
    // mixed-schema tree fails loudly
    val dir3 = tmpDir("tsrc_mix")
    TensorSink.write(Seq((1L, 2L)).toDF("a", "b").coalesce(1), dir3)
    val other = Safetensors.build(Seq(Safetensors.Tensor(
      "z", "F32", Seq(1), new Array[Byte](4))))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir3, "zz.safetensors"), other)
    assertThrows[org.apache.spark.SparkException](
      TensorSource.read(spark, dir3).collect())
  }
}
