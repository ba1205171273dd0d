package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** HDF5 shards, streamed: real `.h5` files arrive through
  * `readStream.format("binaryFile")` and flow through the SAME
  * decode stage as the batch hdf5_parse_files query — stream output
  * must equal the batch walk row-for-row (the container-streaming
  * symmetry rule: every shard format gets batch + real files +
  * stream). */
class Hdf5FileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed h5 shards equal the batch decode") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("hdf5_parse_files")(
        spark, SfDir)
      .as[(Long, Long, Int, Long, Int)]
      .collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)

    val dir = graft.Pipeline.hdf5FixtureRoot(spark, SfDir)
    val q = graft.Pipeline.hdf5ShardRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .option("pathGlobFilter", "*.h5").load(dir)
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            (name.stripPrefix("shard-").stripSuffix(".h5").toLong,
              bytes)
          })
      .writeStream.format("memory").queryName("h5_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("h5_stream")
        .as[(Long, Long, Int, Long, Int)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
