package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Arrow IPC shards, streamed: real `.arrow` files arrive through
  * `readStream.format("binaryFile")` and flow through the SAME parse
  * stage as the batch arrow_ipc_files query — stream output must
  * equal the batch walk row-for-row (the container-streaming
  * symmetry rule: every shard format gets batch + real files +
  * stream). */
class ArrowFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed arrow shards equal the batch parse") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("arrow_ipc_files")(spark, SfDir)
      .select("doc_id", "shard_id", "len", "md5", "label", "score")
      .as[(Long, Long, Long, String, Option[String], Double)]
      .collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(batch.exists(_._5.isEmpty), "null label branch present")

    val dir = graft.Pipeline.arrowFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.arrowShardRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/*.arrow")
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            (name.stripPrefix("shard-").stripSuffix(".arrow").toLong,
              bytes)
          })
      .writeStream.format("memory").queryName("arrow_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, shard_id, len, md5, label, score " +
            "FROM arrow_stream")
        .as[(Long, Long, Long, String, Option[String], Double)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
