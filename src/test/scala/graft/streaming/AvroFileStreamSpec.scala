package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Avro container shards, streamed: real `.avro` files arrive through
  * `readStream.format("binaryFile")` and flow through the SAME parse
  * stage as the batch avro_parse_files query — stream output must
  * equal the batch walk row-for-row (the container-streaming symmetry
  * rule: every shard format gets batch + real files + stream). */
class AvroFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed avro shards equal the batch parse") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("avro_parse_files")(spark, SfDir)
      .select("doc_id", "shard_id", "codec", "len", "md5", "label", "score")
      .as[(Long, Long, String, Long, String, Option[String], Double)]
      .collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(batch.exists(_._6.isEmpty), "null union branch present")
    assert(batch.exists(_._3 == "deflate") && batch.exists(_._3 == "null"))

    // the fixture dir the batch query just (idempotently) built
    val dir = graft.Pipeline.avroFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.avroShardRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/*.avro")
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            (name.stripPrefix("shard-").stripSuffix(".avro").toLong, bytes)
          })
      .writeStream.format("memory").queryName("avro_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, shard_id, codec, len, md5, label, score " +
            "FROM avro_stream")
        .as[(Long, Long, String, Long, String, Option[String], Double)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
