package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** ZIP shards, streamed: real `.zip` archives arrive through
  * `readStream.format("binaryFile")` and flow through the SAME parse
  * stage as the batch zip_parse_files query — stream output must
  * equal the batch walk row-for-row (the TarFileStreamSpec pattern
  * on the ZIP container, closing r9's container-streaming
  * asymmetry). */
class ZipFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed zip shards equal the batch parse") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("zip_parse_files")(spark, SfDir)
      .select("doc_id", "shard_id", "name", "method", "size", "md5")
      .as[(Long, Long, String, Int, Long, String)]
      .collect().sortBy(r => (r._1, r._3)).toSeq
    assert(batch.nonEmpty)

    // the fixture dir the batch query just (idempotently) built
    val dir = graft.Pipeline.zipFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.parseZipFileRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/*.zip"))
      .writeStream.format("memory").queryName("zip_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, shard_id, name, method, size, md5 " +
            "FROM zip_stream")
        .as[(Long, Long, String, Int, Long, String)]
        .collect().sortBy(r => (r._1, r._3)).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
