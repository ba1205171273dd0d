package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** WebDataset shards, streamed: real `.tar` files arrive through
  * `readStream.format("binaryFile")` and flow through the SAME parse
  * stage as the batch tar_parse_files query — stream output must
  * equal the batch walk row-for-row (the WarcFileStreamSpec pattern
  * on the tar container). */
class TarFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed tar shards equal the batch parse") {
    import spark.implicits._
    val batchDf = graft.Pipeline.queries("tar_parse_files")(spark, SfDir)
    val batch = batchDf
      .select("doc_id", "shard_id", "pos", "name", "size", "md5")
      .as[(Long, Long, Long, String, Long, String)]
      .collect().sortBy(r => (r._1, r._4)).toSeq
    assert(batch.nonEmpty)

    // the fixture dir the batch query just (idempotently) built
    val dir = graft.Pipeline.tarFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.parseTarFileRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/*.tar"))
      .writeStream.format("memory").queryName("tar_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, shard_id, pos, name, size, md5 FROM tar_stream")
        .as[(Long, Long, Long, String, Long, String)]
        .collect().sortBy(r => (r._1, r._4)).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
