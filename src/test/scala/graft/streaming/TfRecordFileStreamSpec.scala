package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** TFRecord shards, streamed: real `.tfrecord` files arrive through
  * `readStream.format("binaryFile")` and flow through the SAME parse
  * stage as the batch tfrecord_parse_files query — stream output must
  * equal the batch walk row-for-row, both masked CRC32Cs verified per
  * record (the TarFileStreamSpec pattern on the TFRecord container,
  * closing r9's container-streaming asymmetry). */
class TfRecordFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed tfrecord shards equal the batch parse") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("tfrecord_parse_files")(spark, SfDir)
      .select("shard_id", "pos", "length", "md5")
      .as[(Long, Long, Long, String)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(batch.nonEmpty)

    // the fixture dir the batch query just (idempotently) built
    val dir = graft.Pipeline.tfrecordFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.parseTfRecordFileRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/*.tfrecord"))
      .writeStream.format("memory").queryName("tfrecord_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT shard_id, pos, length, md5 FROM tfrecord_stream")
        .as[(Long, Long, Long, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
