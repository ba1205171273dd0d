package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Mixed-media shards (gzip/LZ4/Snappy wrappers rotating by shard),
  * streamed: real files arrive through `readStream.format("binaryFile")`
  * and flow through the SAME unwrap → tar walk → sniff → decode →
  * verdict stage as the batch
  * media_ingest_files query — stream output must equal the batch
  * readout row-for-row (the Tar/WarcFileStreamSpec pattern over the
  * full multimodal decode dispatch). */
class MediaFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed media shards equal the batch readout") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("media_ingest_files")(spark, SfDir)
      .as[(Long, String, String, Long, Long, Long, Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(batch.exists(_._8 == 1L) && batch.exists(_._8 == 0L),
      "verdict mix expected")

    val dir = graft.Pipeline.mediaFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.parseMediaShardRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/shard-*"))
      .writeStream.format("memory").queryName("media_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("media_stream")
        .as[(Long, String, String, Long, Long, Long, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
