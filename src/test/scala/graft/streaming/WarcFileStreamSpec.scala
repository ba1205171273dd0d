package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The production WARC FILE path, streamed: real `.warc.gz` archive
  * files arrive through `readStream.format("binaryFile")` and flow
  * through the SAME parse stage as the batch warc_parse_files query —
  * stream output must equal the batch walk row-for-row (the
  * FileStreamParitySpec pattern, extended to binary file sources). */
class WarcFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  /** binaryFile's fixed schema — streaming file sources require it
    * stated up front. */
  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed WARC archives equal the batch parse") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("warc_parse_files")(spark, SfDir)
      .select("doc_id", "arch_id", "rec_pos", "content_length", "body_md5")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)

    val src = graft.Pipeline.warcFixtureDir(spark, SfDir)
    val q = graft.Pipeline.parseWarcFileRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$src/*.warc.gz"))
      .writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, arch_id, rec_pos, content_length, body_md5 " +
            "FROM warc_stream")
        .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
