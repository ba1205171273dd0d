package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `.jsonl.zst` shards, streamed: real files — the exact layout
  * public corpora publish — arrive through
  * `readStream.format("binaryFile")` and flow through the SAME
  * zstd-decode + strict-parse stage as the batch jsonl_zst_files
  * query; stream output must equal the batch walk row-for-row. */
class JsonlZstFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed jsonl.zst shards equal the batch parse") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("jsonl_zst_files")(spark, SfDir)
      .select("doc_id", "shard_id", "lang", "n_chars")
      .as[(Long, Long, Option[String], Long)]
      .collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(batch.exists(_._3.isEmpty), "omitted-lang branch present")

    val dir = graft.Pipeline.jsonlZstFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.jsonlZstRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/*.zst")
          .select($"path", $"content")
          .as[(String, Array[Byte])]
          .map { case (path, bytes) =>
            val name = path.substring(path.lastIndexOf('/') + 1)
            (name.stripPrefix("shard-").stripSuffix(".jsonl.zst").toLong,
              bytes)
          })
      .writeStream.format("memory").queryName("jsonlzst_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, shard_id, lang, n_chars FROM jsonlzst_stream")
        .as[(Long, Long, Option[String], Long)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
