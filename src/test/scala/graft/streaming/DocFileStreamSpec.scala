package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The mixed-document corpus, streamed: real PDF/EPUB/DOCX/EML/HTML
  * files arrive through `readStream.format("binaryFile")` and flow
  * through the SAME sniff+dispatch+extract stage as the batch
  * doc_ingest_dag query — stream output must equal the batch walk
  * row-for-row across all five extractor chains at once. */
class DocFileStreamSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  private val BinSchema = new StructType()
    .add("path", StringType)
    .add("modificationTime", TimestampType)
    .add("length", LongType)
    .add("content", BinaryType)

  test("binaryFile-streamed documents equal the batch extraction") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("doc_ingest_dag")(spark, SfDir)
      .select("doc_id", "fmt", "extracted", "n_chars")
      .as[(Long, String, String, Int)]
      .collect().sortBy(_._1).toSeq
    assert(batch.nonEmpty)
    assert(batch.map(_._2).distinct.sorted ==
      Seq("docx", "eml", "epub", "html", "pdf"))

    val dir = graft.Pipeline.docFixtureRoot(spark, SfDir)
    val q = graft.Pipeline.docFileRows(
        spark.readStream.format("binaryFile").schema(BinSchema)
          .load(s"$dir/doc-*")
          .select($"path", $"content")
          .as[(String, Array[Byte])])
      .writeStream.format("memory").queryName("doc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
          "SELECT doc_id, fmt, extracted, n_chars FROM doc_stream")
        .as[(Long, String, String, Int)]
        .collect().sortBy(_._1).toSeq
      assert(streamed == batch)
    } finally q.stop()
  }
}
