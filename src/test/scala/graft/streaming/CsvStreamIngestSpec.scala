package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming twin of the PERMISSIVE CSV ingest: the same corrupt-
  * record-routing read runs as a standing file-source query with a
  * complete-mode aggregate, and must land exactly the batch
  * csv_ingest counts — the arriving-files deployment shape for
  * messy-delivery corpora. */
class CsvStreamIngestSpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  test("file-streamed PERMISSIVE csv equals the batch ingest counts") {
    import spark.implicits._
    val batch = graft.Pipeline.queries("csv_ingest")(spark, SfDir)
      .as[(Long, Long, Long, Long)].collect().head

    // the same fixture tree the batch query just built
    val root = graft.Pipeline.csvFixtureRoot(spark, SfDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, lang STRING, n_chars LONG, _bad STRING")
    val q = spark.readStream.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(root)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("_bad").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_bad").isNull, col("n_chars")).otherwise(0L))
          .as("sum_chars"))
      .writeStream.format("memory").queryName("csv_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("csv_stream")
        .as[(Long, Long, Long, Long)].collect().head
      assert(streamed == batch)
      assert(batch._1 > 0 && batch._2 > 0)
    } finally q.stop()
  }
}
