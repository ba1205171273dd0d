package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Stream/batch parity driven by the FILE streaming source — the
  * deployment shape (`readStream.parquet` over an arriving directory)
  * rather than MemoryStream: the sf0.001 corpus streams through
  * StreamingRegistry and StreamingGeoCoincidence and must land exactly
  * the batch folds/components. Closes the R1/R7/C5 "spec-only" gap with
  * real-corpus data. */
class FileStreamParitySpec extends AnyFunSuite with LocalSpark {

  private val SfDir = "/root/testdata/sf0.001"

  /** Copy the events parquet into a temp dir usable as a file-source
    * root (and appendable for watermark-advancing sentinel files). */
  private def stageSource(): String = {
    val dir = java.nio.file.Files.createTempDirectory("fstream").toString
    graft.Tables.events(spark, SfDir).write.mode("append").parquet(dir)
    dir
  }

  test("R1/R4/R11: file-streamed registry equals the batch folds") {
    import spark.implicits._
    val batch = graft.Tables.events(spark, SfDir)
      .select(col("event_id"), col("user_id").as("station"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("event_id") % 65536L).as("counter"))
      .cache()
    // batch expectation: per-station count, fixed-point mean, and the R4
    // wraparound progress sum ordered by (ts, event_id)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("station").orderBy("ts", "event_id")
    val expected = batch
      .withColumn("prev", lag("counter", 1).over(w))
      .withColumn("delta", when(col("prev").isNull, 0L)
        .when(col("counter") > col("prev"), col("counter") - col("prev"))
        .otherwise(col("counter") + 65535L - col("prev")))
      .groupBy("station")
      .agg(count(lit(1)).as("n"),
        (sum("cents") / 100.0 / count(lit(1))).as("mean"),
        sum("delta").as("progress"))
      .as[(Long, Long, Double, Long)].collect()
      .map { case (st, n, m, p) => st -> ((n, m, p)) }.toMap

    val src = stageSource()
    val stream = spark.readStream
      .schema(graft.Tables.events(spark, SfDir).schema)
      .parquet(src)
      .select(col("user_id").as("station"), col("ts").as("startNs"),
        round(col("value") * 100).cast("long").as("valueCents"),
        (col("event_id") % 65536L).as("counter"))
      .as[StationEvent]
    val q = StreamingRegistry.registryStream(stream,
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("update")
      .format("memory").queryName("filereg").start()
    try {
      q.processAllAvailable()
      val got = spark.table("filereg").as[StationUpdate].collect()
        .groupBy(_.station).view.mapValues(_.last)
        .map { case (st, u) => st -> ((u.nEvents, u.meanValue, u.progress)) }
        .toMap
      assert(got.keySet == expected.keySet)
      for ((st, exp) <- expected)
        assert(got(st) == exp, s"station $st")
      assert(expected.size >= 10)
    } finally q.stop()
  }

  test("C4/C5: file-streamed coincidence clusters equal batch sessions") {
    import spark.implicits._
    val gap = graft.Detector.GapNs
    val batch = graft.Geodesic.queries("coincidence_geo")(spark, SfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet

    val events = graft.Tables.events(spark, SfDir)
    val src = stageSource()
    val maxTs = events.agg(max("ts")).as[Long].head()
    def sentinel(id: Long, ts: Long): Unit =
      events.limit(1)
        .withColumn("event_id", lit(id))
        .withColumn("user_id", lit(999L))
        .withColumn("ts", lit(ts))
        .write.mode("append").parquet(src)

    // same µs truncation as the batch geo query (events.ts is ns parquet)
    val stream = spark.readStream.schema(events.schema).parquet(src)
      .selectExpr("event_id AS eventId", "user_id AS station",
        "(ts div 1000) * 1000 AS startNs")
      .as[StreamHit]
    val out = StreamingGeoCoincidence.clusterStream(stream,
      watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("fileclusters").start()
    try {
      q.processAllAvailable()
      // sentinel files advance the watermark, then fire the timeouts —
      // the file-source analogue of the reference's wall-clock flush
      sentinel(-1L, maxTs + gap * 1000)
      q.processAllAvailable()
      sentinel(-2L, maxTs + gap * 2000)
      q.processAllAvailable()
      val got = spark.table("fileclusters").as[EmittedGeoCluster].collect()
        .filter(c => c.n >= 2 && !c.members.exists(_.station == 999L))
        .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
          c.conflicting)).toSet
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }
}
