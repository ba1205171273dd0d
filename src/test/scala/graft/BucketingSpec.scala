package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bucketing scale pattern from SCALE.md: persisting the big
  * fact bucketed by its join/aggregation key lets station-keyed joins and
  * aggregations run WITHOUT a shuffle exchange — the plan shape that
  * makes repeated station-keyed analytics (registry, pair matrices)
  * scan-bound instead of shuffle-bound at 100 TB. */
class BucketingSpec extends AnyFunSuite with LocalSpark {

  test("bucketed-by-station table: agg and self-join plan with no shuffle") {
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      try {
        Tables.events(spark, "/root/testdata/sf0.001")
          .selectExpr("event_id", "user_id AS station", "value")
          .write.mode("overwrite")
          .bucketBy(8, "station").sortBy("station")
          .saveAsTable("ev_bucketed")
        val t = spark.table("ev_bucketed")

        val aggPlan = t.groupBy("station").count()
          .queryExecution.executedPlan.toString
        assert(!aggPlan.contains("Exchange"), s"agg shuffled:\n$aggPlan")

        val joinPlan = t.as("a").join(spark.table("ev_bucketed").as("b"),
            "station")
          .queryExecution.executedPlan.toString
        assert(!joinPlan.contains("Exchange"), s"join shuffled:\n$joinPlan")

        // same join from the raw (unbucketed) parquet DOES shuffle — the
        // bucketing is what removed it
        val raw = Tables.events(spark, "/root/testdata/sf0.001")
          .selectExpr("event_id", "user_id AS station")
        val rawPlan = raw.as("a").join(raw.as("b"), "station")
          .queryExecution.executedPlan.toString
        assert(rawPlan.contains("Exchange"), s"expected shuffle:\n$rawPlan")
      } finally {
        spark.sql("DROP TABLE IF EXISTS ev_bucketed")
      }
    }
  }
}
