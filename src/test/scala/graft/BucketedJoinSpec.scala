package graft

import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Sort-merge-BUCKET join — the co-located-join scale tool, executed:
  * writing both fact tables bucketed (and sorted) on the join key lets
  * the join run with ZERO exchanges — at 100 TB this is the difference
  * between re-shuffling the largest tables on every join and reading
  * them pre-partitioned from storage. The repo's bench queries read the
  * driver's unbucketed parquet (fixed input contract), so the tool is
  * pinned here as an executed plan property rather than a gate query:
  * the bucketed join must contain NO shuffle exchange, elide the sort
  * on the sorted buckets, and return exactly the plain join's rows. */
class BucketedJoinSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("bucketed+sorted tables join with zero exchanges and zero sorts") {
    // force the join shape a 100 TB fact-fact join has: no broadcast;
    // honor sortBy metadata on read (off by default since 3.0): with one
    // file per bucket the scan then reports its ordering and the
    // merge-join sorts vanish along with the exchanges
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true") {
      try {
        // one file per bucket (repartition on the bucket key first):
        // Spark elides the merge-join sort only when a bucket is a single
        // sorted file — with several files per bucket it must re-sort
        import org.apache.spark.sql.functions.col
        Tables.orders(spark, dir).repartition(8, col("o_orderkey"))
          .write.bucketBy(8, "o_orderkey")
          .sortBy("o_orderkey").mode("overwrite").saveAsTable("orders_b")
        Tables.lineitem(spark, dir).repartition(8, col("l_orderkey"))
          .write.bucketBy(8, "l_orderkey")
          .sortBy("l_orderkey").mode("overwrite").saveAsTable("lineitem_b")
        val li = spark.table("lineitem_b")
        val od = spark.table("orders_b")
        val j = li.join(od, li("l_orderkey") === od("o_orderkey"))
          .select("l_orderkey", "o_orderpriority", "l_quantity")
        val phys = j.queryExecution.executedPlan
        assert(phys.toString.contains("SortMergeJoin"))
        val shuffles = phys.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty,
          s"bucketed join still shuffles:\n${shuffles.mkString("\n")}")
        // sortBy metadata must elide the merge-join sorts too
        val sorts = phys.collect { case s: SortExec => s }
        assert(sorts.isEmpty,
          s"bucketed join still sorts:\n${sorts.mkString("\n")}")
        // and the layout changes nothing semantically
        val pl = Tables.lineitem(spark, dir)
        val po = Tables.orders(spark, dir)
        val plainCount =
          pl.join(po, pl("l_orderkey") === po("o_orderkey")).count()
        assert(j.count() == plainCount && plainCount > 0)
      } finally {
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
      }
    }
  }
}
