package graft

import graft.operators.Sessionize
import org.scalatest.funsuite.AnyFunSuite

/** The bucketed sessionizer must agree with the trivial global gap rule,
  * including chains of merges across many bucket boundaries. */
class SessionizeSpec extends AnyFunSuite with LocalSpark {

  private def globalClusters(starts: Seq[Long], gap: Long): Map[Long, Long] = {
    // event start -> cluster key (min start of cluster), trivial reference impl
    val sorted = starts.sorted
    var key = sorted.head
    val out = scala.collection.mutable.Map[Long, Long]()
    var prev = sorted.head
    for (t <- sorted) {
      if (t - prev > gap) key = t
      out(t) = key
      prev = t
    }
    out.toMap
  }

  private def check(starts: Seq[Long], gap: Long, bucket: Long): Unit = {
    import spark.implicits._
    val df = starts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("event_id", "start_ns")
    val got = Sessionize.withClusterKey(df, gap, bucket)
      .select("start_ns", "cluster_key").as[(Long, Long)].collect().toMap
    val want = globalClusters(starts, gap)
    assert(got == want)
  }

  test("chain spanning many buckets merges into one cluster") {
    // gap 10, bucket 100; events every 5 ns from 90 to 400 => single cluster
    val starts = (90L to 400L by 5L)
    check(starts, gap = 10L, bucket = 100L)
  }

  test("clusters split exactly at gap boundary (> gap, not >=)") {
    // consecutive gaps of exactly `gap` stay merged; gap+1 splits
    check(Seq(0L, 10L, 20L, 31L, 41L), gap = 10L, bucket = 100L)
  }

  test("boundary-adjacent events in different buckets merge") {
    check(Seq(99L, 101L, 250L, 299L, 301L, 305L), gap = 5L, bucket = 100L)
  }

  test("seeded random spacings agree with the global rule") {
    val rnd = new scala.util.Random(42)
    var t = 0L
    val starts = Seq.fill(2000) { t += rnd.between(1L, 40L); t }
    check(starts, gap = 12L, bucket = 128L)
  }

  test("single event and empty-bucket stretches") {
    check(Seq(5L, 1000000L, 1000003L), gap = 10L, bucket = 100L)
  }
}
