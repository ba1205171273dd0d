package graft

import graft.operators.BloomPrune
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Bloom prune's contract, executed: the pruned fact set is a
  * SUPERSET of the true-match set (no false negatives, ever), its
  * false-positive rate sits near the (1−e^{−kn/m})^k analytic, and the
  * bitset is partition-order independent. */
class BloomPruneSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("pruned set ⊇ true matches; FP rate near the analytic") {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val fact = Tables.lineitem(spark, dir).select("l_orderkey")
    val keys = urgent.collect().map(_.getLong(0)).toSet
    val pruned = BloomPrune.pruned(fact, "l_orderkey", urgent, "o_orderkey")
      .collect().map(_.getLong(0))
    val all = fact.collect().map(_.getLong(0))

    // zero false negatives: every matching row survives the prune
    assert(all.count(keys) == pruned.count(keys))

    // measured FP rate over the NON-matching rows vs the analytic
    val nonMatch = all.count(k => !keys(k)).toDouble
    val fps = pruned.count(k => !keys(k)).toDouble
    val fpRate = if (nonMatch == 0) 0.0 else fps / nonMatch
    val load = BloomPrune.BloomMuls.size.toDouble * keys.size /
      BloomPrune.BloomM
    val analytic = math.pow(1 - math.exp(-load),
      BloomPrune.BloomMuls.size.toDouble)
    assert(fpRate <= math.max(4 * analytic, 0.02),
      s"fp rate $fpRate far above analytic $analytic")
    // and the prune must actually prune at this selectivity
    assert(pruned.length < all.length / 2,
      s"prune kept ${pruned.length} of ${all.length}")
  }

  test("randomized: no false negatives on arbitrary key sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    for (trial <- 1 to 5) {
      // adversarial domains: negatives, Long extremes, dense ranges
      val keys = Seq.fill(50 + rnd.nextInt(200))(rnd.nextInt(4) match {
        case 0 => rnd.nextLong()
        case 1 => -math.abs(rnd.nextLong() % 1000000L)
        case 2 => Long.MaxValue - rnd.nextInt(1000)
        case _ => rnd.nextInt(500).toLong
      }).distinct
      val probeKeys = keys ++ Seq.fill(500)(rnd.nextLong()).distinct
      val build = keys.toDF("k")
      val pruned = BloomPrune.pruned(probeKeys.toDF("k"), "k", build, "k")
        .collect().map(_.getLong(0)).toSet
      val missed = keys.filterNot(pruned)
      assert(missed.isEmpty,
        s"trial $trial: false negatives for ${missed.take(5)}")
    }
  }

  test("the bitset is independent of build-side partitioning") {
    val urgent = Tables.orders(spark, dir)
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val a = BloomPrune.buildBits(urgent, "o_orderkey")
      .collect()(0).getSeq[Long](0)
    val b = BloomPrune.buildBits(urgent.repartition(7), "o_orderkey")
      .collect()(0).getSeq[Long](0)
    val c = BloomPrune.buildBits(urgent.repartition(1), "o_orderkey")
      .collect()(0).getSeq[Long](0)
    assert(a == b && b == c)
    assert(a.length == BloomPrune.BloomM / 64)
    assert(a.exists(_ != 0L))
  }
}
