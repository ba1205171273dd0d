package graft

import graft.operators.ZOrder
import org.scalatest.funsuite.AnyFunSuite

/** The Z-order layout's claims, executed: the engine's unrolled bit
  * expression equals the plain-Scala Morton interleave, and the layout
  * actually buys two-dimensional locality — per-bucket bounding boxes
  * under the z-layout cover a small fraction of the domain area while
  * the insertion-order layout's boxes stay near full-domain width on
  * the non-clustered dimension. */
class ZOrderSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("the SQL bit interleave equals the Scala reference") {
    import spark.implicits._
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (40000L, 7L), (257L, 513L))
    val viaSql = pairs.toDF("x", "y")
      .selectExpr(s"(${ZOrder.zKeySql("x", "y")}) AS z")
      .collect().map(_.getLong(0)).toSeq
    assert(viaSql == pairs.map { case (x, y) => ZOrder.zKey(x, y) })
    // interleave is a bijection on the 32-bit square: spot-check order
    assert(ZOrder.zKey(0, 0) == 0L)
    assert(ZOrder.zKey(65535, 65535) == 0xFFFFFFFFL)
  }

  test("randomized: the interleave is injective on the 16-bit square") {
    val rnd = new scala.util.Random(20260813L)
    val pairs = Seq.fill(20000)((rnd.nextInt(65536).toLong,
      rnd.nextInt(65536).toLong)).distinct
    val zs = pairs.map { case (x, y) => ZOrder.zKey(x, y) }
    assert(zs.distinct.size == pairs.size, "collision in the Morton key")
    // prefix locality, the property file skipping rests on: z-bit 2i is
    // x's bit i and z-bit 2i+1 is y's bit i, so sharing a top z-prefix
    // means agreeing on the top bits of BOTH dimensions
    pairs.take(500).foreach { case (x, y) =>
      val z = ZOrder.zKey(x, y)
      (0 until 16).foreach { i =>
        assert((z >> (2 * i) & 1) == (x >> i & 1))
        assert((z >> (2 * i + 1) & 1) == (y >> i & 1))
      }
    }
  }

  test("z-buckets bound BOTH dimensions; insertion order does not") {
    val rows = Tables.lineitem(spark, dir)
      .selectExpr("l_orderkey", "l_partkey % 65536 AS x",
        "l_suppkey % 65536 AS y")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nb = 16
    // normalize spans by the DATA domain — pruning power is relative to
    // the values that exist, not the 16-bit key space
    val (dx0, dx1) = (rows.map(_._2).min, rows.map(_._2).max)
    val (dy0, dy1) = (rows.map(_._3).min, rows.map(_._3).max)
    def meanArea(buckets: Iterable[Seq[(Long, Long)]]): Double = {
      val areas = buckets.map { ps =>
        val (xs, ys) = (ps.map(_._1), ps.map(_._2))
        ((xs.max - xs.min + 1).toDouble / (dx1 - dx0 + 1)) *
          ((ys.max - ys.min + 1).toDouble / (dy1 - dy0 + 1))
      }
      areas.sum / areas.size
    }
    // the q31 layout's own output boxes (equal-frequency z buckets)
    val zb = SparkEntry.queries("q31_zorder_layout")(spark, dir)
      .collect().map(r => Seq((r.getLong(2), r.getLong(4)),
        (r.getLong(3), r.getLong(5)))).toSeq
    assert(zb.size == nb)
    // insertion-order layout: bucket by orderkey range (file order)
    val sorted = rows.sortBy(r => (r._1, r._2, r._3))
    val per = (sorted.length + nb - 1) / nb
    val ob = sorted.grouped(per).map(_.map(r => (r._2, r._3)).toSeq).toSeq
    val (zArea, oArea) = (meanArea(zb), meanArea(ob))
    // insertion order leaves ~full-domain spans: no real pruning power
    assert(oArea > 0.5, s"order-layout area $oArea unexpectedly tight")
    // the z-layout's boxes must be materially tighter on this data
    assert(zArea < oArea / 4, s"z $zArea vs order $oArea")
  }
}
