package graft.operators

import graft.LocalSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Geo-cell candidate pair generation must equal the all-pairs join +
  * radius filter exactly (it is a conservative superset refined by the
  * same chord-distance filter) while generating far fewer candidates. */
class GeoCellsSpec extends AnyFunSuite with LocalSpark {

  private def scatter(n: Int, spreadDeg: Double) = {
    val rnd = new scala.util.Random(42)
    val rows = (0 until n).map { i =>
      (i.toLong, 50.0 + rnd.nextDouble() * spreadDeg,
        10.0 + rnd.nextDouble() * spreadDeg, 100.0 + rnd.nextInt(200))
    }
    spark.createDataFrame(rows).toDF("station", "lat", "lon", "h")
  }

  private def bruteForce(st: org.apache.spark.sql.DataFrame,
                         radius: Double): Set[(Long, Long)] = {
    val e = graft.Geodesic.withEcef(st)
    val a = e.select(col("station").as("st_a"), col("x").as("xa"),
      col("y").as("ya"), col("z").as("za"))
    val b = e.select(col("station").as("st_b"), col("x").as("xb"),
      col("y").as("yb"), col("z").as("zb"))
    a.join(b, col("st_a") < col("st_b"))
      .filter(graft.Geodesic.pairDist() <= radius)
      .select("st_a", "st_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("cell candidates == all-pairs + filter on a boundary-spanning scatter") {
    // 0.5° spread ≈ 55 km at lat 50 — many cells at a 10 km radius, points
    // land arbitrarily close to cell edges
    val st = scatter(200, 0.5).cache()
    for (radius <- Seq(3000.0, 10000.0, 40000.0)) {
      val got = GeoCells.candidatePairs(st, radius, maxAbsLatDeg = 50.6)
        .select("st_a", "st_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == bruteForce(st, radius), s"radius $radius")
    }
  }

  test("pruning is real: in-range pairs << C(S,2) when radius << extent") {
    val st = scatter(200, 0.5)
    val n = GeoCells.candidatePairs(st, 3000.0, maxAbsLatDeg = 50.6).count()
    assert(n > 0 && n < 200L * 199 / 2 / 4,
      s"expected strong pruning, got $n of ${200 * 199 / 2}")
  }

  test("southern hemisphere + meridian-crossing longitudes") {
    // lat around -50 (cells index negative), lon spanning 0 (cells cross
    // the floor(0) boundary) — signs must not break neighbor coverage
    val rnd = new scala.util.Random(7)
    val rows = (0 until 150).map { i =>
      (i.toLong, -50.3 + rnd.nextDouble() * 0.5,
        -0.25 + rnd.nextDouble() * 0.5, 100.0 + rnd.nextInt(100))
    }
    val st = spark.createDataFrame(rows).toDF("station", "lat", "lon", "h")
    for (radius <- Seq(5000.0, 15000.0)) {
      val got = GeoCells.candidatePairs(st, radius, maxAbsLatDeg = 50.8)
        .select("st_a", "st_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == bruteForce(st, radius), s"radius $radius")
      assert(got.nonEmpty)
    }
  }

  test("dist_m column carries the exact chord distance") {
    val st = scatter(50, 0.1)
    val rows = GeoCells.candidatePairs(st, 20000.0, maxAbsLatDeg = 50.2)
      .collect()
    assert(rows.nonEmpty)
    val pos = st.collect().map(r =>
      r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    rows.foreach { r =>
      val (la, lo, h) = pos(r.getLong(0))
      val (lb, lob, hb) = pos(r.getLong(1))
      val d = graft.functions.Geo.chordDistance(la, lo, h, lb, lob, hb)
      assert(math.abs(d - r.getDouble(2)) < 1e-6 && d <= 20000.0)
    }
  }
}
