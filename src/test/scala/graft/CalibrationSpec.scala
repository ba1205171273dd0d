package graft

import org.scalatest.funsuite.AnyFunSuite

/** The NB calibration curve is directionally sound on the driver
  * corpus: bins cover the log-odds range, counts add up to the scored
  * population, and the empirical reference rate rises from the bottom
  * to the top occupied bin. */
class CalibrationSpec extends AnyFunSuite with LocalSpark {

  test("curve shape and population accounting at sf0.001") {
    val rows = Pipeline.queries("classifier_calibration")(
      spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length >= 3, "need several occupied bins")
    rows.foreach { case (bin, n, ref, ppm) =>
      assert(bin >= 0 && bin <= 9)
      assert(ref <= n)
      assert(ppm == ref * 1000000L / n)
    }
    val scored = Pipeline.queries("quality_classifier")(
      spark, "/root/testdata/sf0.001").count()
    assert(rows.map(_._2).sum == scored, "every scored doc is binned")
    // directional calibration: the top occupied bin's empirical rate
    // strictly exceeds the bottom occupied bin's
    assert(rows.last._4 > rows.head._4,
      s"flat curve: ${rows.map(_._4).toSeq}")
  }
}
