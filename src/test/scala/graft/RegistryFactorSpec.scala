package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the R10 rate-dip factor branch (reference
  * src/analysis/detectorstation.cpp:127-135) on a fixture — the synthetic
  * corpus's rates never dip below mean − stddev, so the oracle alone
  * exercises only the 1.0 branch. */
class RegistryFactorSpec extends AnyFunSuite with LocalSpark {

  test("rate-dip factor: dip, no-dip, and null-stddev branches") {
    import spark.implicits._
    val df = Seq(
      (1.0, 10.0, Some(2.0)),  // dip: ((10-1)/2 + 1)*2 = 11
      (9.0, 10.0, Some(2.0)),  // inside one stddev: 1.0
      (1.0, 10.0, None)        // single-window station (null sd): 1.0
    ).toDF("cur", "mean", "sd")
    val got = df.select(Registry.rateDipFactor(col("cur"), col("mean"),
      col("sd")).as("f")).as[Double].collect().toSeq
    assert(got == Seq(11.0, 1.0, 1.0))
  }
}
