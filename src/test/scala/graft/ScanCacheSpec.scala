package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the session-stop eviction contract of ScanCache: a JVM that
  * cycles SparkContexts (exactly what this forked test run does) must
  * not accumulate persisted-plan references from stopped contexts.
  * Safe to stop the shared context here — suites run sequentially in
  * the forked JVM and later suites getOrCreate a fresh one. */
class ScanCacheSpec extends AnyFunSuite with LocalSpark {

  test("entries are evicted when the owning context stops") {
    import spark.implicits._
    val sc = spark.sparkContext

    val df = ScanCache.get(spark, "scan-cache-spec") { Seq(1, 2, 3).toDF("x") }
    assert(df.count() == 3)
    // same key → same cached instance, and the plan is really persisted
    assert(ScanCache.get(spark, "scan-cache-spec") { fail("rebuilt") } eq df)
    assert(ScanCache.entriesOwnedBy(sc) >= 1)
    assert(sc.getPersistentRDDs.nonEmpty)

    spark.stop()
    // SparkListenerApplicationEnd is delivered on the (asynchronous)
    // listener bus; stop() drains it, but don't assume synchronicity.
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (ScanCache.entriesOwnedBy(sc) != 0 && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(ScanCache.entriesOwnedBy(sc) == 0,
      "ScanCache still references entries of a stopped SparkContext")

    // a fresh context starts clean — no persisted RDDs leak across
    val fresh = GraftSession(4)
    assert(fresh.sparkContext ne sc)
    assert(fresh.sparkContext.getPersistentRDDs.isEmpty)
  }
}
