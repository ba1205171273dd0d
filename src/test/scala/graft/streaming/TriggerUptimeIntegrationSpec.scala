package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end R8→A6 feedback on real corpus data: the ORACLE-CHECKED
  * batch trigger stream (status_triggers) fans out over the geo-cell
  * pruned pair dimension into the streaming per-pair uptime state
  * machine, and the accrued uptime must equal an independent
  * interval-sweep computation — the reference's trigger→uptime cycle
  * (stationcoincidence.cpp:82-108) closed over real data. */
class TriggerUptimeIntegrationSpec extends AnyFunSuite with LocalSpark {

  private val DayNs = 86400L * 1000000000L

  test("trigger stream drives pair uptime to the sweep-computed truth") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"

    // real, oracle-checked trigger rows → event-time StationTriggers
    val triggers = graft.Registry.queries("status_triggers")(spark, dir)
      .select("station", "day", "status")
      .collect()
      .map(r => StationTrigger(r.getLong(0), r.getLong(1) * DayNs,
        r.getString(2)))
      .toSeq
    assert(triggers.nonEmpty)

    // geo-cell pruned pair dimension (the A6 partner map)
    val pairRows = graft.Assembly.rangedPairs(spark, dir, 5000.0)
      .select("st_a", "st_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val partners = (pairRows.map { case (a, b) => a -> b } ++
      pairRows.map { case (a, b) => b -> a })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    assert(pairRows.nonEmpty)

    // independent truth: per-pair sweep over the merged trigger timeline,
    // accruing only while both stations are reliable (and only spans the
    // stream actually CLOSES — matching the reference's accrue-on-
    // downgrade accounting)
    def sweep(a: Long, b: Long): Long = {
      val tl = triggers.filter(t => t.station == a || t.station == b)
        .sortBy(t => (t.tsNs, t.station))
      var relA = false; var relB = false
      var since = 0L; var acc = 0L
      for (t <- tl) {
        val both = relA && relB
        if (t.station == a) relA = t.status == "reliable"
        else relB = t.status == "reliable"
        val bothNow = relA && relB
        if (!both && bothNow) since = t.tsNs
        if (both && !bothNow) acc += t.tsNs - since
      }
      acc
    }
    val expected = pairRows.map { case (a, b) =>
      (a, b) -> sweep(a, b) / 60000000000L
    }.toMap

    val mem = MemoryStream[StationTrigger]
    val out = StreamingPairUptime.uptimeStream(mem.toDS(), partners)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("tuptime").start()
    try {
      mem.addData(triggers)
      q.processAllAvailable()
      val got = spark.table("tuptime").as[PairUptimeOut].collect()
        .groupBy(o => (o.stA, o.stB)).view.mapValues(_.last.uptimeMin).toMap
      assert(got.nonEmpty)
      for (((a, b), up) <- got)
        assert(up == expected((a, b)), s"pair ($a,$b)")
      // the cycle must accrue real uptime somewhere, or the test is vacuous
      assert(got.values.exists(_ > 0), "no pair accrued uptime")
    } finally q.stop()
  }
}
