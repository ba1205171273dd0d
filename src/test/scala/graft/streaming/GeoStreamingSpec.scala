package graft.streaming

import graft.LocalSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stream/batch parity for the GEODESIC coincidence family: the streaming
  * clusterer applies the C1 chord-distance/ToF criterion online (the
  * reference's coincidencefilter next_match) and must reproduce the batch
  * `coincidence_geo` components exactly on the real corpus. */
class GeoStreamingSpec extends AnyFunSuite with LocalSpark {

  private val S = 1000000000L
  private val B = 1000L * S
  private val gap = graft.Detector.GapNs // 30 s; criterion MaxTime = 60 s

  // Scaled-criterion geometry used below: stations 0 and 1 are one grid
  // step apart (Δlat 0.02° ≈ 2.22 km ⇒ ToF ≈ 22.2 s at the scaled speed);
  // same-station pairs have dist 0 ⇒ the 5 s MinTof floor applies.

  test("criterion in addEvent: invalid edge opens a new component") {
    var ss = StreamingGeoCoincidence.addEvent(Nil, StreamHit(1, 0, B))
    // Δt 25 s > ToF 22.2 s: same gap-session, but criterion-invalid →
    // separate component (the reference opens a new constructor)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(2, 1, B + 25 * S))
    assert(ss.size == 1 && ss.head.comps.size == 2)
    // Δt(3,1) = 10 s < 22.2 s valid; Δt(3,2) = 15 s but same station as 2
    // ⇒ MinTof floor 5 s ⇒ invalid: joins event 1's component only
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(3, 1, B + 10 * S))
    assert(ss.head.comps.size == 2)
    assert(ss.head.comps.map(_.members.map(_.eventId).sorted).toSet ==
      Set(List(1L, 3L), List(2L)))
  }

  test("criterion bridge-merge: one event unions two open components") {
    var ss = StreamingGeoCoincidence.addEvent(Nil, StreamHit(1, 0, B))
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(2, 1, B + 25 * S))
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(3, 1, B + 10 * S))
    assert(ss.head.comps.size == 2) // {1,3} and {2}
    // event 4 at station 0, t+20: to 1 — same station, Δt 20 > 5 s floor ⇒
    // invalid; to 2 — Δt 5 s < 22.2 valid; to 3 — Δt 10 s < 22.2 valid →
    // matches BOTH components through different members ⇒ bridge-merge
    // (the reference's erase-and-merge loop)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(4, 0, B + 20 * S))
    assert(ss.head.comps.size == 1)
    assert(ss.head.comps.head.members.map(_.eventId).sorted ==
      List(1L, 2L, 3L, 4L))
  }

  test("session bridge rebuild: unscored cross-session edge is recovered") {
    // events 1 (st 0, t 0) and 2 (st 3, t 50 s) open two sessions
    // (50 > 30 gap); their edge (Δt 50 s < ToF(0,3) ≈ 66.8 s ⇒ VALID) was
    // never scored. Event 3 (st 4, t 20 s) bridges the sessions; it is
    // valid to 1 (Δt 20 < ToF(0,4) ≈ 89 s) but invalid to 2
    // (Δt 30 > ToF(3,4) ≈ 22.3 s). A naive incremental merge would leave
    // {1,3},{2}; the rebuild must recover the 1–2 edge → one component.
    var ss = StreamingGeoCoincidence.addEvent(Nil, StreamHit(1, 0, B))
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(2, 3, B + 50 * S))
    assert(ss.size == 2)
    ss = StreamingGeoCoincidence.addEvent(ss, StreamHit(3, 4, B + 20 * S))
    assert(ss.size == 1)
    assert(ss.head.comps.map(_.members.map(_.eventId).sorted).toSet ==
      Set(List(1L, 2L, 3L)))
  }

  /** Batch ground truth: the coincidence_geo query rows (n ≥ 2). */
  private def batchGeo(dir: String): Set[(Long, Long, Long, Long, Boolean)] =
    graft.Geodesic.queries("coincidence_geo")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSet

  private def corpusHits(dir: String): Seq[StreamHit] = {
    import spark.implicits._
    // same µs truncation as the batch geo query (events.ts is ns parquet)
    graft.Tables.events(spark, dir)
      .selectExpr("event_id", "user_id AS station",
        "(ts div 1000) * 1000 AS start_ns")
      .as[(Long, Long, Long)].collect()
      .map { case (id, st, t) => StreamHit(id, st, t) }.toSeq
  }

  private def runGeoStream(rows: Seq[StreamHit]): Seq[EmittedGeoCluster] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamHit]
    val out = StreamingGeoCoincidence.clusterStream(mem.toDS(),
      watermarkDelay = "0 seconds")
    val name = "geoparity"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, rows.map(_.startNs).max + gap * 1000))
      q.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, rows.map(_.startNs).max + gap * 2000))
      q.processAllAvailable()
      spark.table(name).as[EmittedGeoCluster].collect().toSeq
        .filter(c => !c.members.exists(_.station == 999L))
    } finally q.stop()
  }

  test("stream/batch geodesic parity on the real sf0.001 corpus") {
    val dir = "/root/testdata/sf0.001"
    val batch = batchGeo(dir)
    val got = runGeoStream(corpusHits(dir))
      .filter(_.n >= 2)
      .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
        c.conflicting)).toSet
    assert(got == batch)
    assert(got.nonEmpty)
  }

  test("checkpoint recovery: open geodesic sessions survive a restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("geockpt").toString
    val mem = MemoryStream[StreamHit]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[EmittedGeoCluster]()
    def start() = StreamingGeoCoincidence.clusterStream(mem.toDS(),
        watermarkDelay = "0 seconds")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EmittedGeoCluster],
                       _: Long) =>
        batch.collect().foreach(seen.add)
      }
      .start()
    val q1 = start()
    try {
      // open a session with two criterion-valid members, leave it open
      mem.addData(StreamHit(1, 0, B), StreamHit(2, 1, B + 10 * S))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      // after restart, a third member must land in the SAME component
      // (state restored), then a far sentinel seals it
      mem.addData(StreamHit(3, 1, B + 15 * S))
      q2.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, B + 100000 * S))
      q2.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, B + 200000 * S))
      q2.processAllAvailable()
      val got = seen.toArray(Array.empty[EmittedGeoCluster])
        .filter(c => !c.members.exists(_.station == 999L) && c.n >= 2)
      // e3: Δt to e1 = 15 s < ToF(0,1) ≈ 22.2 s valid; to e2 same-station
      // Δt 5 s = MinTof floor 5 s → NOT strictly below → invalid edge,
      // but transitivity through e1 holds the component together
      assert(got.map(c => (c.n, c.members.map(_.eventId).sorted)).toSeq ==
        Seq((3L, List(1L, 2L, 3L))))
    } finally q2.stop()
  }
}
