package graft.streaming
import graft.LocalSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The streaming detector-domain operators: the geodesic clusterer under
  * out-of-order arrival and sink fan-out, the station registry, the S4/S5
  * collectors, the pair-uptime fold and the watermarked summary. */
class StreamingSpec extends AnyFunSuite with LocalSpark {

  private val S = 1000000000L // 1 s in ns (watermarks are ms-granular)
  // Fixtures sit well above epoch 0: the stateful op drops rows with
  // ts <= watermark, and the initial watermark is 0.
  private val B = 1000L * S

  test("out-of-order arrival: bridging event merges two open clusters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamHit]
    // the 60 s watermark delay keeps the late bridge inside the watermark
    val out = StreamingGeoCoincidence.clusterStream(mem.toDS(),
      watermarkDelay = "60 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("bridged").start()
    try {
      // B and B+50s (stations 0 and 3, ToF ≈ 66.8 s) open two sessions:
      // 50 s exceeds the 30 s gap
      mem.addData(StreamHit(1, 0, B), StreamHit(2, 3, B + 50 * S))
      q.processAllAvailable()
      // B+20s (station 4) arrives a batch later and bridges them
      mem.addData(StreamHit(3, 4, B + 20 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, B + 100000 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, B + 200000 * S))
      q.processAllAvailable()
      val got = spark.table("bridged").as[EmittedGeoCluster].collect()
        .filter(c => c.n >= 2 && !c.members.exists(_.station == 999L))
      assert(got.map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations))
        .toSeq == Seq((B, B + 50 * S, 3L, 3L)))
    } finally q.stop()
  }

  test("S4 abort: partial detinfo group resets after the 5 s window") {
    import StreamingDetInfo.{fold, AbortNs}
    // complete within the window: 6 fields → one complete emission
    var st: Option[DetInfoState] = None
    var emitted = List.empty[DetInfoOut]
    for (f <- 0 until 6) {
      val (n, e) = fold(st, DetInfoItem(1, B + f * S, f), AbortNs)
      st = n; emitted ++= e
    }
    assert(emitted.map(o => (o.mask, o.nMsgs, o.complete)) == List((63, 6L, true)))
    assert(st.isEmpty) // collector resets after Finished

    // 5 fields, then a 6th AFTER the window → abort + fresh collection
    st = None; emitted = Nil
    for (f <- 0 until 5) {
      val (n, e) = fold(st, DetInfoItem(2, B + f * S, f), AbortNs)
      st = n; emitted ++= e
    }
    val (n2, e2) = fold(st, DetInfoItem(2, B + 6 * S, 5), AbortNs)
    st = n2; emitted ++= e2
    assert(emitted.map(o => (o.mask, o.complete)) == List((31, false)))
    assert(st.contains(DetInfoState(B + 6 * S, 32, 1L))) // late item re-opens

    // end-to-end over MemoryStream incl. stale-partial wipe on silence
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DetInfoItem]
    val out = StreamingDetInfo.assemblyStream(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("detinfo").start()
    try {
      mem.addData((0 until 6).map(f => DetInfoItem(7, B + f * S, f)) :+
        DetInfoItem(8, B, 0) :+ DetInfoItem(8, B + 7 * S, 1): _*)
      q.processAllAvailable()
      val rows = spark.table("detinfo").as[DetInfoOut].collect()
      assert(rows.filter(_.station == 7).map(o => (o.mask, o.complete)).toSeq ==
        Seq((63, true)))
      // station 8's first field aborted when the late second field arrived
      assert(rows.filter(_.station == 8).map(o => (o.mask, o.complete)).toSeq ==
        Seq((1, false)))
    } finally q.stop()
  }

  test("S5 bag commit: late item commits the bag and seeds the next epoch") {
    import StreamingLogBag.{fold, CommitNs}
    var st: Option[LogBagState] = None
    var out = List.empty[LogBagOut]
    for ((n, v, t) <- Seq(("a", "1", B), ("b", "2", B + S), ("c", "3", B + 2 * S))) {
      val (nx, e) = fold(st, LogItem(1, t, n, v), CommitNs)
      st = nx; out ++= e
    }
    assert(out.isEmpty && st.exists(_.names.size == 3))
    // late item: COMMIT (emit, unlike S4's abort) + NewEpoch reseed
    val (nx, e) = fold(st, LogItem(1, B + 7 * S, "d", "4"), CommitNs)
    st = nx; out ++= e
    assert(out.map(o => (o.nItems, o.itemsStr)) == List((3L, "a=1;b=2;c=3")))
    assert(st.contains(LogBagState(B + 7 * S, List("d"), List("4"))))

    // end-to-end: same sequence over MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[LogItem]
    val q = StreamingLogBag.bagStream(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("append")
      .format("memory").queryName("logbags").start()
    try {
      mem.addData(LogItem(5, B, "a", "1"), LogItem(5, B + S, "b", "2"),
        LogItem(5, B + 7 * S, "c", "3"))
      q.processAllAvailable()
      val rows = spark.table("logbags").as[LogBagOut].collect()
      assert(rows.map(o => (o.station, o.nItems, o.itemsStr)).toSeq ==
        Seq((5L, 2L, "a=1;b=2")))
    } finally q.stop()
  }

  test("R9 streaming form: stream-static broadcast enrichment join + gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // static registry snapshot: station 1 reliable, 2 unreliable; 3 unknown
    val registry = Seq((1L, "reliable", 50.0, 10.0, "user_1"),
      (2L, "unreliable", 50.02, 10.03, "user_2"))
      .toDF("station", "status", "lat", "lon", "user_name")
    val mem = MemoryStream[StreamHit]
    val enriched = mem.toDS().toDF("event_id", "station", "start_ns")
      .join(org.apache.spark.sql.functions.broadcast(registry), Seq("station"))
      .filter(org.apache.spark.sql.functions.col("status") === "reliable")
      .select("event_id", "station", "start_ns", "lat", "lon", "user_name")
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    try {
      mem.addData(StreamHit(101, 1, B), StreamHit(102, 2, B + S),
        StreamHit(103, 3, B + 2 * S))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
      // unknown station 3 dropped by the inner join, unreliable 2 by the
      // gate; the survivor carries location + userinfo
      assert(rows.map(_.getLong(0)).toSeq == Seq(101L))
      assert(rows.head.getString(5) == "user_1")
    } finally q.stop()
  }

  test("A6 streaming: trigger stream drives per-pair online counter/uptime") {
    val fold = StreamingPairUptime.fold((1L, 2L)) _
    // pure fold: 1 up, 2 up (both online, clock starts), 2 down after 120 s
    var s = PairUptimeState(relA = false, relB = false, 0L, 0L)
    s = fold(s, StationTrigger(1, B, "reliable"))
    assert(s.relA && !s.relB && s.uptimeNs == 0)
    s = fold(s, StationTrigger(2, B + 10 * S, "reliable"))
    assert(s.relA && s.relB && s.lastOnlineNs == B + 10 * S)
    s = fold(s, StationTrigger(2, B + 130 * S, "unreliable"))
    assert(s.relA && !s.relB && s.uptimeNs == 120 * S)
    // replayed downgrades and upgrades are idempotent (per-station flags,
    // not a counter — a replay can neither wrap nor overshoot)
    s = fold(fold(s, StationTrigger(1, B + 131 * S, "unreliable")),
      StationTrigger(1, B + 132 * S, "unreliable"))
    assert(!s.relA && !s.relB && s.uptimeNs == 120 * S)
    s = fold(fold(s, StationTrigger(1, B + 133 * S, "reliable")),
      StationTrigger(1, B + 134 * S, "reliable"))
    assert(s.relA && !s.relB && s.uptimeNs == 120 * S)
    // a downgrade for a station that never upgraded cannot steal the
    // partner's contribution (the counter formulation failed this)
    var s2 = PairUptimeState(relA = false, relB = false, 0L, 0L)
    s2 = fold(s2, StationTrigger(2, B, "reliable"))
    s2 = fold(s2, StationTrigger(1, B + 5 * S, "unreliable"))
    s2 = fold(s2, StationTrigger(1, B + 10 * S, "reliable"))
    s2 = fold(s2, StationTrigger(2, B + 70 * S, "unreliable"))
    assert(s2.uptimeNs == 60 * S) // both-reliable only over [10 s, 70 s)

    // end-to-end: fan-out over the partner map + keyed state
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StationTrigger]
    val out = StreamingPairUptime.uptimeStream(mem.toDS(),
      partners = Map(1L -> Seq(2L), 2L -> Seq(1L)))
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("pairup").start()
    try {
      mem.addData(StationTrigger(1, B, "reliable"),
        StationTrigger(2, B + 10 * S, "reliable"))
      q.processAllAvailable()
      mem.addData(StationTrigger(2, B + 130 * S, "unreliable"))
      q.processAllAvailable()
      val last = spark.table("pairup").as[PairUptimeOut].collect().last
      assert(last == PairUptimeOut(1, 2, 1, 2L)) // 120 s = 2 min both-online
    } finally q.stop()
  }

  test("checkpoint recovery: registry state survives a query restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt").toString
    val mem = MemoryStream[StationEvent]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[StationUpdate]()
    def start() = StreamingRegistry.registryStream(mem.toDS(),
        timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[StationUpdate],
                       _: Long) =>
        batch.collect().foreach(seen.add)
      }
      .start()
    val q1 = start()
    try {
      mem.addData(StationEvent(4, 100, 2000, 1), StationEvent(4, 200, 2000, 3))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart from the checkpoint: per-station counters must CONTINUE
    val q2 = start()
    try {
      mem.addData(StationEvent(4, 300, 2000, 7))
      q2.processAllAvailable()
      val last = seen.toArray(Array.empty[StationUpdate])
        .filter(_.station == 4L).last
      // 3 events total (2 before restart), progress = (3-1) + (7-3) = 6
      assert(last.nEvents == 3 && last.progress == 6)
      assert(last.meanValue == 20.0 && last.status == "reliable")
    } finally q2.stop()
  }

  test("RocksDB state store backs the stateful registry unchanged") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    withConf(key ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val mem = MemoryStream[StationEvent]
      val q = StreamingRegistry.registryStream(mem.toDS(),
          timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
        .writeStream.outputMode("update")
        .format("memory").queryName("reg_rocks").start()
      try {
        mem.addData(StationEvent(11, 100, 2000, 1),
          StationEvent(11, 200, 2000, 5))
        q.processAllAvailable()
        mem.addData(StationEvent(11, 300, 2000, 9))
        q.processAllAvailable()
        val last = spark.table("reg_rocks").as[StationUpdate].collect()
          .filter(_.station == 11L).last
        // state persisted across micro-batches in RocksDB: counters continue
        assert(last.nEvents == 3 && last.progress == 8)
        assert(last.status == "reliable")
      } finally q.stop()
    }
  }

  test("registry fold: wraparound, mean, hysteresis dead band") {
    val s0 = StationState(0, 0, 0, 0, 0, "created")
    val s1 = StreamingRegistry.fold(s0, StationEvent(1, 100, 10000, 65530))
    assert(s1.progress == 0 && s1.nEvents == 1)
    // wraparound: 65530 -> 3 ⇒ delta = 3 + 65535 - 65530 = 8
    val s2 = StreamingRegistry.fold(s1, StationEvent(1, 200, 10000, 3))
    assert(s2.progress == 8)
    // mean value 100.0 ⇒ f_time = 2.0 > 1.15 ⇒ unreliable
    assert(s2.status == "unreliable")
    // drive mean into the dead band: status must KEEP previous value
    var s = s2
    var i = 0
    while (i < 2) { s = StreamingRegistry.fold(s, StationEvent(1, 300, 0, 10 + i)); i += 1 }
    val fTime = (s.sumValueCents / 100.0 / s.nEvents) / 50.0
    assert(fTime > 0.85 && fTime < 1.15, s"dead band expected, got $fTime")
    assert(s.status == "unreliable") // hysteresis held
  }

  test("trigger reasons: extreme side effect, dead-band hold, ladder reason") {
    val s0 = StationState(0, 0, 0, 0, 0, "created")
    // single extreme event → unreliable/time_accuracy_extreme (R5 side
    // effect, reference detectorstation.cpp:57-61)
    val ex = StreamingRegistry.fold(s0, StationEvent(1, 100, 40000, 1))
    assert(ex.status == "unreliable" && ex.reason == "time_accuracy_extreme")
    // high running mean → time_accuracy
    val hi = StreamingRegistry.fold(s0, StationEvent(1, 100, 10000, 1))
    assert(hi.status == "unreliable" && hi.reason == "time_accuracy")
    // dead band keeps status AND reason
    var s = hi
    var i = 0
    while (i < 2) { s = StreamingRegistry.fold(s, StationEvent(1, 300, 2500, 2 + i)); i += 1 }
    val ft = (s.sumValueCents / 100.0 / s.nEvents) / 50.0
    assert(ft > 0.85 && ft < 1.15)
    assert(s.status == "unreliable" && s.reason == "time_accuracy")
  }

  test("foreachBatch fan-out: one cluster stream to two sinks (O1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val mem = MemoryStream[StreamHit]
    val out = StreamingGeoCoincidence.clusterStream(mem.toDS(),
      watermarkDelay = "0 seconds")
    // the reference multicasts each record to N sinks (sink::collection);
    // Spark shape: one foreachBatch writing to both a parquet sink and an
    // in-memory accumulator
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EmittedGeoCluster], _: Long) =>
        val cached = batch.cache()
        cached.write.mode("append").parquet(dir)
        cached.collect().filter(_.n >= 2).foreach(c => seen.add(c.n))
        cached.unpersist()
        ()
      }
      .start()
    try {
      mem.addData(StreamHit(1, 1, B), StreamHit(2, 2, B + 5 * S),
        StreamHit(3, 3, B + 100 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(4, 9, B + 100000 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(5, 9, B + 200000 * S))
      q.processAllAvailable()
      val fromParquet = spark.read.parquet(dir).as[EmittedGeoCluster].collect()
      assert(fromParquet.filter(_.n >= 2).map(_.n).toSeq == Seq(2L))
      assert(seen.contains(2L))
    } finally q.stop()
  }

  test("liveness ladder rungs (R7: 90 s / 270 s / 48 h)") {
    import StreamingRegistry._
    assert(livenessStatus(10000L, "reliable") == Some("reliable"))
    assert(livenessStatus(90000L, "reliable") == Some("unreliable"))
    assert(livenessStatus(269999L, "reliable") == Some("unreliable"))
    assert(livenessStatus(270000L, "reliable") == Some("offline"))
    assert(livenessStatus(48L * 3600 * 1000 - 1, "x") == Some("offline"))
    assert(livenessStatus(48L * 3600 * 1000, "x") == None) // deleted
  }

  test("watermarked windowed aggregation matches batch grouping (R11 stream)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      StationEvent(1, B, 1000, 1), StationEvent(1, B + 3600 * S, 3000, 2),
      StationEvent(2, B + 100 * S, 5000, 1),
      // second day
      StationEvent(1, B + 90000L * S, 7000, 3))
    val mem = MemoryStream[StationEvent]
    val out = StreamingSummary.summaryStream(mem.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("summaries").start()
    try {
      mem.addData(events)
      q.processAllAvailable()
      // sentinel two days later seals both day windows
      mem.addData(StationEvent(9, B + 300000L * S, 0, 1))
      q.processAllAvailable()
      val got = spark.table("summaries")
        .as[(Long, Long, Long, Double)].collect()
        .filter(_._2 != 9L).map { case (_, st, n, mv) => (st, n, mv) }.toSet
      // batch equivalent on the same rows
      val want = events.toDF("station", "startNs", "valueCents", "counter")
        .withColumn("day", org.apache.spark.sql.functions.expr(
          "(startNs div 1000) div 86400000000"))
        .groupBy("station", "day")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          (org.apache.spark.sql.functions.sum("valueCents") / 100.0 /
            org.apache.spark.sql.functions.count(
              org.apache.spark.sql.functions.lit(1))).as("mv"))
        .as[(Long, Long, Long, Double)].collect()
        .map { case (st, _, n, mv) => (st, n, mv) }.toSet
      assert(got == want)
      assert(got.size == 3) // (st1,day1) merges both same-day events; (st2,day1); (st1,day2)
    } finally q.stop()
  }

  test("streaming registry end-to-end over MemoryStream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StationEvent]
    val out = StreamingRegistry.registryStream(mem.toDS(),
      timeout = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("registry").start()
    try {
      mem.addData(
        StationEvent(7, 100, 2000, 1), StationEvent(7, 200, 2000, 5),
        StationEvent(8, 100, 9000, 1))
      q.processAllAvailable()
      val rows = spark.table("registry").as[StationUpdate].collect()
        .groupBy(_.station).view.mapValues(_.last).toMap
      assert(rows(7).nEvents == 2 && rows(7).progress == 4)
      assert(rows(7).meanValue == 20.0 && rows(7).status == "reliable")
      assert(rows(7).triggered) // created → reliable is a status change
      assert(rows(8).status == "unreliable") // 90 > 50·1.15
      assert(rows(8).reason == "time_accuracy" && rows(8).triggered)
      // a second batch that leaves the status unchanged must NOT trigger
      mem.addData(StationEvent(8, 300, 9000, 2))
      q.processAllAvailable()
      val r8 = spark.table("registry").as[StationUpdate].collect()
        .filter(_.station == 8L).last
      assert(r8.status == "unreliable" && !r8.triggered)
    } finally q.stop()
  }
}
