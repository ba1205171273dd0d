package graft.streaming
import graft.LocalSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Stream/batch parity: the streaming coincidence operator must reproduce
  * the batch gap-sessionization on the same data once the watermark seals
  * the clusters. */
class StreamingSpec extends AnyFunSuite with LocalSpark {

  private def runStream(hits: Seq[StreamHit], gapNs: Long): Seq[EmittedCluster] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamHit]
    val out = StreamingCoincidence.clusterStream(mem.toDS(), gapNs,
      bucketNs = 1000000000000L, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("clusters").start()
    try {
      mem.addData(hits)
      q.processAllAvailable()
      // sentinel far in the future advances the watermark → flush all
      mem.addData(StreamHit(999999L, 999L, hits.map(_.startNs).max + gapNs * 1000))
      q.processAllAvailable()
      // one more empty-ish batch so event-time timeouts fire post-watermark
      mem.addData(StreamHit(999998L, 999L, hits.map(_.startNs).max + gapNs * 2000))
      q.processAllAvailable()
      spark.table("clusters").as[EmittedCluster].collect().toSeq
        .filter(c => c.n >= 2 && c.stations.head != 999L) // sink filter; drop sentinels
    } finally q.stop()
  }

  private val S = 1000000000L // 1 s in ns (watermarks are ms-granular)
  // Fixtures sit well above epoch 0: the stateful op drops rows with
  // ts <= watermark, and the initial watermark is 0.
  private val B = 1000L * S

  test("streaming clusters match batch gap sessions (in-order arrival)") {
    val gap = 10L * S
    // clusters: {0,5,12} (chain), {40,45}, {100} (seconds, offset by B)
    val hits = Seq(
      StreamHit(1, 10, B), StreamHit(2, 11, B + 5 * S), StreamHit(3, 10, B + 12 * S),
      StreamHit(4, 12, B + 40 * S), StreamHit(5, 13, B + 45 * S),
      StreamHit(6, 14, B + 100 * S))
    val got = runStream(hits, gap).sortBy(_.clusterStart)
    assert(got.map(c => (c.clusterStart, c.clusterEnd, c.n)) ==
      Seq((B, B + 12 * S, 3L), (B + 40 * S, B + 45 * S, 2L)))
    // conflicting: station 10 appears twice in the first cluster
    assert(got.head.conflicting && got.head.nStations == 2)
    assert(!got(1).conflicting)
  }

  test("out-of-order arrival: bridging event merges two open clusters") {
    val gap = 10L * S
    // B and B+20s open separately; B+10s arrives later and bridges them
    val hits = Seq(
      StreamHit(1, 1, B), StreamHit(2, 2, B + 20 * S), StreamHit(3, 3, B + 10 * S),
      StreamHit(4, 4, B + 200 * S))
    val got = runStream(hits, gap).sortBy(_.clusterStart)
    assert(got.map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations)) ==
      Seq((B, B + 20 * S, 3L, 3L)))
  }

  test("T1 feedback: grown per-cluster timeout delays sealing (only-grow)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 10L * S
    val mem = MemoryStream[StreamHit]
    val out = StreamingCoincidence.clusterStream(mem.toDS(), gap,
      bucketNs = 1000000000000L, watermarkDelay = "0 seconds",
      dynamicTimeout = true, rateFactor = 10.0)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dynclusters").start()
    try {
      // one cluster; batch spread 5 s → timebase sample 5 s ×10 = 50 s
      mem.addData(StreamHit(1, 10, B), StreamHit(2, 11, B + 5 * S))
      q.processAllAvailable()
      mem.addData(StreamHit(9001, 999, B + 30 * S)) // wm B+5 → B+30
      q.processAllAvailable()
      // wm settles at B+40: past the static deadline (maxStart+gap = B+15)
      // but short of the grown one (B+5+50) — the cluster must stay open
      mem.addData(StreamHit(9002, 999, B + 40 * S))
      q.processAllAvailable()
      assert(spark.table("dynclusters").as[EmittedCluster].collect()
        .count(c => c.n >= 2 && !c.stations.contains(999L)) == 0)
      mem.addData(StreamHit(9003, 999, B + 200 * S)) // wm → past B+55
      q.processAllAvailable()
      val got = spark.table("dynclusters").as[EmittedCluster].collect()
        .filter(c => c.n >= 2 && !c.stations.contains(999L))
      assert(got.map(c => (c.clusterStart, c.clusterEnd, c.n)).toSeq ==
        Seq((B, B + 5 * S, 2L)))
    } finally q.stop()

    // only-grow: merging under a smaller current sample keeps the timeout
    val held = StreamingCoincidence.addEvent(
      List(OpenCluster(B, B + 5 * S, List(10L), List(1L), 50L * S)),
      StreamHit(2, 11, B + 6 * S), gap, dynNs = 20L * S)
    assert(held.head.timeoutNs == 50L * S)
    // clamp ladder: huge spread → base capped at 120 s, ×10 → 1200 s
    assert(StreamingCoincidence.dynTimeout(700L * S, 10.0, gap) == 1200L * S)
    // tiny spread at factor 1 clamps to TimeoutMin, then the gap floor wins
    assert(StreamingCoincidence.dynTimeout(S / 10, 1.0, gap) == gap)
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

  test("stream/batch parity on the real sf0.001 events table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = graft.Detector.GapNs
    // batch canonical clusters (n >= 2) over the same hit set
    val hits = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "user_id AS station", "ts AS start_ns")
    val batch = graft.operators.Sessionize
      .withClusterKey(hits, gap)
      .groupBy("cluster_key")
      .agg(org.apache.spark.sql.functions.min("start_ns").as("s"),
        org.apache.spark.sql.functions.max("start_ns").as("e"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(org.apache.spark.sql.functions.col("n") >= 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (_, st, en, n) => (st, en, n) }.toSet

    val rows = hits.as[(Long, Long, Long)].collect()
      .map { case (id, st, t) => StreamHit(id, st, t) }.toSeq
    val mem = MemoryStream[StreamHit]
    // one giant bucket: parity check isolates the clustering rule itself
    val out = StreamingCoincidence.clusterStream(mem.toDS(), gap,
      bucketNs = Long.MaxValue / 4, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("parity").start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, rows.map(_.startNs).max + gap * 1000))
      q.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, rows.map(_.startNs).max + gap * 2000))
      q.processAllAvailable()
      val got = spark.table("parity").as[EmittedCluster].collect()
        .filter(c => c.n >= 2 && !c.stations.contains(999L))
        .map(c => (c.clusterStart, c.clusterEnd, c.n)).toSet
      assert(got == batch)
      assert(got.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch fan-out: one cluster stream to two sinks (O1)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = 10L * S
    val dir = java.nio.file.Files.createTempDirectory("fanout").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val mem = MemoryStream[StreamHit]
    val out = StreamingCoincidence.clusterStream(mem.toDS(), gap,
      bucketNs = 1000000000000L, watermarkDelay = "0 seconds")
    // the reference multicasts each record to N sinks (sink::collection);
    // Spark shape: one foreachBatch writing to both a parquet sink and an
    // in-memory accumulator
    val q = out.writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[EmittedCluster], _: Long) =>
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
      val fromParquet = spark.read.parquet(dir).as[EmittedCluster].collect()
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

  test("boundary compaction: tiny buckets + compact == batch sessions (real data)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val gap = graft.Detector.GapNs
    val hits = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .selectExpr("event_id", "user_id AS station", "ts AS start_ns")
    val batch = graft.operators.Sessionize
      .withClusterKey(hits, gap)
      .groupBy("cluster_key")
      .agg(org.apache.spark.sql.functions.min("start_ns").as("s"),
        org.apache.spark.sql.functions.max("start_ns").as("e"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .filter(org.apache.spark.sql.functions.col("n") >= 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (_, st, en, n) => (st, en, n) }.toSet

    val rows = hits.as[(Long, Long, Long)].collect()
      .map { case (id, st, t) => StreamHit(id, st, t) }.toSeq
    val mem = MemoryStream[StreamHit]
    // 90-second buckets deliberately SPLIT many clusters at boundaries
    val out = StreamingCoincidence.clusterStream(mem.toDS(), gap,
      bucketNs = 3 * gap, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("frags").start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(StreamHit(-1L, 999L, rows.map(_.startNs).max + gap * 1000))
      q.processAllAvailable()
      mem.addData(StreamHit(-2L, 999L, rows.map(_.startNs).max + gap * 2000))
      q.processAllAvailable()
      val frags = spark.table("frags").as[EmittedCluster].collect()
        .filter(c => !c.stations.contains(999L))
      val compacted = StreamingCoincidence.compactClusters(frags.toSeq, gap)
        .filter(_.n >= 2)
        .map(c => (c.clusterStart, c.clusterEnd, c.n)).toSet
      assert(compacted == batch)
      // and the fragments alone (pre-compaction) do NOT match — the pass matters
      assert(frags.filter(_.n >= 2)
        .map(c => (c.clusterStart, c.clusterEnd, c.n)).toSet != batch)
    } finally q.stop()
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
