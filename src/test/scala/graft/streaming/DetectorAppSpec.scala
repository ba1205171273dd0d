package graft.streaming

import graft.LocalSpark
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end parity for the COMPOSED streaming detector application
  * (DetectorApp): the one standing DAG — wire parse → per-station
  * registry gate → geodesic clustering → n ≥ 2 MQTT/ASCII fan-out —
  * must reproduce the composed batch queries' sink rows on the real
  * corpus. This is the reference's application.cpp wiring under test as
  * a WHOLE, not operator by operator. */
class DetectorAppSpec extends AnyFunSuite with LocalSpark {

  private val SentinelStation = 999999L

  private def corpusLines(dir: String): Seq[(String, String)] =
    graft.Wire.wireLinesPublic(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** A gate-passing wire line for the sentinel station: ublox cycles the
    * detinfo residues (mask completes at the 6th), tiny time_acc keeps
    * the R6 fold reliable, fix = 1 passes R5. */
  private def sentinelLine(ublox: Int, tSec: Long): (String, String) =
    stationLine(SentinelStation, ublox, tSec)

  private def stationLine(station: Long, ublox: Int, tSec: Long)
      : (String, String) = {
    val f = "%d.%09d".format(tSec, 0)
    (s"muonpi/data/u$station/st0", s"$f $f 10 $ublox 1 1 1")
  }

  /** Drive the composed stream over wire lines, flushing with sentinel
    * rounds (the sentinel must itself pass the registry gate to reach
    * the clusterer and advance the watermark). */
  private def runComposed(lines: Seq[(String, String)], baseSec: Long)
      : Seq[EmittedGeoCluster] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    val out = DetectorApp.composedStream(mem.toDS().toDF("topic", "payload"),
      watermarkDelay = "0 seconds")
    val name = s"detapp_$baseSec"
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    try {
      mem.addData(lines)
      q.processAllAvailable()
      // 6 sentinels complete the mask; only the 6th passes the gate
      mem.addData((0 until 6).map(k => sentinelLine(k, baseSec + k * 100)))
      q.processAllAvailable()
      mem.addData(sentinelLine(0, baseSec + 1000000L))
      q.processAllAvailable()
      mem.addData(sentinelLine(1, baseSec + 2000000L))
      q.processAllAvailable()
      spark.table(name).as[EmittedGeoCluster].collect().toSeq
        .filter(c => !c.members.exists(_.station == SentinelStation))
    } finally q.stop()
  }

  test("gate stage: stream output equals the batch prefix fold (sf0.001)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val mem = MemoryStream[(String, String)]
    val out = DetectorApp.gateStage(
      DetectorApp.parseStage(mem.toDS().toDF("topic", "payload")))
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("detapp_gate").start()
    try {
      mem.addData(corpusLines(dir))
      q.processAllAvailable()
      val got = spark.table("detapp_gate").as[StreamHit].collect().toSet
      val want = DetectorApp.batchGated(spark, dir).collect().toSet
      assert(got == want)
      assert(got.nonEmpty) // 135 gated hits at sf0.001 — the gate does work
    } finally q.stop()
  }

  test("composed DAG: stream sinks equal the batch DAG queries (sf0.01)") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val lines = corpusLines(dir)
    val maxSec = 4000000000L // far beyond any corpus timestamp (ns ~ 1.7e18)
    val clusters = runComposed(lines, maxSec)

    // envelopes == detector_dag
    val gotEnv = clusters.filter(_.n >= 2)
      .map(c => (c.clusterStart, c.clusterEnd, c.n, c.nStations,
        c.conflicting)).sorted
    val wantEnv = DetectorApp.queries("detector_dag")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4))).toSeq.sorted
    assert(gotEnv == wantEnv)
    assert(gotEnv.nonEmpty) // 50 clusters at sf0.01 — non-vacuous

    // sink fan-out: formatted rows equal the batch formatters' rows
    val ds = spark.createDataset(clusters)
    val gotMqtt = DetectorApp.mqttLines(ds).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val wantMqtt = DetectorApp.queries("detector_dag_mqtt")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(gotMqtt == wantMqtt)
    assert(gotMqtt.nonEmpty)

    val gotAscii = DetectorApp.asciiLines(ds).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val wantAscii = DetectorApp.queries("detector_dag_ascii")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(gotAscii == wantAscii)
    assert(gotAscii.nonEmpty)
  }

  test("standing application: file source in, formatted parquet sinks out") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val in = java.nio.file.Files.createTempDirectory("detapp_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("detapp_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("detapp_ck").toString
    // corpus + a full gate-passing sentinel ladder so at least the corpus
    // sessions seal within the run
    val maxSec = 4000000000L
    val all = corpusLines(dir) ++
      (0 until 6).map(k => sentinelLine(k, maxSec + k * 100)) ++
      Seq(sentinelLine(0, maxSec + 1000000L), sentinelLine(1, maxSec + 2000000L))
    all.toDF("topic", "payload").write.mode("overwrite").json(in)
    val q = DetectorApp.run(spark, in, outDir, ckpt,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
    q.awaitTermination(120000)
    // sf0.001 has no n >= 2 clusters after gating (the corpus is too
    // sparse post-gate); the app must still run the full DAG and write
    // the sink directories' (possibly empty) datasets without error.
    val mqttFiles = new java.io.File(s"$outDir/mqtt").list()
    val asciiFiles = new java.io.File(s"$outDir/ascii").list()
    assert(mqttFiles != null && asciiFiles != null)
    val sentinelHex = "%016x".format(SentinelStation)
    val mqtt = spark.read.schema("uuid BIGINT, msg STRING")
      .parquet(s"$outDir/mqtt")
    import org.apache.spark.sql.functions.{col, not}
    assert(mqtt.filter(not(col("msg").contains(sentinelHex))).count() == 0)
  }

  // ---- the standing application across deliveries and restarts ----

  private val MaxSec = 4000000000L

  /** The sentinel's six mask-completing lines, then two far hits: the
    * watermark they raise seals every earlier session. */
  private def sentinelLadder: Seq[(String, String)] =
    (0 until 6).map(k => sentinelLine(k, MaxSec + k * 100)) ++
      Seq(sentinelLine(0, MaxSec + 1000000L),
        sentinelLine(1, MaxSec + 2000000L))

  private def appDirs(): Seq[String] =
    Seq("detapp_in", "detapp_out", "detapp_ck")
      .map(Files.createTempDirectory(_).toString)

  private def startApp(in: String, out: String, ck: String): StreamingQuery =
    DetectorApp.run(spark, in, out, ck, Trigger.ProcessingTime(0))

  /** One delivery: a JSON-lines file moved into the source directory in
    * one rename, then every batch it causes (the no-data batch too). */
  private def deliver(q: StreamingQuery, in: String, name: String,
                      lines: Seq[(String, String)]): Unit = {
    assert(lines.forall { case (t, p) => !(t + p).exists("\"\\".contains(_)) })
    val tmp = Files.createTempFile("detapp_file", ".json")
    Files.write(tmp, lines.map { case (t, p) =>
      s"""{"topic":"$t","payload":"$p"}""" }.asJava)
    Files.move(tmp, Paths.get(in, name), StandardCopyOption.ATOMIC_MOVE)
    q.processAllAvailable()
  }

  /** A sink's rows without the sentinel's, in order. */
  private def sinkRows(out: String, sink: String): Seq[(Long, String)] = {
    val sentinelHex = "%016x".format(SentinelStation)
    spark.read.schema("uuid BIGINT, msg STRING").parquet(s"$out/$sink")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter { case (uuid, msg) =>
        uuid < MaxSec * 1000000000L && !msg.contains(sentinelHex) }
      .sorted
  }

  private def partFiles(out: String): Seq[Int] =
    Seq("mqtt", "ascii").map(sink =>
      new java.io.File(s"$out/$sink").list().count(_.startsWith("part-")))

  /** The manager in the query's own (cloned) session; the accessor is
    * Spark-internal in Scala but public in bytecode. */
  private def queryManager(q: StreamingQuery): String = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    exec.getClass.getMethod("sparkSessionForStream").invoke(exec)
      .asInstanceOf[SparkSession].conf.get(DetectorApp.CheckpointManagerKey)
  }

  test("standing application: the checkpoint manager is scoped to the query") {
    val key = DetectorApp.CheckpointManagerKey
    val fsManager = classOf[FileSystemBasedCheckpointFileManager].getName
    val fcManager = classOf[FileContextBasedCheckpointFileManager].getName
    assert(spark.conf.getOption(key).isEmpty)
    val Seq(in, out, ck) = appDirs()
    val q = startApp(in, out, ck)
    try {
      assert(spark.conf.getOption(key).isEmpty)
      assert(queryManager(q) == fsManager)
    } finally q.stop()
    // a value the caller set is restored, not dropped
    withConf(key -> fcManager) {
      val Seq(in2, out2, ck2) = appDirs()
      val q2 = startApp(in2, out2, ck2)
      try {
        assert(spark.conf.get(key) == fcManager)
        assert(queryManager(q2) == fsManager)
      } finally q2.stop()
    }
  }

  test("standing application: only batches with clusters write the sinks") {
    val Seq(in, out, ck) = appDirs()
    val q = startApp(in, out, ck)
    try {
      // the query's first batch writes both sinks, with their schema, even
      // though its only line is rejected by the parser
      deliver(q, in, "f00.json", Seq(("muonpi/data/cluster/st0", "x")))
      val first = partFiles(out)
      assert(first.forall(_ > 0))
      // two stations complete their masks; their sixth hits coincide at
      // tSec, but the watermark (tSec - 30 s) cannot seal that session yet
      val tSec = 3000000000L
      deliver(q, in, "f01.json",
        for (st <- Seq(101L, 202L); k <- 0 until 6)
          yield stationLine(st, k, tSec - (5 - k) * 100))
      assert(partFiles(out) == first)
      assert(sinkRows(out, "ascii").isEmpty && sinkRows(out, "mqtt").isEmpty)
      // the ladder's no-data batch seals it and writes its rows
      deliver(q, in, "f02.json", sentinelLadder)
      assert(partFiles(out).zip(first).forall { case (a, b) => a > b })
      val uuid = tSec * 1000000000L
      assert(sinkRows(out, "ascii") == Seq((uuid, "Event: n=2 1/1 V dt=0")))
      assert(sinkRows(out, "mqtt").map(_._1) == Seq(uuid, uuid))
    } finally q.stop()
  }

  test("standing application: a shower across an hour boundary is one cluster") {
    import spark.implicits._
    // four stations, each with six detinfo lines (ids 60s+6 .. 60s+11
    // cover the mask residues 0-5); the sixth completes the mask and is
    // the station's only gated hit, at the boundary -1.5/-0.5/+0.5/+1.5 s
    val boundaryNs = 472222L * 3600 * 1000000000L
    val offsetsMs = Seq(-1500L, -500L, 500L, 1500L)
    val events = for {
      ((st, off), s) <- Seq(1001L, 1013L, 1027L, 1042L).zip(offsetsMs)
        .zipWithIndex
      k <- 0 until 6
    } yield (60L * s + 6 + k, st,
      if (k < 5) boundaryNs - (1000L - 10 * k) * 1000000000L
      else boundaryNs + off * 1000000L,
      "event", 1.0)
    val dir = Files.createTempDirectory("detapp_straddle").toString
    events.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.parquet(s"$dir/events.parquet")

    val Seq(in, out, ck) = appDirs()
    val q = startApp(in, out, ck)
    try {
      deliver(q, in, "f00.json", corpusLines(dir))
      deliver(q, in, "f01.json", sentinelLadder)
    } finally q.stop()
    def batchRows(query: String) =
      DetectorApp.queries(query)(spark, dir).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    val ascii = sinkRows(out, "ascii")
    assert(ascii.size == 1, s"fragments: $ascii")
    assert(ascii == batchRows("detector_dag_ascii"))
    val mqtt = sinkRows(out, "mqtt")
    assert(mqtt.size == 4)
    assert(mqtt == batchRows("detector_dag_mqtt"))
  }

  test("standing application: a restart loses and repeats no sink row (sf0.01)") {
    // time-ordered files, so delivery is station-monotone and no hit is late
    val lines = corpusLines("/root/testdata/sf0.01")
      .sortBy(_._2.takeWhile(_ != ' '))
    val files = (lines.grouped((lines.size + 3) / 4).toSeq :+ sentinelLadder)
      .zipWithIndex
    def drive(dirs: Seq[String], fs: Seq[(Seq[(String, String)], Int)]) = {
      val Seq(in, out, ck) = dirs
      val q = startApp(in, out, ck)
      try fs.foreach { case (f, i) => deliver(q, in, f"f$i%02d.json", f) }
      finally q.stop()
    }
    val whole = appDirs()
    drive(whole, files)
    // stopped after two files, restarted on the same checkpoint and sinks
    val split = appDirs()
    drive(split, files.take(2))
    drive(split, files.drop(2))
    for (sink <- Seq("mqtt", "ascii")) {
      val want = sinkRows(whole(1), sink)
      assert(want.nonEmpty)
      assert(sinkRows(split(1), sink) == want)
    }
  }
}
