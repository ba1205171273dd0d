package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** Hudi MERGE_ON_READ pins: the log-block byte layout (magic,
  * big-endian lengths, header maps, the reverse-traversal trailer),
  * corrupt-block resync, AVRO_DATA / DELETE content codecs, and the
  * table-level merge semantics — upserts override base rows by key,
  * delete blocks drop keys, uncommitted appends stay invisible,
  * command blocks roll back their target instant, and compaction
  * advances the slice so superseded logs fall out. */
class HudiLogSpec extends AnyFunSuite with LocalSpark {

  private def tmpTable(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def baseDf(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, (i % 3).toString, i * 1.5))
      .toDF("k", "p", "v")
  }

  private def dataBlock(instant: String): HudiLog.Block =
    HudiLog.Block(HudiLog.AvroData,
      Map(HudiLog.InstantTime -> instant,
        HudiLog.SchemaKey -> "{}"),
      Map.empty,
      HudiLog.avroDataContent(Seq(Array[Byte](1, 2, 3))))

  // ---------------------------------------------------------------
  // Block layout
  // ---------------------------------------------------------------

  test("block byte layout: magic, BE lengths, reverse pointer") {
    val b = HudiLog.Block(HudiLog.AvroData,
      Map(HudiLog.InstantTime -> "001"), Map.empty,
      Array[Byte](9, 8, 7))
    val bytes = HudiLog.renderBlock(b)
    // magic
    assert(bytes.take(6).sameElements("#HUDI#".getBytes("UTF-8")))
    def be32(p: Int) = ((bytes(p) & 0xff) << 24) |
      ((bytes(p + 1) & 0xff) << 16) | ((bytes(p + 2) & 0xff) << 8) |
      (bytes(p + 3) & 0xff)
    def be64(p: Int) = ((be32(p) & 0xffffffffL) << 32) |
      (be32(p + 4) & 0xffffffffL)
    // blockSize excludes magic and itself
    assert(be64(6) == bytes.length - 6 - 8)
    assert(be32(14) == 1) // log format version
    assert(be32(18) == HudiLog.AvroData) // type ordinal 3
    // header map: 1 entry, key ordinal 0, len 3, "001"
    assert(be32(22) == 1 && be32(26) == 0 && be32(30) == 3)
    assert(new String(bytes, 34, 3, "UTF-8") == "001")
    // content length + content
    assert(be64(37) == 3L)
    assert(bytes.slice(45, 48).toSeq == Seq[Byte](9, 8, 7))
    // empty footer map
    assert(be32(48) == 0)
    // reverse pointer: total block length INCLUDING magic
    assert(be64(bytes.length - 8) == bytes.length.toLong)
    // round trip
    val parsed = HudiLog.parse(bytes)
    assert(parsed.length == 1)
    assert(parsed.head.tpe == HudiLog.AvroData)
    assert(parsed.head.header == Map(HudiLog.InstantTime -> "001"))
    assert(parsed.head.content.toSeq == Seq[Byte](9, 8, 7))
  }

  test("corrupt stretch resyncs at the next magic") {
    val good1 = HudiLog.renderBlock(dataBlock("001"))
    val good2 = HudiLog.renderBlock(dataBlock("002"))
    val torn = good1.take(good1.length - 11) // torn append
    val stream = torn ++ good2
    val parsed = HudiLog.parse(stream)
    assert(parsed.length == 2)
    assert(parsed(0).corrupt)
    assert(!parsed(1).corrupt &&
      parsed(1).header(HudiLog.InstantTime) == "002")
    // garbage prefix also resyncs
    val parsed2 = HudiLog.parse("JUNK".getBytes ++ good1)
    assert(parsed2.length == 2 && parsed2(0).corrupt &&
      parsed2(1).header(HudiLog.InstantTime) == "001")
  }

  test("avro data content: round trip, v1 and truncation reject") {
    val ds = Seq(Array[Byte](1), Array[Byte](2, 3), Array.emptyByteArray)
    val c = HudiLog.avroDataContent(ds)
    val back = HudiLog.parseAvroDataContent(c).get
    assert(back.map(_.toSeq) == ds.map(_.toSeq))
    // version pins at 3
    assert(((c(0) << 24) | c(3)) == 3)
    // v1 (no length prefixes) rejects
    val v1 = c.clone(); v1(3) = 1
    assert(HudiLog.parseAvroDataContent(v1).isEmpty)
    // truncation rejects (exact consumption)
    assert(HudiLog.parseAvroDataContent(c.dropRight(1)).isEmpty)
    assert(HudiLog.parseAvroDataContent(c ++ Array[Byte](0)).isEmpty)
  }

  test("delete content: round trip, non-null orderingVal rejects") {
    val keys = Seq(("p0", "k1"), ("p1", "k2"))
    val c = HudiLog.deleteContent(keys)
    assert(HudiLog.parseDeleteContent(c).contains(keys))
    assert(HudiLog.parseDeleteContent(
      HudiLog.deleteContent(Nil)).contains(Nil))
    // flip the orderingVal union branch of the last record from the
    // null branch (varint 0) to branch 1: honest rejection. Layout
    // ends ..., orderingVal branch (0x00), array terminator (0x00).
    val c2 = c.clone()
    assert(c2(c2.length - 1) == 0 && c2(c2.length - 2) == 0)
    c2(c2.length - 2) = 2 // zigzag(1): orderingVal branch 1
    assert(HudiLog.parseDeleteContent(c2).isEmpty)
    // torn content rejects
    assert(HudiLog.parseDeleteContent(c.dropRight(1)).isEmpty)
  }

  test("avro datum codec: round trip and exact consumption") {
    val fields = Seq(
      Avro.NField("a", Avro.NPrim("long"), nullable = false),
      Avro.NField("b", Avro.NPrim("string"), nullable = true),
      Avro.NField("c", Avro.NPrim("double"), nullable = false))
    val row: Avro.Row = Seq(Some(42L), None, Some(1.5))
    val enc = Avro.encodeDatum(fields, row)
    assert(Avro.decodeDatum(fields, enc).contains(row))
    val row2: Avro.Row = Seq(Some(-7L), Some("hé"), Some(-0.25))
    val enc2 = Avro.encodeDatum(fields, row2)
    assert(Avro.decodeDatum(fields, enc2).contains(row2))
    // trailing garbage / truncation reject
    assert(Avro.decodeDatum(fields, enc ++ Array[Byte](0)).isEmpty)
    assert(Avro.decodeDatum(fields, enc.dropRight(1)).isEmpty)
  }

  // ---------------------------------------------------------------
  // Table-level MOR semantics
  // ---------------------------------------------------------------

  test("MOR: log upserts merge over base by key") {
    val s = spark
    import s.implicits._
    val t = tmpTable("mor_up")
    Hudi.createMor(s, baseDf(90), t, "k", "p")
    val got0 = Hudi.read(s, t)
    assert(got0.count() == 90)
    // update keys divisible by 6 (all in partition "0") via a log
    val upd = baseDf(90).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsertMorLog(s, upd, t, "k", "p")
    // base files untouched, a log file appeared
    val sl = Hudi.slices(t)
    assert(sl.length == 3)
    assert(sl.filter(_.partition == "0").head.logs.length == 1)
    assert(sl.filter(_.partition == "1").head.logs.isEmpty)
    val got = Hudi.read(s, t)
    assert(got.count() == 90)
    assert(got.where("k % 6 = 0 and v != k * 1.5 + 100").count() == 0)
    assert(got.where("k % 6 != 0 and v != k * 1.5").count() == 0)
    // updated rows carry the log's commit time, others the base's
    assert(got.where("k % 6 = 0 and " +
      "_hoodie_commit_time != '00000000000002'").count() == 0)
    assert(got.where("k % 6 != 0 and " +
      "_hoodie_commit_time != '00000000000001'").count() == 0)
    // a second upsert bumps the log version in the SAME slice
    Hudi.upsertMorLog(s, upd.withColumn("v",
      org.apache.spark.sql.functions.expr("v + 1")), t, "k", "p")
    val sl2 = Hudi.slices(t).filter(_.partition == "0").head
    assert(sl2.logs.map(_._1) == Seq(1, 2))
    assert(Hudi.read(s, t)
      .where("k % 6 = 0 and v != k * 1.5 + 101").count() == 0)
  }

  test("MOR: PARQUET log blocks merge like avro blocks, mixed in " +
    "one chain (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("mor_pq")
    Hudi.createMor(s, baseDf(90), t, "k", "p")
    // wave 1: parquet-payload block (instant 2)
    val upd = baseDf(90).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsertMorParquetLog(s, upd, t, "k", "p")
    // the block on disk really is PARQUET_DATA with a decodable
    // parquet file as content
    val sl = Hudi.slices(t).filter(_.partition == "0").head
    assert(sl.logs.length == 1)
    val blocks = HudiLog.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sl.logs.head._2)))
    assert(blocks.map(_.tpe) == Seq(HudiLog.ParquetData))
    assert(graft.operators.ParquetData
      .decodeFile(blocks.head.content).isDefined)
    val got = Hudi.read(s, t)
    assert(got.count() == 90)
    assert(got.where("k % 6 = 0 and v != k * 1.5 + 100").count() == 0)
    assert(got.where("k % 6 != 0 and v != k * 1.5").count() == 0)
    assert(got.where("k % 6 = 0 and " +
      "_hoodie_commit_time != '00000000000002'").count() == 0)
    // wave 2: an AVRO block on top of the parquet one — the newer
    // instant must win regardless of the payload format
    Hudi.upsertMorLog(s, upd.withColumn("v",
      org.apache.spark.sql.functions.expr("v + 1")), t, "k", "p")
    assert(Hudi.read(s, t)
      .where("k % 6 = 0 and v != k * 1.5 + 101").count() == 0)
    // ...and a parquet block back on top of the avro one
    Hudi.upsertMorParquetLog(s, upd.withColumn("v",
      org.apache.spark.sql.functions.expr("v + 2")), t, "k", "p")
    assert(Hudi.read(s, t)
      .where("k % 6 = 0 and v != k * 1.5 + 102").count() == 0)
  }

  test("MOR: duplicate log version (two write tokens) rejects " +
    "loudly (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("mor_dup")
    Hudi.createMor(s, baseDf(30), t, "k", "p")
    val upd = baseDf(30).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 1"))
    Hudi.upsertMorLog(s, upd, t, "k", "p")
    val sl = Hudi.slices(t).filter(_.partition == "0").head
    val log = new java.io.File(sl.logs.head._2)
    // a retried writer's leftover: same version, different token
    val twin = new java.io.File(log.getParentFile,
      log.getName.stripSuffix("0-0-0") + "1-0-0")
    java.nio.file.Files.copy(log.toPath, twin.toPath)
    val e = intercept[IllegalArgumentException](Hudi.slices(t))
    assert(e.getMessage.contains("duplicate hudi log version"))
    assert(twin.delete())
    assert(Hudi.slices(t).nonEmpty) // clean again
  }

  test("MOR: HFILE log blocks merge like avro blocks, mixed in " +
    "one chain (r14)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("mor_hfile")
    Hudi.createMor(s, baseDf(90), t, "k", "p")
    // wave 1: hfile-payload block (instant 2)
    val upd = baseDf(90).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsertMorHFileLog(s, upd, t, "k", "p")
    // the block on disk really is HFILE_DATA with a decodable
    // hfile as content, cells keyed by record key
    val sl = Hudi.slices(t).filter(_.partition == "0").head
    assert(sl.logs.length == 1)
    val blocks = HudiLog.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sl.logs.head._2)))
    assert(blocks.map(_.tpe) == Seq(HudiLog.HFileData))
    val cells = graft.operators.HFile.parse(blocks.head.content)
      .getOrElse(fail("hfile block content does not parse"))
    assert(cells.nonEmpty)
    val keys = cells.map(c => new String(c.row, "UTF-8"))
    assert(keys == keys.sorted)
    val got = Hudi.read(s, t)
    assert(got.count() == 90)
    assert(got.where("k % 6 = 0 and v != k * 1.5 + 100").count() == 0)
    assert(got.where("k % 6 != 0 and v != k * 1.5").count() == 0)
    assert(got.where("k % 6 = 0 and " +
      "_hoodie_commit_time != '00000000000002'").count() == 0)
    // wave 2: an AVRO block on top — newer instant wins regardless
    Hudi.upsertMorLog(s, upd.withColumn("v",
      org.apache.spark.sql.functions.expr("v + 1")), t, "k", "p")
    assert(Hudi.read(s, t)
      .where("k % 6 = 0 and v != k * 1.5 + 101").count() == 0)
    // ...and an hfile block back on top of the avro one
    Hudi.upsertMorHFileLog(s, upd.withColumn("v",
      org.apache.spark.sql.functions.expr("v + 2")), t, "k", "p")
    assert(Hudi.read(s, t)
      .where("k % 6 = 0 and v != k * 1.5 + 102").count() == 0)
  }

  test("MOR: garbage HFILE content and CDC blocks reject loudly " +
    "(r14)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("mor_hf")
    Hudi.createMor(s, baseDf(30), t, "k", "p")
    val upd = baseDf(30).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 1"))
    Hudi.upsertMorHFileLog(s, upd, t, "k", "p") // instant 2, done
    val sl = Hudi.slices(t).filter(_.partition == "0").head
    def chain(x: Throwable): Seq[String] =
      if (x == null) Nil
      else Option(x.getMessage).toSeq ++ chain(x.getCause)
    // an HFILE block whose content is not an hfile (schema header
    // borrowed from the real block): loud reject
    val real = HudiLog.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sl.logs.head._2))).head
    HudiLog.append(new java.io.File(sl.logs.head._2), Seq(
      HudiLog.Block(HudiLog.HFileData, real.header, Map.empty,
        Array[Byte](1, 2, 3))))
    val e = intercept[Exception](Hudi.read(s, t).count())
    assert(chain(e).exists(
      _.contains("malformed hudi hfile data block")))
  }

  test("MOR: delete blocks drop keys; pending append is invisible") {
    val s = spark
    val t = tmpTable("mor_del")
    Hudi.createMor(s, baseDf(90), t, "k", "p")
    Hudi.deleteMor(s, baseDf(90).where("k < 30"), t, "k", "p")
    val got = Hudi.read(s, t)
    assert(got.count() == 60)
    assert(got.where("k < 30").count() == 0)
    // pending deltacommit: log blocks exist on disk but don't read
    Hudi.pendingDeltaCommit(s, baseDf(90).where("k >= 60"), t, "k", "p")
    assert(Hudi.slices(t).map(_.logs.length).sum >= 4)
    assert(Hudi.read(s, t).count() == 60)
  }

  test("MOR: command block rolls back its target instant") {
    val s = spark
    val t = tmpTable("mor_rb")
    Hudi.createMor(s, baseDf(30), t, "k", "p")
    val upd = baseDf(30).where("k % 3 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsertMorLog(s, upd, t, "k", "p") // instant 2
    assert(Hudi.read(s, t).where("v >= 100").count() == 10)
    // append a ROLLBACK command block targeting instant 2
    val slice = Hudi.slices(t).filter(_.partition == "0").head
    val logFile = new java.io.File(slice.logs.head._2)
    HudiLog.append(logFile, Seq(HudiLog.Block(HudiLog.Command,
      Map(HudiLog.TargetInstantTime -> "00000000000002",
        HudiLog.CommandBlockType -> "0"),
      Map.empty, Array.emptyByteArray)))
    val got = Hudi.read(s, t)
    assert(got.count() == 30)
    assert(got.where("v >= 100").count() == 0) // rolled back
  }

  test("MOR: compaction advances the slice, preserving meta") {
    val s = spark
    val t = tmpTable("mor_cp")
    Hudi.createMor(s, baseDf(90), t, "k", "p")
    val upd = baseDf(90).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsertMorLog(s, upd, t, "k", "p") // instant 2
    val before = Hudi.read(s, t).selectExpr(
      "k", "v", "_hoodie_commit_time").collect().sortBy(_.getLong(0))
    Hudi.compactMor(s, t) // instant 3
    val sl = Hudi.slices(t)
    assert(sl.forall(_.baseInstant == "00000000000003"))
    assert(sl.forall(_.logs.isEmpty))
    val after = Hudi.read(s, t).selectExpr(
      "k", "v", "_hoodie_commit_time").collect().sortBy(_.getLong(0))
    // record-level history preserved through the rewrite
    assert(before.map(r => (r.getLong(0), r.getDouble(1),
      r.getString(2))).toSeq ==
      after.map(r => (r.getLong(0), r.getDouble(1),
        r.getString(2))).toSeq)
    // post-compaction logs attach to the NEW base instant
    Hudi.upsertMorLog(s, upd.withColumn("v",
      org.apache.spark.sql.functions.expr("v + 1")), t, "k", "p")
    val sl2 = Hudi.slices(t).filter(_.partition == "0").head
    assert(sl2.baseInstant == "00000000000003" &&
      sl2.logs.length == 1)
    assert(Hudi.read(s, t)
      .where("k % 6 = 0 and v != k * 1.5 + 101").count() == 0)
  }

  test("a write AFTER a pending deltacommit must not reuse its " +
    "instant (would resurrect uncommitted blocks)") {
    val s = spark
    val t = tmpTable("mor_pend2")
    Hudi.createMor(s, baseDf(30), t, "k", "p") // instant 1
    // pending instant 2: blocks on disk, never completed
    Hudi.pendingDeltaCommit(s, baseDf(30).where("k < 9")
      .withColumn("v", org.apache.spark.sql.functions
        .expr("v + 1000")), t, "k", "p")
    assert(Hudi.read(s, t).where("v >= 1000").count() == 0)
    // a NEW completed write must take instant 3, not 2
    Hudi.upsertMorLog(s, baseDf(30).where("k % 3 = 1")
      .withColumn("v", org.apache.spark.sql.functions
        .expr("v + 10")), t, "k", "p")
    val got = Hudi.read(s, t)
    // the pending qty+1000 wave must STAY invisible
    assert(got.where("v >= 1000").count() == 0)
    assert(got.where("k % 3 = 1 and v != k * 1.5 + 10").count() == 0)
    assert(Hudi.timeline(t).map(_.time).max == "00000000000003")
  }

  test("rollback only voids blocks BEFORE the command (a retried " +
    "instant's re-appended blocks stay visible)") {
    val s = spark
    val t = tmpTable("mor_retry")
    Hudi.createMor(s, baseDf(30), t, "k", "p")
    val upd = baseDf(30).where("k % 3 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsertMorLog(s, upd, t, "k", "p") // instant 2, attempt 1
    val slice = Hudi.slices(t).filter(_.partition == "0").head
    val logFile = new java.io.File(slice.logs.head._2)
    // rollback attempt 1, then RE-APPEND the same instant's blocks
    // (the retry layout hudi's own reader must honor)
    val attempt1 = HudiLog.parse(
      java.nio.file.Files.readAllBytes(logFile.toPath))
    HudiLog.append(logFile, Seq(HudiLog.Block(HudiLog.Command,
      Map(HudiLog.TargetInstantTime -> "00000000000002",
        HudiLog.CommandBlockType -> "0"),
      Map.empty, Array.emptyByteArray)))
    HudiLog.append(logFile, attempt1.filter(!_.corrupt))
    val got = Hudi.read(s, t)
    assert(got.count() == 30)
    // the retry's blocks are visible: the update survives
    assert(got.where("k % 3 = 0 and v != k * 1.5 + 100").count() == 0)
    assert(got.where("k % 3 != 0 and v != k * 1.5").count() == 0)
  }

  test("MOR rejections: unknown partition, HFile block, bad schema") {
    val s = spark
    val t = tmpTable("mor_bad")
    Hudi.createMor(s, baseDf(30), t, "k", "p")
    // log append into a partition with no file group
    assertThrows[RuntimeException](Hudi.upsertMorLog(s,
      baseDf(30).withColumn("p",
        org.apache.spark.sql.functions.lit("9")), t, "k", "p"))
    // an HFILE data block in the chain fails the read loudly
    val slice = Hudi.slices(t).head
    val logFile = new java.io.File(
      new java.io.File(t, slice.partition),
      s".${slice.fileId}_${slice.baseInstant}.log.1_0-0-0")
    HudiLog.append(logFile, Seq(HudiLog.Block(HudiLog.HFileData,
      Map(HudiLog.InstantTime -> "00000000000001"), Map.empty,
      Array[Byte](1))))
    assertThrows[org.apache.spark.SparkException](
      Hudi.read(s, t).count())
  }
}
