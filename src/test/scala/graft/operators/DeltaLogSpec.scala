package graft.operators

import graft.LocalSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Delta transaction log pins: create → multi-version replay
  * (add/remove upsert semantics), time travel to every version,
  * checkpoint equivalence (snapshot from checkpoint+tail == pure
  * JSON replay, and a checkpoint-only log with the early commits
  * deleted still reads), partitioned tables with typed partition
  * values injected from the log, torn-log and unsupported-protocol
  * rejections, and pushdown surviving the per-partition union. */
class DeltaLogSpec extends AnyFunSuite with LocalSpark {

  private def tmpTable(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$tag")
      .toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def seed(n: Int) = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"row$i", i % 3)).toDF(
      "id", "txt", "bucket")
  }

  test("create + read round-trips; versions replay add/remove") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_basic")
    DeltaLog.create(spark, seed(20), t)
    assert(DeltaLog.read(spark, t).count() == 20)

    // v1: rewrite — remove every file, add a filtered rewrite
    val snap0 = DeltaLog.snapshot(spark, t)
    val rewriteDir = s"$t/rw"
    seed(20).filter($"id" >= 5).write.parquet(rewriteDir)
    val newAdds = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("rw/"))
    DeltaLog.commit(spark, t, 1L,
      snap0.files.map(f => DeltaLog.removeJson(f.path, 1L)) ++
        newAdds.map(DeltaLog.addJson))
    assert(DeltaLog.read(spark, t).count() == 15)
    assert(DeltaLog.read(spark, t)
      .agg(min($"id")).head.getLong(0) == 5L)

    // v2: append 5 more rows in a new file
    val appDir = s"$t/app"
    seed(25).filter($"id" >= 20).write.parquet(appDir)
    val appAdds = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("app/"))
    DeltaLog.commit(spark, t, 2L, appAdds.map(DeltaLog.addJson))
    assert(DeltaLog.read(spark, t).count() == 20)

    // time travel: every version is reconstructible
    assert(DeltaLog.read(spark, t, Some(0L)).count() == 20)
    assert(DeltaLog.read(spark, t, Some(1L)).count() == 15)
    assert(DeltaLog.read(spark, t, Some(2L)).count() == 20)
    assert(DeltaLog.read(spark, t, Some(0L))
      .agg(min($"id")).head.getLong(0) == 0L)
  }

  test("checkpoint: equivalent snapshot, and survives pruned commits") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_cp")
    DeltaLog.create(spark, seed(12), t)
    val snap0 = DeltaLog.snapshot(spark, t)
    val rwDir = s"$t/rw"
    seed(12).filter($"id" % 2 === 0).write.parquet(rwDir)
    val adds = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("rw/"))
    DeltaLog.commit(spark, t, 1L,
      snap0.files.map(f => DeltaLog.removeJson(f.path, 1L)) ++
        adds.map(DeltaLog.addJson))

    val before = DeltaLog.snapshot(spark, t)
    DeltaLog.writeCheckpoint(spark, t, 1L)
    val after = DeltaLog.snapshot(spark, t)
    assert(after.version == before.version &&
      after.files.map(_.path).sorted ==
        before.files.map(_.path).sorted &&
      after.meta.schemaString == before.meta.schemaString)

    // v2 appends on top of the checkpoint
    val appDir = s"$t/app"
    seed(14).filter($"id" >= 12).write.parquet(appDir)
    val appAdds = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("app/"))
    DeltaLog.commit(spark, t, 2L, appAdds.map(DeltaLog.addJson))
    assert(DeltaLog.read(spark, t).count() == 6 + 2)

    // delete the pre-checkpoint commits: the table must still read
    // (checkpoint + tail), and time travel BEFORE it must now fail
    Seq(0L, 1L).foreach { v =>
      new java.io.File(f"$t/_delta_log/$v%020d.json").delete(): Unit
    }
    assert(DeltaLog.read(spark, t).count() == 8)
    assertThrows[IllegalArgumentException](
      DeltaLog.snapshot(spark, t, Some(0L)))
  }

  test("partitioned table: typed partition columns injected from the log") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_part")
    DeltaLog.create(spark, seed(30), t, partitionBy = Seq("bucket"))
    val got = DeltaLog.read(spark, t)
    assert(got.count() == 30)
    // bucket comes back as its declared INT type with right values
    assert(got.schema("bucket").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(got.filter($"bucket" === 1).count() == 10)
    assert(got.groupBy($"bucket").count().count() == 3)
    // the snapshot's partitionValues drove it, not the file paths
    val snap = DeltaLog.snapshot(spark, t)
    assert(snap.files.forall(_.partitionValues.keySet == Set("bucket")))
    // filter pushdown reaches the parquet scan in each branch
    val plan = got.filter($"id" > 10).queryExecution
      .executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(id,10)"))
  }

  test("deletion vectors: inline + file DVs mask rows, survive " +
      "checkpoints, never resurrect") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_dv")
    DeltaLog.create(spark, seed(100).repartition(4), t)
    val snap0 = DeltaLog.snapshot(spark, t)
    // which row indices hold id % 7 == 0, per file
    val byFile = spark.read.parquet(s"$t")
      .select(col("id"), col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("ri"))
      .filter($"id" % 7 === 0)
      .as[(Long, String, Long)].collect()
      .groupBy(_._2).map { case (fp, rows) =>
        val rel = fp.substring(fp.indexOf(t) + t.length + 1)
        rel -> rows.map(_._3).sorted
      }
    // v1: the DV delete commit — protocol upgrade + descriptors:
    // half the files through the inline-Z85 form, half through
    // UUID-named .bin files (forced by the inline threshold)
    val ordered = byFile.toSeq.sortBy(_._1)
    val (fileSide, inlineSide) =
      (ordered.take(ordered.length / 2).toMap,
        ordered.drop(ordered.length / 2).toMap)
    assert(fileSide.nonEmpty && inlineSide.nonEmpty)
    val actions =
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(3, 7,
        Seq("deletionVectors")))) ++
      DeltaLog.dvDeleteActions(spark, t, snap0.files,
        fileSide, inlineMax = 0) ++
      DeltaLog.dvDeleteActions(spark, t, snap0.files,
        inlineSide, inlineMax = 1 << 20)
    DeltaLog.commit(spark, t, 1L, actions)
    val got = DeltaLog.read(spark, t).select($"id")
      .as[Long].collect().sorted
    val want = (0L until 100L).filter(_ % 7 != 0).toArray
    assert(got.sameElements(want))
    // descriptors chose both storage types
    val snap1 = DeltaLog.snapshot(spark, t)
    val types = snap1.files.flatMap(_.deletionVector)
      .map(_.storageType).toSet
    assert(types == Set("i", "u"))
    // time travel to v0 still sees everything
    assert(DeltaLog.read(spark, t, Some(0L)).count() == 100)
    // the DV state survives a checkpoint round trip (commits
    // pruned away so the checkpoint alone must carry it)
    DeltaLog.writeCheckpoint(spark, t, 1L)
    (0L to 1L).foreach(v => new java.io.File(
      s"$t/_delta_log", f"$v%020d.json").delete())
    val got2 = DeltaLog.read(spark, t).select($"id")
      .as[Long].collect().sorted
    assert(got2.sameElements(want))
  }

  test("column mapping 'name': physical parquet names resolve " +
      "back to logical") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_cm")
    // data files under PHYSICAL names
    seed(30).toDF("col-aaa", "col-bbb", "col-ccc")
      .write.parquet(t)
    val adds = DeltaLog.listDataFiles(spark, t, Seq.empty)
    def field(log: String, ph: String, tpe: String) =
      s"""{"name":"$log","type":"$tpe","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.id":1,""" +
        s""""delta.columnMapping.physicalName":"$ph"}}"""
    val schemaJson =
      s"""{"type":"struct","fields":[${field("id", "col-aaa",
        "long")},${field("txt", "col-bbb", "string")},${
        field("bucket", "col-ccc", "integer")}]}"""
    val meta = DeltaLog.Meta("cm-test", schemaJson, Seq.empty,
      Map("delta.columnMapping.mode" -> "name"))
    DeltaLog.commit(spark, t, 0L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(3, 7,
        Seq("columnMapping"))), DeltaLog.metaJson(meta)) ++
        adds.map(DeltaLog.addJson))
    val df = DeltaLog.read(spark, t)
    assert(df.schema.fieldNames.toSeq == Seq("id", "txt", "bucket"))
    assert(df.filter($"id" === 7L).select($"txt")
      .head.getString(0) == "row7")
    assert(df.count() == 30)
  }

  test("column mapping 'id': field-ID matching survives renamed " +
      "physical columns") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.types._
    val t = tmpTable("delta_cm_id")
    // files under THROWAWAY physical names, with parquet field ids
    // — in id mode the names must not matter at all
    val physSchema = StructType(Seq(
      ("junkA", LongType, 11L), ("junkB", StringType, 22L),
      ("junkC", IntegerType, 33L)).map { case (nm, tp, id) =>
      StructField(nm, tp, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", id)
          .build())
    })
    withConf("spark.sql.parquet.fieldId.write.enabled" -> "true") {
      spark.createDataFrame(
        seed(25).toDF("junkA", "junkB", "junkC").rdd, physSchema)
        .write.parquet(t)
    }
    val adds = DeltaLog.listDataFiles(spark, t, Seq.empty)
    def field(log: String, id: Long, tpe: String) =
      s"""{"name":"$log","type":"$tpe","nullable":true,""" +
        s""""metadata":{"delta.columnMapping.id":$id,""" +
        s""""delta.columnMapping.physicalName":"col-$id"}}"""
    val schemaJson =
      s"""{"type":"struct","fields":[${field("id", 11, "long")},${
        field("txt", 22, "string")},${field("bucket", 33,
        "integer")}]}"""
    DeltaLog.commit(spark, t, 0L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(3, 7,
        Seq("columnMapping"))),
        DeltaLog.metaJson(DeltaLog.Meta("cmid", schemaJson,
          Seq.empty, Map("delta.columnMapping.mode" -> "id")))) ++
        adds.map(DeltaLog.addJson))
    val df = DeltaLog.read(spark, t)
    assert(df.schema.fieldNames.toSeq == Seq("id", "txt", "bucket"))
    assert(df.filter($"id" === 9L).select($"txt")
      .head.getString(0) == "row9")
    assert(df.count() == 25)
    // a schema field without columnMapping.id rejects
    val noId =
      s"""{"type":"struct","fields":[{"name":"id","type":"long",""" +
        s""""nullable":true,"metadata":{}}]}"""
    DeltaLog.commit(spark, t, 1L,
      Seq(DeltaLog.metaJson(DeltaLog.Meta("cmid", noId,
        Seq.empty, Map("delta.columnMapping.mode" -> "id")))))
    assertThrows[IllegalArgumentException](
      DeltaLog.read(spark, t).count())
  }

  test("reader features: unknown v3 features reject, known pass") {
    val t = tmpTable("delta_feat")
    DeltaLog.create(spark, seed(5), t)
    val adds = DeltaLog.snapshot(spark, t).files
    DeltaLog.commit(spark, t, 1L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(3, 7,
        Seq("deletionVectors", "typeWidening")))))
    assertThrows[IllegalArgumentException](
      DeltaLog.snapshot(spark, t))
    DeltaLog.commit(spark, t, 2L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(3, 7,
        Seq("deletionVectors", "timestampNtz")))))
    assert(DeltaLog.snapshot(spark, t).files.map(_.path).toSet ==
      adds.map(_.path).toSet)
  }

  test("multi-part checkpoint: union of parts == single; torn " +
      "part set is invisible") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_mp")
    DeltaLog.create(spark, seed(40).repartition(5), t)
    val appDir = s"$t/app"
    seed(44).filter($"id" >= 40).write.parquet(appDir)
    val appAdds = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("app/"))
    DeltaLog.commit(spark, t, 1L, appAdds.map(DeltaLog.addJson))

    val single = DeltaLog.snapshot(spark, t)
    DeltaLog.writeCheckpointMultipart(spark, t, 1L, parts = 3)
    // commits pruned: only the 3-part checkpoint can supply state
    (0L to 1L).foreach(v => new java.io.File(
      s"$t/_delta_log", f"$v%020d.json").delete())
    val viaMp = DeltaLog.snapshot(spark, t)
    assert(viaMp.version == 1L)
    assert(viaMp.files.map(_.path).sorted ==
      single.files.map(_.path).sorted)
    assert(viaMp.meta.schemaString == single.meta.schemaString)
    assert(DeltaLog.read(spark, t).count() == 44)

    // tear the set: with part 2 of 3 gone the checkpoint must stop
    // existing (NOT read as a smaller table) — and with no commits
    // left the log is unreadable, which is the honest outcome
    new java.io.File(s"$t/_delta_log",
      f"${1L}%020d.checkpoint.${2}%010d.${3}%010d.parquet")
      .delete()
    assertThrows[Exception](DeltaLog.snapshot(spark, t))
  }

  test("v2 checkpoint: parquet manifest + sidecars reconstructs; " +
      "inline and json forms agree; version mismatch rejects") {
    val s = spark
    import s.implicits._
    def build(tag: String): (String, Long) = {
      val t = tmpTable(tag)
      DeltaLog.create(spark, seed(36).repartition(4), t)
      // protocol upgrade: the table itself must carry the feature
      val appDir = s"$t/app"
      seed(40).filter($"id" >= 36).write.parquet(appDir)
      val appAdds = DeltaLog.listDataFiles(spark, t, Seq.empty)
        .filter(_.path.startsWith("app/"))
      DeltaLog.commit(spark, t, 1L,
        DeltaLog.protocolJson(DeltaLog.Protocol(3, 7,
          Seq("v2Checkpoint"))) +: appAdds.map(DeltaLog.addJson))
      (t, 40L)
    }

    // parquet manifest, adds through 2 sidecar files
    val (t1, n) = build("delta_v2p")
    val want = DeltaLog.snapshot(spark, t1).files.map(_.path).sorted
    DeltaLog.writeCheckpointV2(spark, t1, 1L, sidecarParts = 2)
    (0L to 1L).foreach(v => new java.io.File(
      s"$t1/_delta_log", f"$v%020d.json").delete())
    assert(new java.io.File(s"$t1/_delta_log/_sidecars")
      .listFiles().count(_.getName.endsWith(".parquet")) == 2)
    val snap1 = DeltaLog.snapshot(spark, t1)
    assert(snap1.files.map(_.path).sorted == want)
    assert(DeltaLog.read(spark, t1).count() == n)

    // json manifest with inline adds (no sidecars)
    val (t2, n2) = build("delta_v2j")
    val want2 = DeltaLog.snapshot(spark, t2).files.map(_.path).sorted
    DeltaLog.writeCheckpointV2(spark, t2, 1L, sidecarParts = 0,
      jsonManifest = true)
    (0L to 1L).foreach(v => new java.io.File(
      s"$t2/_delta_log", f"$v%020d.json").delete())
    assert(DeltaLog.snapshot(spark, t2).files.map(_.path).sorted
      == want2)
    assert(DeltaLog.read(spark, t2).count() == n2)

    // a manifest whose checkpointMetadata names the WRONG version
    // must reject (mis-named manifests must not read as state)
    val (t3, _) = build("delta_v2bad")
    DeltaLog.writeCheckpointV2(spark, t3, 1L, sidecarParts = 0,
      jsonManifest = true)
    val mf = new java.io.File(s"$t3/_delta_log").listFiles()
      .find(f => f.getName.contains(".checkpoint.") &&
        f.getName.endsWith(".json")).get
    val txt = new String(java.nio.file.Files.readAllBytes(
      mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath, txt.replace(
      """{"checkpointMetadata":{"version":1}}""",
      """{"checkpointMetadata":{"version":7}}""").getBytes("UTF-8"))
    (0L to 1L).foreach(v => new java.io.File(
      s"$t3/_delta_log", f"$v%020d.json").delete())
    assertThrows[Exception](DeltaLog.snapshot(spark, t3))

    // writing a v2 checkpoint for a table without the feature
    // refuses (readers trusting the feature list would be stranded)
    val t4 = tmpTable("delta_v2nofeat")
    DeltaLog.create(spark, seed(5), t4)
    assertThrows[IllegalArgumentException](
      DeltaLog.writeCheckpointV2(spark, t4, 0L))
  }

  test("change data feed: cdc actions, derived inserts/deletes, " +
    "cdc files invisible to snapshots (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_cdf")
    DeltaLog.create(spark, seed(20), t,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    // v1: update ids 0-4 (txt -> upd) with REAL cdc actions
    val snap0 = DeltaLog.snapshot(spark, t)
    seed(20).withColumn("txt",
      expr("CASE WHEN id < 5 THEN 'upd' ELSE txt END"))
      .write.parquet(s"$t/rw")
    val rw = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("rw/"))
    val touched = seed(20).filter($"id" < 5)
    touched.withColumn("_change_type", lit("update_preimage"))
      .unionByName(touched.withColumn("txt", lit("upd"))
        .withColumn("_change_type", lit("update_postimage")))
      .coalesce(1).write.parquet(s"$t/_change_data/c1")
    val cdcFile = new java.io.File(s"$t/_change_data/c1")
      .listFiles().filter(f => f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_")).head
    DeltaLog.commit(spark, t, 1L,
      snap0.files.map(f => DeltaLog.removeJson(f.path, 1L)) ++
        rw.map(DeltaLog.addJson) :+
        DeltaLog.cdcJson(s"_change_data/c1/${cdcFile.getName}",
          Map.empty, cdcFile.length()))
    // v2: delete ids >= 15 by removing + rewriting (NO cdc action:
    // the feed must derive deletes + inserts)
    val snap1 = DeltaLog.snapshot(spark, t)
    seed(20).withColumn("txt",
      expr("CASE WHEN id < 5 THEN 'upd' ELSE txt END"))
      .filter($"id" < 15).write.parquet(s"$t/rw2")
    val rw2 = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("rw2/"))
    DeltaLog.commit(spark, t, 2L,
      snap1.files.map(f => DeltaLog.removeJson(f.path, 2L)) ++
        rw2.map(DeltaLog.addJson))
    // snapshots never see cdc files (path filter + dataChange)
    assert(DeltaLog.read(spark, t).count() == 15)
    assert(DeltaLog.read(spark, t).where("txt = 'upd'").count() == 5)
    val ch = DeltaLog.tableChanges(spark, t, 0L, 2L)
    // v0: 20 inserts; v1: 5 pre + 5 post; v2 (derived): 20 deletes
    // + 15 re-inserts (the rewrite is remove-all + add-remaining)
    val byTv = ch.groupBy("_commit_version", "_change_type")
      .count().collect()
      .map(r => ((r.getLong(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(byTv == Map(
      (0L, "insert") -> 20L,
      (1L, "update_preimage") -> 5L,
      (1L, "update_postimage") -> 5L,
      (2L, "delete") -> 20L,
      (2L, "insert") -> 15L))
    // postimages carry the new values, preimages the old
    assert(ch.where("_change_type = 'update_postimage' " +
      "and txt != 'upd'").count() == 0)
    assert(ch.where("_change_type = 'update_preimage' " +
      "and txt = 'upd'").count() == 0)
    // derived deletes reflect the PRIOR version's content
    assert(ch.where("_change_type = 'delete' and id < 5 " +
      "and txt != 'upd'").count() == 0)
    // CDF gate: a table without the flag refuses
    val t2 = tmpTable("delta_nocdf")
    DeltaLog.create(spark, seed(5), t2)
    val e = intercept[IllegalArgumentException](
      DeltaLog.tableChanges(spark, t2, 0L, 0L))
    assert(e.getMessage.contains("change data feed not enabled"))
    // a deletion-vector commit WITHOUT cdc actions must refuse
    // derivation (its adds rewrite rows in place — deriving them
    // as inserts would be a silently wrong feed)
    val t3 = tmpTable("delta_cdf_dv")
    DeltaLog.create(spark, seed(12), t3,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val snapD = DeltaLog.snapshot(spark, t3)
    val victim = snapD.files.head
    val acts = DeltaLog.dvDeleteActions(spark, t3,
      Seq(victim), Map(victim.path -> Array(0L)))
    DeltaLog.commit(spark, t3, 1L, acts)
    val e2 = intercept[IllegalArgumentException](
      DeltaLog.tableChanges(spark, t3, 0L, 1L).count())
    assert(e2.getMessage.contains("deletion-vector files without"))
  }

  test("compaction: bin-packs partitions with dataChange=false, " +
    "invisible to the change feed (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_opt")
    // several files per partition: write each half separately
    seed(20).repartition(4).write.partitionBy("bucket").parquet(t)
    val adds = DeltaLog.listDataFiles(spark, t, Seq("bucket"))
    val meta = DeltaLog.Meta(
      java.util.UUID.nameUUIDFromBytes(t.getBytes).toString,
      seed(20).schema.json, Seq("bucket"),
      Map("delta.enableChangeDataFeed" -> "true"))
    DeltaLog.commit(spark, t, 0L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(1, 2)),
        DeltaLog.metaJson(meta)) ++ adds.map(DeltaLog.addJson))
    val before = DeltaLog.snapshot(spark, t)
    assert(before.files.groupBy(_.partitionValues)
      .exists(_._2.length >= 2), "fixture needs multi-file groups")
    val v = DeltaLog.compact(spark, t)
    assert(v == 1L)
    val after = DeltaLog.snapshot(spark, t)
    // one file per partition now, same rows and values
    assert(after.files.length == 3 &&
      after.files.length < before.files.length)
    assert(DeltaLog.read(spark, t).count() == 20)
    assert(DeltaLog.read(spark, t)
      .select("id").as[Long].collect().sorted.toSeq ==
      (0L until 20L))
    // the feed across the compaction version is EMPTY; v0 inserts
    // are untouched
    val ch = DeltaLog.tableChanges(spark, t, 0L, 1L)
    assert(ch.where("_commit_version = 1").count() == 0)
    assert(ch.where("_commit_version = 0 and " +
      "_change_type = 'insert'").count() == 20)
    // nothing left to compact
    assert(DeltaLog.compact(spark, t) == -1L)
  }

  test("vacuum: unreferenced files go, retained versions and DV " +
    "blobs survive, vacuumed travel fails loudly (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_vac")
    seed(20).repartition(4).write.partitionBy("bucket").parquet(t)
    val adds = DeltaLog.listDataFiles(spark, t, Seq("bucket"))
    val meta = DeltaLog.Meta(
      java.util.UUID.nameUUIDFromBytes(t.getBytes).toString,
      seed(20).schema.json, Seq("bucket"))
    DeltaLog.commit(spark, t, 0L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(1, 2)),
        DeltaLog.metaJson(meta)) ++ adds.map(DeltaLog.addJson))
    assert(DeltaLog.compact(spark, t) == 1L)
    // vacuum retaining only the latest: v0's small files must go
    val pre = DeltaLog.read(spark, t)
      .select("id").as[Long].collect().sorted.toSeq
    val deleted = DeltaLog.vacuum(spark, t, retainVersions = 1)
    assert(deleted.nonEmpty)
    assert(deleted.toSet ==
      adds.map(_.path).toSet) // exactly the pre-compaction files
    // the latest snapshot is untouched
    assert(DeltaLog.read(spark, t)
      .select("id").as[Long].collect().sorted.toSeq == pre)
    // time travel to the vacuumed version fails LOUDLY at scan
    val e = intercept[Exception](
      DeltaLog.read(spark, t, Some(0L)).count())
    assert(e != null)
    // retainVersions = 2 on a fresh twin keeps both versions alive
    val t2 = tmpTable("delta_vac2")
    seed(20).repartition(4).write.partitionBy("bucket").parquet(t2)
    val adds2 = DeltaLog.listDataFiles(spark, t2, Seq("bucket"))
    DeltaLog.commit(spark, t2, 0L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(1, 2)),
        DeltaLog.metaJson(meta.copy(
          id = java.util.UUID.nameUUIDFromBytes(t2.getBytes)
            .toString))) ++ adds2.map(DeltaLog.addJson))
    assert(DeltaLog.compact(spark, t2) == 1L)
    assert(DeltaLog.vacuum(spark, t2, retainVersions = 2).isEmpty)
    assert(DeltaLog.read(spark, t2, Some(0L)).count() == 20)
  }

  test("absent remove.dataChange defaults TRUE in the derived " +
    "change feed; vacuum protects absolute-path DVs (r14)") {
    val s = spark
    import s.implicits._
    // --- remove actions from writers that omit dataChange (the
    // protocol default is true) must still derive CDF deletes
    val t = tmpTable("delta_rm_default")
    DeltaLog.create(spark, seed(10), t,
      configuration = Map("delta.enableChangeDataFeed" -> "true"))
    val snap0 = DeltaLog.snapshot(spark, t)
    seed(10).filter($"id" < 6).write.parquet(s"$t/rw")
    val rw = DeltaLog.listDataFiles(spark, t, Seq.empty)
      .filter(_.path.startsWith("rw/"))
    val removesNoDc = snap0.files.map(f =>
      s"""{"remove":{"path":"${f.path}",""" +
        """"deletionTimestamp":123}}""")
    DeltaLog.commit(spark, t, 1L,
      removesNoDc ++ rw.map(DeltaLog.addJson))
    val byTv = DeltaLog.tableChanges(spark, t, 1L, 1L)
      .groupBy("_change_type").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byTv == Map("delete" -> 10L, "insert" -> 6L))

    // --- a "p" (absolute-path) DV blob inside the table must
    // survive vacuum exactly like its "u" twin
    val t2 = tmpTable("delta_vac_pdv")
    DeltaLog.create(spark, seed(12), t2)
    val snapD = DeltaLog.snapshot(spark, t2)
    val victim = snapD.files.head
    val acts = DeltaLog.dvDeleteActions(spark, t2,
      Seq(victim), Map(victim.path -> Array(0L, 2L)),
      inlineMax = 0) // force a .bin blob ("u")
    val binName = new java.io.File(t2).listFiles()
      .map(_.getName).filter(_.startsWith("deletion_vector_"))
      .head
    // rewrite the descriptor to storageType "p" + absolute path
    val acts2 = acts.map(_.replaceAll(
      """"storageType":"u","pathOrInlineDv":"[^"]*"""",
      s""""storageType":"p","pathOrInlineDv":"$t2/$binName""""))
    assert(acts2 != acts, "descriptor rewrite must hit")
    DeltaLog.commit(spark, t2, 1L, acts2)
    val preRows = DeltaLog.read(spark, t2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(preRows.length == 10) // 2 rows masked by the DV
    DeltaLog.vacuum(spark, t2, retainVersions = 1): Unit
    assert(new java.io.File(s"$t2/$binName").exists(),
      "vacuum deleted a retained snapshot's absolute-path DV blob")
    assert(DeltaLog.read(spark, t2)
      .select("id").as[Long].collect().sorted.toSeq == preRows)
  }

  test("torn log and unsupported protocol reject") {
    val s = spark
    import s.implicits._
    val t = tmpTable("delta_torn")
    DeltaLog.create(spark, seed(6), t)
    DeltaLog.commit(spark, t, 2L, Seq.empty) // gap: no v1
    assertThrows[IllegalArgumentException](
      DeltaLog.snapshot(spark, t))
    // still fine at v0
    assert(DeltaLog.read(spark, t, Some(0L)).count() == 6)

    val t2 = tmpTable("delta_proto")
    DeltaLog.create(spark, seed(4), t2)
    DeltaLog.commit(spark, t2, 1L,
      Seq(DeltaLog.protocolJson(DeltaLog.Protocol(3, 7))))
    assertThrows[IllegalArgumentException](
      DeltaLog.snapshot(spark, t2))
    assert(DeltaLog.read(spark, t2, Some(0L)).count() == 4)

    assertThrows[RuntimeException](
      DeltaLog.snapshot(spark, tmpTable("delta_missing")))
  }
}
