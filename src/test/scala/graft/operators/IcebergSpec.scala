package graft.operators

import graft.LocalSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Iceberg table-format pins: create → read round trip through the
  * real metadata-json → manifest-list-avro → manifest-avro chain
  * (decoded by OUR Avro codec), multi-snapshot commits with time
  * travel by snapshot id, version-hint vs highest-version
  * resolution, schema JSON type mapping both ways, delete-manifest
  * and unsupported-type rejections, and pushdown on the final
  * scan. */
class IcebergSpec extends AnyFunSuite with LocalSpark {

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

  test("create + read round-trips through the avro manifest chain") {
    val t = tmpTable("ice_basic")
    Iceberg.create(spark, seed(20), t)
    val got = Iceberg.read(spark, t)
    assert(got.count() == 20)
    assert(got.schema.fieldNames.toSeq == Seq("id", "txt", "bucket"))
    assert(got.schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    // the snapshot walked a real manifest list + manifest
    val snap = Iceberg.snapshot(spark, t)
    assert(snap.files.nonEmpty &&
      snap.files.forall(_.format == "PARQUET"))
    assert(snap.files.map(_.recordCount).sum == 20)
  }

  test("AVRO data files scan through our OCF codec; deletes over " +
    "them reject (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_avro")
    val base = seed(20)
    val files1 = Iceberg.create(spark, base, t)
    // snapshot 2: append 10 more rows as ONE avro data file
    val app = (20 until 30).map(i => (i.toLong, s"row$i", i % 3))
      .toDF("id", "txt", "bucket")
    graft.sources.AvroSink.write(app.coalesce(1), s"$t/data/s2",
      codec = "null")
    val af = new java.io.File(s"$t/data/s2").listFiles()
      .filter(_.getName.endsWith(".avro")).head
    Iceberg.commit(spark, t, 2L, 2L, base.schema,
      files1 ++ Seq((af.getAbsolutePath, 10L, af.length())),
      prior = Seq((1L, s"$t/metadata/snap-1.avro")),
      fileSeqs = files1.map(f => f._1 -> 1L).toMap,
      fileFormats = Map(af.getAbsolutePath -> "AVRO"))
    val snap = Iceberg.snapshot(spark, t)
    assert(snap.files.map(_.format).toSet == Set("PARQUET", "AVRO"))
    val got = Iceberg.read(spark, t)
    assert(got.count() == 30)
    assert(got.where("id >= 20").count() == 10)
    assert(got.schema == base.schema ||
      got.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        base.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    // typed values survive the avro path
    assert(got.where("id = 25 and txt = 'row25' and bucket = 1")
      .count() == 1)
    // a position delete whose seq admits the avro file must reject
    // (delete files address parquet row indexes)
    Seq(("x", 0L)).toDF("file_path", "pos")
      .coalesce(1).write.parquet(s"$t/data/del3")
    val delF = graft.operators.Iceberg
      .countsByFile(spark,
        Seq(("x", 0L)).toDF("file_path", "pos").schema,
        s"$t/data/del3")
    Iceberg.commit(spark, t, 3L, 3L, base.schema,
      files1 ++ Seq((af.getAbsolutePath, 10L, af.length())),
      prior = Seq((1L, s"$t/metadata/snap-1.avro"),
        (2L, s"$t/metadata/snap-2.avro")),
      fileSeqs = files1.map(f => f._1 -> 1L).toMap ++
        Map(af.getAbsolutePath -> 2L),
      fileFormats = Map(af.getAbsolutePath -> "AVRO"),
      deleteFiles = delF)
    val e = intercept[Exception](Iceberg.read(spark, t).count())
    assert(e.getMessage.contains("row-level deletes over avro"))
  }

  test("manifest-list field summaries: per-partition manifests " +
    "prune without being opened (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_mprune")
    Iceberg.create(spark, seed(60), t,
      partitionBy = Seq(("b", "identity", "bucket")),
      splitManifests = true)
    // one data manifest per bucket value (0, 1, 2)
    val (snapAll, prAll) = Iceberg.snapshotWhere(spark, t,
      "bucket", 1)
    assert(prAll.total == 3 && prAll.kept == 1)
    assert(snapAll.files.forall(
      _.partition.get("b").contains(1)))
    // the restricted snapshot + residual filter equals the full
    // filtered read
    val got = Iceberg.readWhere(spark, t, "bucket", 1)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (0 until 60).filter(_ % 3 == 1).map(_.toLong))
    // full read unaffected (no predicate = all manifests)
    assert(Iceberg.read(spark, t).count() == 60)
    val (_, prNone) = Iceberg.snapshotWhere(spark, t,
      "id", 999L) // not a partition source: nothing prunable
    assert(prNone.kept == prNone.total)
    // a value outside every bound keeps zero manifests
    val (snapNo, prNo) = Iceberg.snapshotWhere(spark, t,
      "bucket", 7)
    assert(prNo.kept == 0 && snapNo.files.isEmpty)
    // single-manifest tables (no split) still read and never prune
    val t2 = tmpTable("ice_mp_one")
    Iceberg.create(spark, seed(30), t2,
      partitionBy = Seq(("b", "identity", "bucket")))
    val (_, pr2) = Iceberg.snapshotWhere(spark, t2, "bucket", 1)
    assert(pr2.total == 1 && pr2.kept == 1)
    assert(Iceberg.readWhere(spark, t2, "bucket", 1).count() == 10)
  }

  test("multi-snapshot commits + time travel by snapshot id") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_tt")
    Iceberg.create(spark, seed(20), t)
    // snapshot 2: the table rewritten as a filtered subset
    val df2 = seed(20).filter($"id" >= 5)
    df2.write.parquet(s"$t/data/s2")
    val files2 = Iceberg.countsByFile(spark, df2.schema,
      s"$t/data/s2")
    Iceberg.commit(spark, t, 2L, 2L, df2.schema, files2,
      prior = Seq((1L, s"$t/metadata/snap-1.avro")))
    assert(Iceberg.read(spark, t).count() == 15)
    assert(Iceberg.read(spark, t, Some(1L)).count() == 20)
    assert(Iceberg.read(spark, t, Some(2L)).count() == 15)
    // highest-version resolution when the hint is deleted
    new java.io.File(s"$t/metadata/version-hint.text").delete()
    assert(Iceberg.read(spark, t).count() == 15)
  }

  test("schema JSON maps both ways incl. nesting") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", StringType),
      StructField("c", ArrayType(IntegerType, containsNull = true)),
      StructField("d", StructType(Seq(
        StructField("x", DoubleType),
        StructField("y", DecimalType(10, 2))))),
      StructField("e", TimestampType),
      StructField("f", DateType),
      StructField("g", MapType(StringType, LongType,
        valueContainsNull = true)),
      StructField("h", MapType(IntegerType,
        ArrayType(DoubleType), valueContainsNull = false))))
    val json = Iceberg.toIcebergSchemaJson(schema)
    assert(json.contains(""""type":"map"""") &&
      json.contains(""""value-required":true"""))
    val back = Iceberg.toSparkType(
      JsonMini.parse(json).get).get
    assert(back == schema)
    // time maps to Spark 4.1's TIME(6); fixed[L] reads as binary
    assert(Iceberg.toSparkType("time").contains(TimeType(6)))
    assert(Iceberg.toSparkType("fixed[16]").contains(BinaryType))
    assert(Iceberg.toIcebergSchemaJson(StructType(Seq(
      StructField("t", TimeType(6))))).contains("\"time\""))
    // honest rejections
    assert(Iceberg.toSparkType("uuid").isEmpty)
    assert(Iceberg.toSparkType("fixed[x]").isEmpty)
    assert(Iceberg.toSparkType(Map("type" -> "map")).isEmpty)
    assert(Iceberg.toSparkType(Map("type" -> "map",
      "key" -> "string", "value" -> "uuid")).isEmpty)
  }

  test("time columns flow through the full metadata chain") {
    val s = spark
    // runtime SQL conf: Spark 4.1's TIME type is flag-gated
    withConf("spark.sql.timeType.enabled" -> "true") {
      val df = s.sql("SELECT id, cast(concat('07:0', cast(id % 10 " +
        "as string), ':30.5') as time(6)) AS tod FROM range(12)")
      val t = tmpTable("ice_time")
      Iceberg.create(s, df, t)
      val got = Iceberg.read(s, t)
      assert(got.schema("tod").dataType ==
        org.apache.spark.sql.types.TimeType(6))
      assert(got.count() == 12)
      val back = got.selectExpr("id",
        "cast(tod as string) AS ts").orderBy("id").collect()
      assert(back(3).getString(1) == "07:03:30.5")
      assert(back.map(_.getString(1)).distinct.length == 10)
    }
  }

  test("map columns flow through the full metadata chain") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_map")
    val df = seed(18).selectExpr("id", "txt",
      "map('b', CAST(bucket AS BIGINT), 'i2', id * 2) AS attrs")
    Iceberg.create(spark, df, t)
    val got = Iceberg.read(spark, t)
    assert(got.schema("attrs").dataType ==
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType))
    assert(got.count() == 18)
    assert(got.selectExpr("sum(attrs['i2'])").head.getLong(0) ==
      (0 until 18).map(_ * 2L).sum)
    assert(got.selectExpr("sum(attrs['b'])").head.getLong(0) ==
      (0 until 18).map(_ % 3).sum)
  }

  test("malformed delete manifests and torn tables reject") {
    val t = tmpTable("ice_del")
    Iceberg.create(spark, seed(6), t)
    // flip the manifest-list content field to 1: the manifest is
    // now claimed to be a DELETE manifest, but its entries carry
    // data_file content = 0 — a malformed (or equality-delete)
    // shape that must reject, never resurrect/mis-apply
    val lst = s"$t/metadata/snap-1.avro"
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(lst))
    val parsed = Avro.parse(bytes).get
    val cIdx = parsed.nfields.indexWhere(_.name == "content")
    val rows = parsed.rows.map(r => r.updated(cIdx, Some(1)))
    java.nio.file.Files.write(java.nio.file.Paths.get(lst),
      Avro.buildNested(parsed.recordName, parsed.nfields, rows))
    // drop hadoop's local-FS checksum sidecar — the rewrite above
    // bypassed it deliberately
    new java.io.File(s"$t/metadata/.snap-1.avro.crc").delete()
    assertThrows[IllegalArgumentException](Iceberg.read(spark, t))
    // a missing table rejects loudly
    assertThrows[IllegalArgumentException](
      Iceberg.snapshot(spark, tmpTable("ice_missing")))
  }

  test("v2 position deletes: anti-join masking, seq rule, " +
      "time travel unaffected") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_posdel")
    Iceberg.create(spark, seed(60).repartition(3), t)
    val snap1 = Iceberg.snapshot(spark, t)
    // snapshot 2: position-delete every row with id % 5 == 0
    val victims = spark.read.parquet(s"$t/data/s1")
      .select(col("_metadata.file_path").as("file_path"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter($"id" % 5 === 0)
      .drop("id")
    victims.coalesce(1).write.parquet(s"$t/data/del2")
    val delFiles = Iceberg.countsByFile(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("file_path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType))), s"$t/data/del2")
    Iceberg.commit(spark, t, 2L, 2L, seed(60).schema,
      snap1.files.map(f => (f.path, f.recordCount, f.fileSize)),
      prior = Seq((1L, s"$t/metadata/snap-1.avro")),
      deleteFiles = delFiles)
    val snap2 = Iceberg.snapshot(spark, t)
    assert(snap2.deletes.nonEmpty)
    assert(snap2.deletes.head.seq == 2L)
    assert(snap2.files.forall(_.seq == 2L))
    val got = Iceberg.read(spark, t).select($"id")
      .as[Long].collect().sorted
    assert(got.sameElements((0L until 60L).filter(_ % 5 != 0)))
    // time travel to snapshot 1: nothing deleted
    assert(Iceberg.read(spark, t, Some(1L)).count() == 60)
    // the spec's sequence rules, pinned on the pure applicability
    // function: a POSITION delete at seq 2 applies to data at
    // seq ≤ 2; an EQUALITY delete applies STRICTLY to older data
    val synth = Iceberg.IceSnapshot(9L, seed(1).schema,
      files = Seq.empty,
      deletes = Seq(
        Iceberg.DeleteFileEntry("d.parquet", 5L, 2L),
        Iceberg.DeleteFileEntry("e.parquet", 5L, 2L,
          equalityCols = Seq("id"))))
    def fileAt(seq: Long) = Iceberg.DataFileEntry(
      "f.parquet", "PARQUET", 1L, 1L, Map.empty, seq)
    assert(Iceberg.deletesFor(synth, fileAt(1L)).map(_.path) ==
      Seq("d.parquet", "e.parquet"))
    assert(Iceberg.deletesFor(synth, fileAt(2L)).map(_.path) ==
      Seq("d.parquet")) // equality: strict <, excludes same-seq
    assert(Iceberg.deletesFor(synth, fileAt(3L)).isEmpty)
  }

  test("v3 deletion vectors: puffin blobs mask rows, corruption " +
    "rejects, travel unaffected (r14)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_dv")
    Iceberg.create(spark, seed(60).repartition(3), t)
    val snap1 = Iceberg.snapshot(spark, t)
    // deleted positions per physical file: rows with id % 4 == 1
    val victims = spark.read.parquet(s"$t/data/s1")
      .select(col("_metadata.file_path").as("fp"),
        col("_metadata.row_index").as("pos"), col("id"))
      .filter($"id" % 4 === 1)
      .select("fp", "pos").as[(String, Long)].collect()
      .groupBy(_._1).map { case (f, ps) =>
        f -> ps.map(_._2).sorted }
    val dvs = Iceberg.writeDvPuffin(spark, t, 2L, 2L, victims)
    assert(dvs.nonEmpty && dvs.forall(_._1.endsWith(".puffin")))
    Iceberg.commit(spark, t, 2L, 2L, seed(60).schema,
      snap1.files.map(f => (f.path, f.recordCount, f.fileSize)),
      prior = Seq((1L, s"$t/metadata/snap-1.avro")),
      dvDeletes = dvs)
    val snap2 = Iceberg.snapshot(spark, t)
    assert(snap2.deletes.nonEmpty &&
      snap2.deletes.forall(_.dvRef.isDefined))
    val got = Iceberg.read(spark, t).select($"id")
      .as[Long].collect().sorted
    assert(got.sameElements((0L until 60L).filter(_ % 4 != 1)))
    // time travel to snapshot 1: nothing deleted
    assert(Iceberg.read(spark, t, Some(1L)).count() == 60)
    // the puffin container parses standalone; blob round-trips
    val pp = dvs.head._1
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(pp))
    val blobs = Puffin.parse(bytes).getOrElse(
      fail("our puffin file does not parse"))
    assert(blobs.forall(_.tpe == Puffin.DvBlobType))
    assert(blobs.map(_.properties("cardinality").toLong).sum == 15)
    // a flipped byte inside a DV blob breaks its CRC → loud reject
    val (off, len) = (dvs.head._5, dvs.head._6)
    val bad = bytes.clone()
    bad(off.toInt + 9) = (bad(off.toInt + 9) ^ 0x04).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(pp), bad)
    new java.io.File(new java.io.File(pp).getParentFile,
      s".${new java.io.File(pp).getName}.crc").delete()
    val e = intercept[Exception](Iceberg.read(spark, t).count())
    assert(e.getMessage.contains("deletion-vector") ||
      e.getMessage.contains("puffin"))
    java.nio.file.Files.write(java.nio.file.Paths.get(pp), bytes)
    assert(len > 0)
  }

  test("v2 equality deletes: value-wide deletion, seq preserved " +
      "for carried-forward files") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_eqdel")
    // bucket repeats across ids — deleting by bucket VALUE must
    // take every row carrying it, not just one
    Iceberg.create(spark, seed(30).repartition(2), t)
    val snap1 = Iceberg.snapshot(spark, t)
    // delete buckets 0 and 2 by equality (schema ids: id=1, txt=2,
    // bucket=3 — depth-first assignment)
    Seq(0, 2).toDF("bucket").coalesce(1)
      .write.parquet(s"$t/data/eq2")
    val delFiles = Iceberg.countsByFile(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.IntegerType))),
      s"$t/data/eq2")
    // the carried-forward data files KEEP their v1 sequence number
    // (fileSeqs) so the delete at seq 2 strictly post-dates them
    Iceberg.commit(spark, t, 2L, 2L, seed(30).schema,
      snap1.files.map(f => (f.path, f.recordCount, f.fileSize)),
      prior = Seq((1L, s"$t/metadata/snap-1.avro")),
      equalityDeletes = delFiles.map(f => (f._1, f._2, f._3,
        Seq(3))),
      fileSeqs = snap1.files.map(f => f.path -> 1L).toMap)
    val snap2 = Iceberg.snapshot(spark, t)
    assert(snap2.deletes.head.equalityCols == Seq("bucket"))
    assert(snap2.files.forall(_.seq == 1L))
    assert(snap2.deletes.head.seq == 2L)
    val got = Iceberg.read(spark, t).select($"id")
      .as[Long].collect().sorted
    assert(got.sameElements((0L until 30L).filter(_ % 3 == 1)))
    // time travel to snapshot 1: nothing deleted
    assert(Iceberg.read(spark, t, Some(1L)).count() == 30)
  }

  test("foreign 3-field field_summary records (no contains_nan — " +
    "the pre-0.10 layout) read and still prune (r13)") {
    val s = spark
    import s.implicits._
    import Avro.{NField, NPrim, NRec}
    val t = tmpTable("ice_sum3")
    Iceberg.create(spark, seed(60), t,
      partitionBy = Seq(("b", "identity", "bucket")),
      splitManifests = true)
    // rewrite the manifest list with the 3-field summary layout
    val lp = s"$t/metadata/snap-1.avro"
    val lf = Avro.parse(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(lp))).get
    val fs3 = NRec("r508", Seq(
      NField("contains_null", NPrim("boolean"), nullable = false),
      NField("lower_bound", NPrim("bytes"), nullable = true),
      NField("upper_bound", NPrim("bytes"), nullable = true)))
    val pi = lf.nfields.indexWhere(_.name == "partitions")
    assert(pi >= 0)
    val newFields = lf.nfields.updated(pi,
      lf.nfields(pi).copy(tpe =
        Avro.NArr(fs3, itemsNullable = false)))
    val rows2 = lf.rows.map { r =>
      r.updated(pi, r(pi).map { xs =>
        xs.asInstanceOf[Seq[Option[Any]]].map(_.map { e =>
          val g = e.asInstanceOf[Avro.Row]
          Seq(g(0), g(2), g(3)): Avro.Row
        })
      })
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(lp),
      Avro.buildNested("manifest_file", newFields, rows2))
    // the raw rewrite bypassed hadoop's LocalFS checksum sidecar
    new java.io.File(s"$t/metadata/.snap-1.avro.crc").delete()
    // unpredicated read unaffected; pruning still works
    assert(Iceberg.read(spark, t).count() == 60)
    val (snap1, pr) = Iceberg.snapshotWhere(spark, t, "bucket", 1)
    assert(pr.total == 3 && pr.kept == 1)
    assert(snap1.files.forall(_.partition.get("b").contains(1)))
  }

  test("snapshot expiry: old snapshots + unshared manifests go, " +
    "current stays readable (r13)") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_expire")
    val files1 = Iceberg.create(spark, seed(20), t)
    (0 until 20).map(i => (100L + i, s"x$i", i % 3))
      .toDF("id", "txt", "bucket")
      .write.parquet(s"$t/data/s2")
    val files2 = files1 ++
      Iceberg.countsByFile(spark, seed(1).schema, s"$t/data/s2")
    Iceberg.commit(spark, t, 2L, 2L, seed(1).schema,
      files2, prior = Seq((1L, s"$t/metadata/snap-1.avro")))
    Iceberg.commit(spark, t, 3L, 3L, seed(1).schema,
      files2, prior = Seq((1L, s"$t/metadata/snap-1.avro"),
        (2L, s"$t/metadata/snap-2.avro")),
      fileSeqs = files2.map(f => f._1 -> 2L).toMap)
    assert(Iceberg.read(spark, t, Some(1L)).count() == 20)
    // a retained entry must survive BYTE-FOR-BYTE — plant a field
    // our writer doesn't know about and expect it preserved
    val hint = s"$t/metadata/version-hint.text"
    val ver = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hint)), "UTF-8").trim
    val mp = java.nio.file.Paths.get(
      s"$t/metadata/v$ver.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mp),
      "UTF-8")
    java.nio.file.Files.write(mp, txt.replace(
      "{\"snapshot-id\":2,",
      "{\"snapshot-id\":2,\"parent-snapshot-id\":1,")
      .getBytes("UTF-8"))
    new java.io.File(
      s"$t/metadata/.v$ver.metadata.json.crc").delete()
    val expired = Iceberg.expireSnapshots(spark, t, keep = 2)
    assert(expired == Seq(1L))
    val ver2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hint)), "UTF-8").trim
    val txt2 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$t/metadata/v$ver2.metadata.json")), "UTF-8")
    assert(txt2.contains("\"parent-snapshot-id\":1"),
      "retained snapshot entry was rewritten, not preserved")
    // the current snapshot still reads; the expired id is GONE
    assert(Iceberg.read(spark, t).count() == 40)
    assert(Iceberg.read(spark, t, Some(2L)).count() == 40)
    val e = intercept[RuntimeException](
      Iceberg.read(spark, t, Some(1L)))
    assert(e.getMessage.contains("snapshot 1 not in"))
    // snapshot 1's manifest list is deleted; its manifest too
    // (m-1.avro is referenced by no retained snapshot)
    assert(!new java.io.File(s"$t/metadata/snap-1.avro").exists())
    assert(!new java.io.File(s"$t/metadata/m-1.avro").exists())
    // retained snapshots' structures survive
    assert(new java.io.File(s"$t/metadata/snap-2.avro").exists())
    assert(new java.io.File(s"$t/metadata/m-2.avro").exists())
    // data files are never touched (snapshot 2 shares files1)
    assert(Iceberg.filesMeta(spark, t).count() == files2.length)
    // nothing to expire with keep >= count; dropping the current
    // snapshot refuses
    assert(Iceberg.expireSnapshots(spark, t, keep = 5).isEmpty)
    assert(Iceberg.snapshotsMeta(spark, t).count() == 2)
  }

  test("expiry handles random 64-bit snapshot ids exactly (r14)") {
    val s = spark
    import s.implicits._
    // real engines stamp RANDOM 64-bit ids — none of these are
    // exactly representable as a Double, so a Double-typed parse
    // would corrupt them; expiry must compare the raw tokens
    val idA = 9007199254740995L // 2^53 + 3
    val idB = Long.MaxValue - 7L
    val idC = Long.MaxValue - 3L
    val t = tmpTable("ice_expire64")
    seed(20).write.parquet(s"$t/data/s1")
    val files1 = Iceberg.countsByFile(spark, seed(1).schema,
      s"$t/data/s1")
    Iceberg.commit(spark, t, 1L, idA, seed(1).schema, files1,
      prior = Seq.empty)
    Iceberg.commit(spark, t, 2L, idB, seed(1).schema, files1,
      prior = Seq((idA, s"$t/metadata/snap-$idA.avro")),
      fileSeqs = files1.map(f => f._1 -> 1L).toMap)
    Iceberg.commit(spark, t, 3L, idC, seed(1).schema, files1,
      prior = Seq((idA, s"$t/metadata/snap-$idA.avro"),
        (idB, s"$t/metadata/snap-$idB.avro")),
      fileSeqs = files1.map(f => f._1 -> 1L).toMap)
    val expired = Iceberg.expireSnapshots(spark, t, keep = 1)
    assert(expired == Seq(idA, idB))
    // the retained entry carries the EXACT id token
    val hint = s"$t/metadata/version-hint.text"
    val ver = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(hint)), "UTF-8").trim
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(
        s"$t/metadata/v$ver.metadata.json")), "UTF-8")
    assert(txt.contains(s""""snapshot-id":$idC"""))
    assert(!txt.contains(s""""snapshot-id":$idA"""))
    assert(Iceberg.read(spark, t).count() == 20)
    assert(!new java.io.File(
      s"$t/metadata/snap-$idA.avro").exists())
    assert(new java.io.File(
      s"$t/metadata/snap-$idC.avro").exists())
  }

  test("bucket hash matches the spec's own Appendix B vectors") {
    // iceberg.apache.org/spec Appendix B publishes these — they pin
    // the murmur3_x86_32 implementation AND the hash-ints-as-longs
    // rule without any external library
    assert(Iceberg.bucketHash(34) == 2017239379)
    assert(Iceberg.bucketHash(34L) == 2017239379)
    assert(Iceberg.bucketHash("iceberg") == 1210000089)
    assert(Iceberg.bucketHash(
      Array[Byte](0, 1, 2, 3)) == -188683207)
    // int and long of the same value land in the same bucket
    (0 until 50).foreach { i =>
      assert(Iceberg.applyTransform("bucket[7]", i) ==
        Iceberg.applyTransform("bucket[7]", i.toLong))
    }
  }

  test("transform arithmetic: truncate, year/month/day/hour") {
    import Iceberg.applyTransform
    assert(applyTransform("truncate[10]", 37L) == 30L)
    assert(applyTransform("truncate[10]", -7L) == -10L) // floor
    assert(applyTransform("truncate[10]", -7) == -10)
    assert(applyTransform("truncate[3]", "iceberg") == "ice")
    assert(applyTransform("truncate[99]", "ab") == "ab")
    val d = java.sql.Date.valueOf("2017-11-16")
    assert(applyTransform("year", d) == 47)
    assert(applyTransform("month", d) == 47 * 12 + 10)
    assert(applyTransform("day", d) ==
      java.time.LocalDate.of(2017, 11, 16).toEpochDay.toInt)
    val ts = java.sql.Timestamp.from(
      java.time.Instant.parse("2017-11-16T22:31:08Z"))
    assert(applyTransform("hour", ts) ==
      java.time.Instant.parse("2017-11-16T22:00:00Z")
        .getEpochSecond / 3600)
    assert(applyTransform("identity", "x") == "x")
  }

  test("partitioned create: pruning shrinks the file list, " +
      "pruned read == filtered full read") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_part")
    val df = (0 until 400).map(i =>
      (i.toLong, s"row$i", s"cat${i % 3}")).toDF("id", "txt", "cat")
    Iceberg.create(spark, df, t, partitionBy = Seq(
      ("cat_p", "identity", "cat"),
      ("id_b", "bucket[4]", "id")))
    val snap = Iceberg.snapshot(spark, t)
    // spec + typed partition values survived the manifest chain
    assert(snap.spec.map(f => (f.name, f.transform, f.sourceName))
      == Seq(("cat_p", "identity", "cat"), ("id_b", "bucket[4]",
        "id")))
    assert(snap.files.forall(f =>
      f.partition.keySet == Set("cat_p", "id_b")))
    // stored partition values re-derive from the transforms: every
    // row in every file must agree with its file's stored values
    snap.files.foreach { f =>
      val rows = spark.read.parquet(f.path)
        .select("cat", "id").as[(String, Long)].collect()
      rows.foreach { case (cat, id) =>
        assert(f.partition("cat_p") == cat)
        assert(f.partition("id_b") ==
          Iceberg.applyTransform("bucket[4]", id))
      }
    }
    // pruning: a cat predicate keeps only its identity partition
    val kept = Iceberg.prunedFiles(snap, "cat", "cat1")
    assert(kept.nonEmpty && kept.length < snap.files.length)
    assert(kept.forall(_.partition("cat_p") == "cat1"))
    // an id predicate prunes to one bucket (≤ 1/4 of files + the
    // residual filter makes it exact)
    val keptId = Iceberg.prunedFiles(snap, "id", 123L)
    assert(keptId.length < snap.files.length)
    // end to end: pruned read == full read + filter
    val pruned = Iceberg.readWhere(spark, t, "cat", "cat2")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    val full = Iceberg.read(spark, t).filter($"cat" === "cat2")
      .as[(Long, String, String)].collect().sortBy(_._1).toSeq
    assert(pruned == full && pruned.nonEmpty)
    val prunedId = Iceberg.readWhere(spark, t, "id", 123L)
      .as[(Long, String, String)].collect().toSeq
    assert(prunedId == Seq((123L, "row123", "cat0")))
    // a predicate on a non-partition column keeps everything (safe)
    assert(Iceberg.prunedFiles(snap, "txt", "row5").length ==
      snap.files.length)
    // data files still carry EVERY source column (partition dirs
    // are derived, not dropped columns)
    assert(spark.read.parquet(snap.files.head.path)
      .schema.fieldNames.toSet == Set("id", "txt", "cat"))
  }

  test("pushdown reaches the parquet scan") {
    val s = spark
    import s.implicits._
    val t = tmpTable("ice_push")
    Iceberg.create(spark, seed(30), t)
    val plan = Iceberg.read(spark, t).filter($"id" > 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(id,10)"))
  }
}
