package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** Hudi COW pins: create→read round trip with spec meta columns,
  * upsert replaces whole file groups (key-level merge, untouched
  * partitions keep their instant), replacecommit kills replaced
  * groups even though their files remain on disk, pending instants
  * stay invisible, and the rejection surface (unknown table types,
  * torn commit JSON, fileId/instant disagreements, missing base
  * files) errors instead of shrinking the table. MERGE_ON_READ
  * semantics are pinned in HudiLogSpec. */
class HudiSpec extends AnyFunSuite with LocalSpark {

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

  test("create -> read round trip with meta columns") {
    val s = spark
    import s.implicits._
    val t = tmpTable("hudi_rt")
    Hudi.create(s, baseDf(90), t, "k", "p")
    val got = Hudi.read(s, t)
    assert(got.columns.take(5).toSeq == Hudi.MetaCols)
    assert(got.count() == 90)
    assert(got.select("k", "p", "v").as[(Long, String, Double)]
      .collect().sortBy(_._1).toSeq ==
      (0 until 90).map(i => (i.toLong, (i % 3).toString, i * 1.5)))
    // meta columns carry the spec values
    assert(got.select("_hoodie_commit_time").distinct()
      .as[String].collect().toSeq == Seq("00000000000001"))
    assert(got.where("_hoodie_record_key != cast(k as string)")
      .count() == 0)
    assert(got.where("_hoodie_partition_path != p").count() == 0)
    // one file group per partition value
    assert(Hudi.snapshotFiles(t).length == 3)
  }

  test("upsert merges by key and only rewrites touched groups") {
    val s = spark
    import s.implicits._
    val t = tmpTable("hudi_up")
    Hudi.create(s, baseDf(90), t, "k", "p")
    // update keys divisible by 6 (all in partition "0")
    val upd = baseDf(90).where("k % 6 = 0")
      .withColumn("v", org.apache.spark.sql.functions.expr("v + 100"))
    Hudi.upsert(s, upd, t, "k", "p")
    val got = Hudi.read(s, t)
    assert(got.count() == 90)
    assert(got.where("k % 6 = 0 and v != k * 1.5 + 100").count() == 0)
    assert(got.where("k % 6 != 0 and v != k * 1.5").count() == 0)
    // groups: partition 0 rewritten at instant 2, others untouched
    val times = got.groupBy("p")
      .agg(org.apache.spark.sql.functions
        .max("_hoodie_commit_time").as("t"))
      .as[(String, String)].collect().toMap
    assert(times("0") == "00000000000002")
    assert(times("1") == "00000000000001")
    assert(times("2") == "00000000000001")
    // the superseded base file still exists on disk but is not read
    val p0 = new java.io.File(t, "0").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(p0 == 2)
    assert(Hudi.snapshotFiles(t).length == 3)
  }

  test("replacecommit hides replaced groups; pending stays invisible") {
    val s = spark
    import s.implicits._
    val t = tmpTable("hudi_rc")
    Hudi.create(s, baseDf(90), t, "k", "p")
    // overwrite partition "1" with a 5-row subset
    val ov = baseDf(90).where("k % 3 = 1 and k < 15")
    Hudi.insertOverwrite(s, ov, t, "k", "1")
    val afterReplace = Hudi.read(s, t)
    assert(afterReplace.where("p = '1'").count() == 5)
    assert(afterReplace.count() == 60 + 5)
    // a pending commit's file exists but must not be visible
    Hudi.pendingCommit(s, baseDf(90).where("k % 3 = 2"), t, "k", "2")
    assert(Hudi.read(s, t).count() == 65)
    val p2 = new java.io.File(t, "2").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(p2 == 2, "pending base file should exist on disk")
  }

  test("rejections: MOR, torn JSON, name disagreements, missing file") {
    val s = spark
    val t = tmpTable("hudi_bad")
    Hudi.create(s, baseDf(30), t, "k", "p")
    assert(Hudi.read(s, t).count() == 30)

    // an unknown table type rejects (MERGE_ON_READ reads for real
    // as of round 12 — see HudiLogSpec)
    val props = new java.io.File(t, ".hoodie/hoodie.properties")
    val orig = new String(
      java.nio.file.Files.readAllBytes(props.toPath), "UTF-8")
    java.nio.file.Files.write(props.toPath, orig.replace(
      "COPY_ON_WRITE", "SOME_FUTURE_TYPE").getBytes("UTF-8"))
    assertThrows[IllegalArgumentException](Hudi.read(s, t))
    java.nio.file.Files.write(props.toPath, orig.getBytes("UTF-8"))

    // torn commit JSON fails the read
    val c1 = new java.io.File(t, ".hoodie/00000000000001.commit")
    val goodJson = new String(
      java.nio.file.Files.readAllBytes(c1.toPath), "UTF-8")
    java.nio.file.Files.write(c1.toPath,
      goodJson.dropRight(5).getBytes("UTF-8"))
    assertThrows[RuntimeException](Hudi.read(s, t))
    java.nio.file.Files.write(c1.toPath, goodJson.getBytes("UTF-8"))
    assert(Hudi.read(s, t).count() == 30)

    // a commit naming a missing base file errors
    val rogue = goodJson.replaceAll(
      """_0-0-0_00000000000001\.parquet""",
      "_0-0-0_00000000000001.parquet")
    assert(rogue == goodJson) // sanity: regex didn't corrupt
    val f = Hudi.snapshotFiles(t).head
    val moved = new java.io.File(f + ".bak")
    new java.io.File(f).renameTo(moved)
    assertThrows[IllegalArgumentException](Hudi.read(s, t))
    moved.renameTo(new java.io.File(f))
    assert(Hudi.read(s, t).count() == 30)
  }

  test("base file name parsing") {
    assert(Hudi.parseBaseFileName(
      "fg-a1b2c3-0_0-0-0_00000000000007.parquet") ==
      Some(("fg-a1b2c3-0", "00000000000007")))
    assert(Hudi.parseBaseFileName(
      "8a9f3c2e-1111-2222-3333-444455556666-0_17-24-38_20260101010101000.parquet") ==
      Some(("8a9f3c2e-1111-2222-3333-444455556666-0",
        "20260101010101000")))
    assert(Hudi.parseBaseFileName("x_y.parquet").isEmpty)
    assert(Hudi.parseBaseFileName("a_b_c_d.parquet").isEmpty)
    assert(Hudi.parseBaseFileName("a_b_notdigits.parquet").isEmpty)
    assert(Hudi.parseBaseFileName("a_b_123.orc").isEmpty)
    assert(Hudi.parseBaseFileName("__123.parquet").isEmpty)
  }
}
