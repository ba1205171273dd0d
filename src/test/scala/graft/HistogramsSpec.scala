package graft

import graft.operators.Histograms
import org.scalatest.funsuite.AnyFunSuite

class HistogramsSpec extends AnyFunSuite with LocalSpark {

  test("save + save + rollup sums bins across snapshots (A8)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("hist").toString
    val h1 = Seq((1L, 2L, 0L, 5L), (1L, 2L, 1L, 3L), (2L, 3L, 0L, 1L))
      .toDF("station_lo", "station_hi", "bin", "cnt")
    val h2 = Seq((1L, 2L, 0L, 2L), (2L, 3L, 5L, 7L))
      .toDF("station_lo", "station_hi", "bin", "cnt")
    Histograms.save(h1, dir)
    Histograms.save(h2, dir)
    val rolled = Histograms.rollup(spark, dir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rolled == Set((1L, 2L, 0L, 7L), (1L, 2L, 1L, 3L),
      (2L, 3L, 0L, 1L), (2L, 3L, 5L, 7L)))
    val meta = Histograms.rollupMeta(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(meta == Set((1L, 2L, 10L, 3L, 0L, 1L), (2L, 3L, 8L, 2L, 0L, 5L)))
  }

  test("A7 adjacency matrix: symmetric pivot of pair totals + .adj lines") {
    import spark.implicits._
    val pairs = Seq((1L, 2L, 10L), (1L, 3L, 4L), (2L, 3L, 7L))
      .toDF("station_lo", "station_hi", "total")
    val adj = Histograms.adjacency(pairs)
    // symmetric with zero diagonal (self-pairs never exist)
    val m = adj.orderBy("a").collect().map(r =>
      (0 until r.length).map(i => r.getLong(i)))
    assert(adj.columns.toSeq == Seq("a", "1", "2", "3"))
    assert(m.map(_.head).toSeq == Seq(1L, 2L, 3L))
    assert(m(0).drop(1) == Seq(0L, 10L, 4L))
    assert(m(1).drop(1) == Seq(10L, 0L, 7L))
    assert(m(2).drop(1) == Seq(4L, 7L, 0L))
    val lines = Histograms.adjacencyLines(adj)
    assert(lines.head == ";1;2;3")
    assert(lines(1) == "1;0;10;4" && lines(3) == "3;4;7;0")
  }

  test("reference text .hist/.meta format scan and rollup (S6/A8)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("histtxt")
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        String.join("\n", lines: _*).getBytes)
    write("a.hist", Seq("-1.5 4", "0.5 10", "2.5 1"))
    write("b.hist", Seq("0.5 6", "2.5 2"))
    write("a.meta", Seq("bin_width 1.0 ns", "distance 1303.6 m",
      "total 15 ", "uptime 120 min", "sample_time 86400 s"))
    write("b.meta", Seq("bin_width 1.0 ns", "distance 1303.6 m",
      "total 8 ", "uptime 60 min", "sample_time 86400 s"))
    val rolled = Histograms.rollupHistFiles(spark, dir.toString)
      .as[(Double, Long)].collect().toSet
    assert(rolled == Set((-1.5, 4L), (0.5, 16L), (2.5, 3L)))
    val meta = Histograms.rollupMetaFiles(spark, dir.toString)
      .as[(String, Double)].collect().toMap
    assert(meta("total") == 23.0 && meta("uptime") == 180.0)
    assert(meta("sample_time") == 172800.0)
    assert(meta("bin_width") == 1.0 && meta("distance") == 1303.6)
  }

  test("A7 text round-trip: readHistFiles(writeHistFiles(x)) == x") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("histrt").toString
    // fractional bin centers AND integral bins; multiple pairs
    val hist = Seq(
      (1L, 2L, -1.5, 4L), (1L, 2L, 0.5, 10L), (1L, 2L, 2.5, 1L),
      (2L, 3L, -1000L.toDouble, 6L), (2L, 3L, 0.0, 2L))
      .toDF("station_lo", "station_hi", "bin", "cnt")
    Histograms.writeHistFiles(hist, dir)
    val back = Histograms.readHistFiles(spark, dir)
    // per-pair file names carry the pair; content must round-trip exactly
    val got = back.select("bin", "cnt").as[(Double, Long)].collect().toSet
    assert(got == hist.select("bin", "cnt")
      .as[(Double, Long)].collect().toSet)
    assert(back.select("file").distinct().count() == 2) // one file per pair
    // and the reference aggregator semantics compose on the written files
    val rolled = Histograms.rollupHistFiles(spark, dir)
      .as[(Double, Long)].collect().toSet
    assert(rolled.contains((0.5, 10L)) && rolled.contains((-1000.0, 6L)))
  }

  test("A7 meta round-trip + rollup over written files") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("metart").toString
    val meta = Seq(
      (1L, 2L, 1.0, 1303.6, 15L, 120L, 1440L),
      (2L, 3L, 1.0, 207.25, 8L, 60L, 1440L))
      .toDF("station_lo", "station_hi", "bin_width", "distance_m",
        "total", "uptime_min", "sample_time_min")
    Histograms.writeMetaFiles(meta, dir)
    // the written lines are the aggregator's canonical 3-token form
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "1_2.meta")), "US-ASCII")
    assert(raw == "bin_width 1 ns\ndistance 1303.6 m\ntotal 15 1\n" +
      "uptime 120 min\nsample_time 1440 min\n")
    val rolled = Histograms.rollupMetaFiles(spark, dir)
      .as[(String, Double)].collect().toMap
    assert(rolled("total") == 23.0 && rolled("uptime") == 180.0)
    assert(rolled("sample_time") == 2880.0)
    assert(rolled("distance") == 1303.6) // max-kept scalar
  }
}
