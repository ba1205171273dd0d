package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structural invariants of the station-graph analytics: the oracle gate
  * proves value parity with DuckDB; these pin the graph-theoretic
  * identities and the exact-arithmetic determinism claims that the SQL
  * comparison alone would not distinguish from coincidence. */
class GraphSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("cell-pruned edge list equals the all-pairs distance filter") {
    val nodes = Tables.events(spark, dir)
      .select(col("user_id").as("station")).distinct()
      .withColumn("lat", Geodesic.stationLat(col("station")))
      .withColumn("lon", Geodesic.stationLon(col("station")))
      .withColumn("h", Geodesic.stationH(col("station")))
    val e = Geodesic.withEcef(nodes)
    val a = e.select(col("station").as("st_a"), col("x").as("xa"),
      col("y").as("ya"), col("z").as("za"))
    val b = e.select(col("station").as("st_b"), col("x").as("xb"),
      col("y").as("yb"), col("z").as("zb"))
    val allPairs = a.join(b, col("st_a") < col("st_b"))
      .filter(Geodesic.pairDist() <= Graph.NeighborRadiusMeters)
      .select("st_a", "st_b")
    val pruned = Graph.stationEdges(spark, dir).select("st_a", "st_b")
    assert(pruned.exceptAll(allPairs).isEmpty &&
      allPairs.exceptAll(pruned).isEmpty)
    assert(pruned.count() > 0)
  }

  test("triangle and degree identities hold") {
    val tc = SparkEntry.queries("triangle_count")(spark, dir)
      .select("station", "degree", "n_tri").collect()
    val nEdges = Graph.stationEdges(spark, dir).count()
    // handshake: Σ degree = 2|E|
    assert(tc.map(_.getLong(1)).sum == 2 * nEdges)
    // each triangle credits exactly its three corners
    assert(tc.map(_.getLong(2)).sum % 3 == 0)
    assert(tc.map(_.getLong(2)).sum > 0, "triangle count must be non-vacuous")
    // a station's triangles are at most C(deg, 2) wedges closed
    tc.foreach { r =>
      val d = r.getLong(1)
      assert(r.getLong(2) <= d * (d - 1) / 2,
        s"station ${r.getLong(0)}: n_tri ${r.getLong(2)} > C($d,2)")
    }
  }

  test("pagerank conserves mass up to integer truncation and is deterministic") {
    val pr1 = SparkEntry.queries("pagerank")(spark, dir).collect()
    val n = pr1.length
    val total = pr1.map(_.getLong(1)).sum
    // truncating integer division only ever DROPS mass: per round each
    // station loses < deg remainders plus < 1 from the damping division,
    // so the stationary total stays within iters · (2|E| + n) of scale
    val nEdges = Graph.stationEdges(spark, dir).count()
    val slack = Graph.PrIters * (2 * nEdges + n + 1)
    assert(total <= Graph.PrScale && total >= Graph.PrScale - slack,
      s"mass $total outside [${Graph.PrScale - slack}, ${Graph.PrScale}]")
    // every station keeps at least the teleport base
    val base = Graph.PrScale / Graph.PrDampDen *
      (Graph.PrDampDen - Graph.PrDampNum) / n
    assert(pr1.forall(_.getLong(1) >= base))
    // exact integer arithmetic → bit-identical on re-run
    val pr2 = SparkEntry.queries("pagerank")(spark, dir).collect()
    assert(pr1.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      pr2.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("clustering coefficients are consistent with triangle_count") {
    val tc = SparkEntry.queries("triangle_count")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val cc = SparkEntry.queries("clustering_coeff")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(cc.map(r => (r._1, r._2, r._3)) == tc)
    cc.foreach { case (st, deg, tri, ppm) =>
      val expect = if (deg < 2) 0L else 2L * tri * 1000000L / (deg * (deg - 1))
      assert(ppm == expect, s"station $st")
      assert(ppm >= 0L && ppm <= 1000000L,
        s"station $st cc $ppm outside [0, 1e6]")
    }
    // the 8-neighborhood grid is locally dense: interior stations must
    // show strong clustering, so the readout is non-vacuous
    assert(cc.exists(_._4 > 300000L))
  }

  test("bfs_hops equals a plain-Scala BFS and reached fixpoint in budget") {
    val edges = Graph.stationEdges(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = Tables.events(spark, dir).select("user_id").distinct()
      .collect().map(_.getLong(0)).sorted
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2) }
    // reference BFS to TRUE fixpoint (queue-based, no round budget)
    val dist = collection.mutable.Map(nodes.head -> 0L)
    val queue = collection.mutable.Queue(nodes.head)
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj.getOrElse(u, Array.empty[Long]).foreach { v =>
        if (!dist.contains(v)) { dist(v) = dist(u) + 1; queue += v }
      }
    }
    val expected = nodes.map(v => (v, dist.getOrElse(v, -1L))).toSeq
    val got = SparkEntry.queries("bfs_hops")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // equality vs the UNBOUNDED reference proves the 12-round ladder
    // reached fixpoint — a budget short of the true eccentricity would
    // leave some station's hop count above its true distance
    assert(got == expected)
    // the proximity graph is connected: everything is reached, inside
    // the documented position-grid diameter bound
    assert(got.forall(_._2 >= 0))
    assert(got.map(_._2).max <= 10)
    assert(got.count(_._2 == 0L) == 1)
  }

  test("lpa_communities equals a plain-Scala synchronous LPA") {
    val edges = Graph.stationEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val nbr = nodes.map(v => v -> edges.collect {
      case (a, b) if a == v => b
      case (a, b) if b == v => a
    }.toSeq).toMap
    var lbl = nodes.map(v => v -> v).toMap
    for (_ <- 1 to Graph.LpaRounds) {
      lbl = nodes.map { v =>
        val votes = nbr(v).map(lbl).groupBy(identity)
          .map { case (l, vs) => (l, vs.size) }
        v -> (if (votes.isEmpty) v
              else votes.minBy { case (l, c) => (-c, l) }._1)
      }.toMap
    }
    val got = SparkEntry.queries("lpa_communities")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // isolated stations (if any) self-label on both sides
    val sizes = lbl.values.groupBy(identity).map { case (l, vs) =>
      (l, vs.size.toLong) }
    got.foreach { case (v, (c, sz)) =>
      val exp = lbl.getOrElse(v, v)
      assert(c == exp, s"station $v: community $c vs reference $exp")
      assert(sz == sizes.getOrElse(exp,
        got.count { case (u, (cu, _)) => cu == exp }.toLong))
    }
    // non-vacuous: propagation actually merged labels
    assert(got.values.map(_._1).toSet.size < got.size)
  }

  test("lpa_modularity equals the plain-Scala recompute and finds structure") {
    val edges = Graph.stationEdges(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lbl = SparkEntry.queries("lpa_communities")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = edges.length.toLong
    val intra = edges.count { case (a, b) => lbl(a) == lbl(b) }.toLong
    val dsum = edges.flatMap(e => Seq(e._1, e._2))
      .groupBy(lbl).view.mapValues(_.size.toLong).toMap
    // stations with no edges form degree-0 communities contributing 0
    val sumD2 = lbl.values.toSeq.distinct
      .map { c => val d = dsum.getOrElse(c, 0L); d * d }.sum
    val nComms = lbl.values.toSet.size.toLong
    val qNum = 4 * m * intra - sumD2
    val qPpm = if (qNum >= 0) qNum * 1000000L / (4 * m * m)
               else -((-qNum) * 1000000L / (4 * m * m))
    val row = SparkEntry.queries("lpa_modularity")(spark, dir)
      .collect()(0)
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((nComms, m, intra, qPpm)))
    // Q is bounded in [-1, 1); on this tiny sf0.001 graph (27 edges,
    // 6 communities) LPA over-merges and Q is honestly negative — the
    // sf0.01 gate measures +0.30, where the readout proves structure
    assert(row.getLong(3) > -1000000L && row.getLong(3) < 1000000L)
  }
}
