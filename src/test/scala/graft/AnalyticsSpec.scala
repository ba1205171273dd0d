package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Independent recomputes and assumption checks for the analytics
  * module: the oracle gate proves SQL parity; these prove the STATISTICS
  * are the ones claimed (plain-Scala z/MAD recompute) and that the ER
  * blocking key loses nothing on this vocabulary. */
class AnalyticsSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  test("value_outliers matches a plain-Scala z/MAD recompute") {
    val ev = Tables.events(spark, dir)
      .selectExpr("event_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS vc")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def med2(xs: Seq[Long]): Long = {
      val s = xs.sorted
      s((s.length - 1) / 2) + s(s.length / 2)  // lower + upper middle
    }
    val expected = ev.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val vs = rows.map(_._3).toSeq
      val n = vs.length.toLong
      val sv = vs.sum
      val svv = vs.map(v => v * v).sum
      val m2 = med2(vs)
      val mad4 = med2(vs.map(v => math.abs(2 * v - m2)))
      rows.flatMap { case (id, t, v) =>
        val zf = { val d = n * v - sv; d * d > 9 * (n * svv - sv * sv) }
        val mf = 2 * math.abs(2 * v - m2) > 3 * mad4
        if (zf || mf) Some((id, t, v, zf, mf)) else None
      }
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("value_outliers")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty && got.exists(_._4) && got.exists(_._5),
      "both tests must flag something — vacuous otherwise")
    // the robust test must visibly disagree with the z-test on this
    // long-tailed data (that disagreement is why both ship)
    assert(got.count(_._5) > got.count(_._4))
  }

  test("event_transitions is row-stochastic up to ppm truncation") {
    val rows = SparkEntry.queries("event_transitions")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (from, ts) =>
      val total = ts.map(_._3).sum
      // each truncating div drops < 1 ppm; k cells lose < k ppm total
      assert(total <= 1000000L && total > 1000000L - ts.length,
        s"row $from sums to $total ppm")
    }
    // transitions must cover the full type×type space on this corpus
    assert(rows.length == 25)
  }

  test("fuzzy_join blocking is lossless on this name vocabulary") {
    val names = Tables.part(spark, dir).select("p_name").distinct()
      .collect().map(_.getString(0)).toSeq
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val full = (for {
      a <- names; b <- names if a < b
      d = lev(a, b) if d <= Analytics.FuzzyMaxDistance
    } yield (a, b, d.toLong)).sorted
    val blocked = SparkEntry.queries("fuzzy_join")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq.sorted
    // every unblocked match survives blocking: cross-block pairs (names
    // with different nouns) are all ≥ 3 edits apart on this vocabulary,
    // so the noun key is a safe partition — this is the assumption the
    // production blocking strategy rests on, stated as a test
    assert(blocked == full)
    assert(blocked.nonEmpty)
  }

  test("cohort_retention matches a plain-Scala cohort recompute") {
    val act = Tables.events(spark, dir)
      .selectExpr("user_id", s"(ts div ${Analytics.NsPerDay} + 3) div 7 AS wk")
      .collect().map(r => (r.getLong(0), r.getLong(1))).distinct.toSeq
    val cohort = act.groupBy(_._1).map { case (u, ws) =>
      u -> ws.map(_._2).min }
    val sizes = cohort.groupBy(_._2).map { case (w, us) => w -> us.size }
    val expected = act.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case ((cw, off), rows) =>
        val nAct = rows.size.toLong
        val nCoh = sizes(cw).toLong
        (cw, off, nAct, nCoh, nAct * 1000000L / nCoh)
      }.toSeq.sortBy(r => (r._1, r._2))
    val got = SparkEntry.queries("cohort_retention")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    assert(got.nonEmpty)
    // offset 0 is by definition the whole cohort
    got.filter(_._2 == 0L).foreach { r =>
      assert(r._3 == r._4 && r._5 == 1000000L)
    }
    // no offset can retain more users than the cohort holds
    got.foreach(r => assert(r._3 <= r._4))
  }

  test("ams_join_size: plain-Scala sketch recompute; errors in regime") {
    val P = Analytics.AmsP
    def sign(k: Long, i: Int): Long = {
      val h1 = ((k % P) + i.toLong * 97561L) % P
      if ((h1 * h1 % P * 2654435761L + h1) % P % 2 == 0) 1L else -1L
    }
    val lk = Tables.lineitem(spark, dir).select("l_orderkey")
      .collect().map(_.getLong(0))
    val ok = Tables.orders(spark, dir).select("o_orderkey")
      .collect().map(_.getLong(0))
    val za = (0 until Analytics.AmsN).map(i => lk.map(sign(_, i)).sum)
    val zb = (0 until Analytics.AmsN).map(i => ok.map(sign(_, i)).sum)
    def mom(prods: Seq[Long]): Long = {
      val g = Analytics.AmsGroup
      val means = prods.grouped(g).map(_.sum / g).toSeq.sorted
      means(means.size / 2)
    }
    val jEst = mom(za.zip(zb).map { case (a, b) => a * b })
    val fEst = mom(za.map(a => a * a))
    val okSet = ok.toSet
    val jExact = lk.count(okSet).toLong
    val fExact = lk.groupBy(identity).values
      .map(v => v.size.toLong * v.size).sum
    val got = SparkEntry.queries("ams_join_size")(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("join_size") == ((jExact, jEst)))
    assert(got("self_join_f2") == ((fExact, fEst)))
    // the sketch must be informative: within the ±1/sqrt(group) regime,
    // nowhere near the degenerate collapse the linear hash produced
    assert(math.abs(jEst - jExact).toDouble / jExact < 0.5)
    assert(math.abs(fEst - fExact).toDouble / fExact < 0.5)
  }

  test("value_percentiles equals the sorted-array type-1 quantile pick") {
    val ev = Tables.events(spark, dir)
      .selectExpr("event_type", "CAST(round(value * 100) AS BIGINT) AS vc")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val expected = ev.groupBy(_._1).map { case (t, rows) =>
      val s = rows.map(_._2).sorted
      def pick(q: Int): Long = s(((s.length.toLong * q + 99) / 100).toInt - 1)
      (t, s.length.toLong, pick(50), pick(95), pick(99))
    }.toSeq.sortBy(_._1)
    val got = SparkEntry.queries("value_percentiles")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expected)
    got.foreach { case (t, _, p50, p95, p99) =>
      assert(p50 <= p95 && p95 <= p99, s"non-monotone percentiles for $t")
    }
  }

  test("cusum_shift closed form equals the direct max(0, ...) recursion") {
    val got = SparkEntry.queries("cusum_shift")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5), r.getBoolean(6))).toSeq
    assert(got.nonEmpty)
    got.groupBy(_._1).foreach { case (_, series) =>
      val days = series.sortBy(_._2)
      val nd = days.length.toLong
      val tot = days.map(_._3).sum
      // the textbook recursion the window closed form must reproduce
      var (sPos, sNeg) = (0L, 0L)
      days.foreach { case (_, _, x, cp, cn, up, down) =>
        val r = nd * x - tot
        sPos = math.max(0L, sPos + r)
        sNeg = math.max(0L, sNeg - r)
        assert(cp == sPos && cn == sNeg)
        assert(up == (cp > 3 * tot) && down == (cn > 3 * tot))
      }
    }
    // a crafted level shift must trip the chart: 10 days at 100/day then
    // 10 days at 200/day — the post-shift CUSUM crosses 3·T well before
    // the series ends (pure-Scala form of the same integer ladder)
    val xs = Seq.fill(10)(100L) ++ Seq.fill(10)(200L)
    val (nd2, tot2) = (xs.length.toLong, xs.sum)
    var s = 0L
    val fired = xs.map { x =>
      s = math.max(0L, s + (nd2 * x - tot2)); s > 3 * tot2 }
    assert(fired.contains(true), "crafted shift must raise shift_up")
  }
}
