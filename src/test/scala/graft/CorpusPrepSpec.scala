package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corpus-prep operators (retrieval, chunking, packing, composite
  * filter) against the sf0.001 corpus, cross-checked by plain-Scala
  * reimplementations of the same arithmetic. */
class CorpusPrepSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  private lazy val docs: Seq[(Long, String, String, String)] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select("doc_id", "text", "lang", "source")
      .as[(Long, String, String, String)].collect().toSeq.sortBy(_._1)
  }

  private def run(name: String) = SparkEntry.queries(name)(spark, dir)

  test("doc_chunks: stride/overlap geometry and exact reconstruction") {
    val rows = run("doc_chunks")
      .collect().map(r => (r.getLong(0), r.getInt(1).toLong, r.getInt(2).toLong,
        r.getInt(3).toLong, r.getString(4)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.size == docs.size)
    for ((docId, text, _, _) <- docs) {
      val tk = text.split(" ", -1).toSeq
      val chunks = byDoc(docId).sortBy(_._2)
      val expected = math.max(math.ceil((tk.size - 16) / 48.0).toInt, 1)
      assert(chunks.size == expected, s"doc $docId chunk count")
      for ((_, cid, start, nTok, ctext) <- chunks) {
        assert(start == cid * 48)
        val want = tk.slice(start.toInt, start.toInt + 64)
        assert(nTok == want.size && ctext == want.mkString(" "),
          s"doc $docId chunk $cid")
      }
      // full coverage: chunk starts stride the whole token range
      assert(chunks.last._3 + chunks.last._4 == tk.size)
    }
  }

  test("seq_pack: per-source prefix offsets and boundary flags") {
    val rows = run("seq_pack")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2).toLong,
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(rows.length == docs.size)
    for ((src, group) <- rows.groupBy(_._1)) {
      var off = 0L
      for ((_, docId, n, start, seqId, spans) <- group.sortBy(_._2)) {
        val nTok = docs.find(_._1 == docId).get._2.split(" ", -1).length
        assert(n == nTok && start == off, s"doc $docId offset in $src")
        assert(seqId == start / 256)
        assert(spans == ((start + n - 1) / 256 != start / 256))
        off += n
      }
    }
  }

  test("bm25: matches a plain-Scala Okapi BM25 over the same corpus") {
    val terms = Seq("spark", "join", "window")
    val (k1, b) = (1.2, 0.75)
    val toks = docs.map { case (id, text, _, _) => id -> text.split(" ", -1).toSeq }
    val n = toks.size
    val avgdl = toks.map(_._2.size.toLong).sum.toDouble / n
    val dfs = terms.map(t => toks.count(_._2.contains(t)))
    def round(v: Double, dp: Int): Double =
      BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idfs = dfs.map(df => round(math.log(1.0 + (n - df + 0.5) / (df + 0.5)), 6))
    val expected = toks.map { case (id, tk) =>
      val dl = tk.size
      val score = terms.zipWithIndex.map { case (t, i) =>
        val tf = tk.count(_ == t)
        idfs(i) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
      }.sum
      (id, round(score, 4))
    }.filter(_._2 > 0).sortBy { case (id, sc) => (-sc, id) }.take(20)
    val got = run("bm25").collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == expected)
  }

  test("corpus_filter: first-failing-rule priority recomputed in Scala") {
    val fps = docs.map { case (id, text, _, _) =>
      id -> text.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + c) % Pipeline.P)
    }.toMap
    val keeper = fps.groupBy(_._2).values
      .flatMap(g => g.keys.map(_ -> g.keys.min)).toMap
    val expected = docs.map { case (id, text, lang, _) =>
      val tk = text.split(" ", -1).toSeq
      // ASCII class, matching the engine's [A-Za-z0-9 ] (isLetterOrDigit
      // would admit non-ASCII letters the regex strips as "punctuation")
      val nPunct = text.count(c => !(c >= '0' && c <= '9' ||
        c >= 'A' && c <= 'Z' || c >= 'a' && c <= 'z' || c == ' '))
      val stop = tk.count(t => t == "the" || t == "a")
      val reason =
        if (id != keeper(id)) "duplicate"
        else if (!Set("en", "de", "fr", "es")(lang)) "lang"
        else if (tk.size < 20) "too_short"
        else if (nPunct.toDouble / math.max(text.length, 1) > 0.1) "punct_heavy"
        else if (stop.toDouble / tk.size > 0.15) "stopwordy"
        else "keep"
      (id, reason == "keep", reason)
    }
    val got = run("corpus_filter").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getString(2))).toSeq
    assert(got == expected)
    assert(got.exists(!_._2) && got.exists(_._2), "filter should split the corpus")
  }

  test("mixture_sample: targets, rates and kept counts recomputed in Scala") {
    def fold(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((a, c) => (a * 31 + c) % Pipeline.P)
    val bySrc = docs.groupBy(_._4).map { case (src, g) =>
      (src, g.size.toLong, 1L + fold(src) % 5) }.toSeq
    val sumRaw = bySrc.map(_._3).sum
    val tTotal = bySrc.map { case (_, n, w) => n * sumRaw / w }.min
    val expected = bySrc.map { case (src, n, w) =>
      val kTarget = w * tTotal / sumRaw
      val ratePpm = kTarget * 1000000L / n
      val nKept = docs.count(d => d._4 == src &&
        fold(d._2) * 2654435761L % Pipeline.P % 1000000L < ratePpm).toLong
      (src, n, w * 1000000L / sumRaw, kTarget, ratePpm, nKept)
    }.sortBy(_._1)
    val got = run("mixture_sample").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected)
    // the mixture actually resamples: at least one source is cut down,
    // and no source keeps more than its target + binomial slack
    assert(expected.exists { case (_, n, _, k, _, _) => k < n })
  }

  test("prepare_corpus: filter gates, chunks match, offsets pack contiguously") {
    import org.apache.spark.sql.Row
    val kept = run("corpus_filter").filter("keep")
      .collect().map(_.getLong(0)).toSet
    val rows = run("prepare_corpus").collect().map {
      case Row(src: String, id: Long, cid: Int, n: Int, off: Long,
          seq: Long, spans: Boolean) => (src, id, cid, n, off, seq, spans)
    }
    // only kept documents contribute, and EVERY kept document does
    assert(rows.map(_._2).toSet == kept)
    // chunk geometry identical to doc_chunks restricted to kept docs
    val chunkRef = run("doc_chunks").collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(3)).toMap
    for ((_, id, cid, n, _, _, _) <- rows)
      assert(chunkRef((id, cid)) == n, s"chunk ($id,$cid)")
    assert(rows.count(r => kept(r._2)) ==
      chunkRef.keys.count(k => kept(k._1)))
    // per source: start offsets are the exact running sum, seq ids the cut
    for ((_, group) <- rows.groupBy(_._1)) {
      var off = 0L
      for ((_, id, cid, n, start, seq, spans) <- group.sortBy(g => (g._2, g._3))) {
        assert(start == off, s"offset at ($id,$cid)")
        assert(seq == start / 256 && spans == ((start + n - 1) / 256 != seq))
        off += n
      }
    }
  }

  test("corpus_split: disjoint, exhaustive, content-determined, " +
    "majority-train") {
    val rows = run("corpus_split").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.length == docs.size, "every document assigned exactly once")
    // the label is the pinned function of the bucket, the bucket the
    // pinned scrambled fold of the text — recomputed here in plain Scala
    val byId = docs.map(d => d._1 -> d._2).toMap
    for ((id, _, bucket, split) <- rows) {
      val fold = byId(id).foldLeft(0L)((a, c) => (a * 31 + c.toLong) % Pipeline.P)
      assert(bucket == fold * 2654435761L % Pipeline.P % 1000, s"doc $id")
      val want =
        if (bucket < 800) "train" else if (bucket < 900) "val" else "test"
      assert(split == want, s"doc $id")
    }
    // 80/10/10 in expectation; at 50 docs just pin the gross shape
    val n = rows.groupBy(_._4).view.mapValues(_.size).toMap
    assert(n.getOrElse("train", 0) > rows.length / 2, s"shares $n")
    assert(n.values.sum == rows.length)
  }

  test("quantile_sketch: exact from the sort, estimate within one bin") {
    val rows = run("quantile_sketch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(500000L, 900000L, 990000L))
    val xs = docs.map(_._2.split(" ", -1).length.toLong).sorted
    val (mn, mx, cnt) = (xs.head, xs.last, xs.size)
    val binW = (mx - mn + 1 + Pipeline.QsBins - 1) / Pipeline.QsBins
    var lastEst = Long.MinValue
    for ((q, est, exact, err) <- rows) {
      val kidx = ((q * cnt + 999999) / 1000000).toInt
      assert(exact == xs(kidx - 1), s"exact quantile at $q ppm")
      assert(err == est - exact, s"err column at $q ppm")
      assert(err >= 0 && err < binW,
        s"estimate at $q ppm off by $err (bin width $binW)")
      assert(est >= lastEst, "estimates monotone in q")
      lastEst = est
    }
  }

  test("quality_classifier: plain-Scala NB with fixed-point lns agrees") {
    val rows = run("quality_classifier").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1)
    val toks = docs.map { case (id, text, _, source) =>
      (id, text.split(" ", -1).toSeq, source.drop(3).toInt % 4 == 0) }
    val cp = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val cn = collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    for ((_, tk, ref) <- toks; w <- tk)
      if (ref) cp(w) += 1 else cn(w) += 1
    val vocab = (cp.keySet ++ cn.keySet).size.toDouble
    val (tp, tn) = (cp.values.sum, cn.values.sum)
    val (np, nn) = (toks.count(_._3), toks.count(!_._3))
    val priorFp = math.round(math.log((np + 1.0) / (nn + 1.0)) * 1e6)
    def lnFp(c: Long, t: Long): Long =
      math.round(math.log((c + 1.0) / (t + vocab)) * 1e6)
    val expected = toks.map { case (id, tk, _) =>
      val sllr = tk.iterator
        .map(w => lnFp(cp(w), tp) - lnFp(cn(w), tn)).sum
      (id, tk.size.toLong,
        BigDecimal(sllr + priorFp).setScale(-2, BigDecimal.RoundingMode.HALF_UP)
          .toLong / 1e6,
        sllr + priorFp > 0)
    }.sortBy(_._1)
    // both classes occur in the predictions (the decision is non-trivial)
    assert(rows.exists(_._4) && rows.exists(!_._4))
    assert(rows.toSeq == expected)
  }

  test("sample_weighted: DLT priorities recompute; weighting biases long") {
    val docs = Tables.documents(spark, dir)
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val p = graft.functions.PolyHash.P
    val pris = docs.map { case (id, text) =>
      val w = text.split(" ", -1).length.toLong
      val h = graft.functions.PolyHash.hashBytes(text.getBytes("UTF-8")) *
        2654435761L % p
      (id, w, h / w)
    }
    val expected = pris.sortBy(r => (r._3, r._1)).take(Pipeline.WsK).toSeq
    val got = SparkEntry.queries("sample_weighted")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expected)
    // priority sampling must bias toward heavy (long) documents: the
    // sample's mean weight exceeds the corpus mean
    val corpusMean = pris.map(_._2).sum.toDouble / pris.length
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      s"sample mean $sampleMean not above corpus mean $corpusMean")
  }
}
