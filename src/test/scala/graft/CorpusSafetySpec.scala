package graft

import org.scalatest.funsuite.AnyFunSuite

/** Corpus quality / safety operators (Gopher repetition rules, exact
  * substring detection, SemDeDup, decontamination, PII scrub) on crafted
  * fixtures where the expected verdicts are known by construction. */
class CorpusSafetySpec extends AnyFunSuite with LocalSpark {

  /** Write a crafted documents table (and optionally embeddings) to a
    * temp dir shaped like the driver's sf dirs. */
  private def fixture(docs: Seq[(Long, String)],
                      vecs: Seq[(Long, Seq[Float])] = Nil): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("safety").toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'t' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    if (vecs.nonEmpty)
      vecs.toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding",
          "CAST(0 AS INT) AS label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def run(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  test("gopher_repetition: repeated 2-/3-grams flag, diverse text passes") {
    val dir = fixture(Seq(
      (1L, "a b a b a b"),             // top2 'a b'×3 ⇒ 9/11 chars; dup 3-grams
      (2L, "one two three four five"), // all grams unique
      (3L, "x")))                      // too short for any gram
    val rows = run("gopher_repetition", dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(3) == 9L)        // top2_chars = 3 × len("a b")
    assert(rows(1L).getLong(6) == 4L)        // all four 3-gram slots duplicated
    assert(rows(1L).getBoolean(8))
    assert(rows(2L).getLong(6) == 0L && !rows(2L).getBoolean(8))
    assert(rows(3L).getLong(3) == 0L && rows(3L).getLong(5) == 0L
      && !rows(3L).getBoolean(8))
  }

  test("exact_substring: shared run ≥ 2K−1 is always found, and verified") {
    val k = Pipeline.EsK
    val rnd = new scala.util.Random(7L)
    def blob(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    val shared = blob(2 * k - 1) // minimum guaranteed-detectable length
    // plant at misaligned offsets inside otherwise-unrelated noise
    val docs = Seq(
      (10L, blob(31) + shared + blob(17)),
      (20L, blob(5) + shared + blob(40)),
      (30L, blob(200))) // control: no shared window
    val dir = fixture(docs)
    val rows = run("exact_substring", dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(rows.keySet == Set((10L, 20L)))
    val (n, posA, posB, win) = rows((10L, 20L))
    assert(n >= 1L)
    val byId = docs.toMap
    assert(byId(10L).substring(posA.toInt - 1, posA.toInt - 1 + k) == win)
    assert(byId(20L).substring(posB.toInt - 1, posB.toInt - 1 + k) == win)
  }

  test("exact_substring: a window shared by > EsDocCap docs is boilerplate") {
    val k = Pipeline.EsK
    val rnd = new scala.util.Random(13L)
    def blob(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // blob(60) at offset 0 in every doc: the aligned 1..48 anchor window
    // is identical across docs (df = n docs > cap ⇒ excluded) and the
    // 49..96 window is 12 shared + 36 per-doc random chars, so no OTHER
    // genuine 48-char overlap exists to report
    val shared = blob(60)
    val docs = (1L to (Pipeline.EsDocCap + 6L)).map(i => i -> (shared + blob(60)))
    assert(run("exact_substring", fixture(docs)).count() == 0L)
    // below the cap the same construction reports every ordered pair
    val few = (1L to 5L).map(i => i -> docs(i.toInt - 1)._2)
    assert(run("exact_substring", fixture(few)).count() == 10L)
  }

  test("decontaminate: a training doc lifting an eval passage is caught") {
    val evalText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (3L, evalText),                              // 3 % 17 = 3 ⇒ eval set
      (1L, "clean words only nothing shared here at all with anyone else"),
      (2L, "prefix " + evalText + " suffix"))      // lifts ≥8 eval tokens
    val rows = run("decontaminate", fixture(docs)).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    assert(rows.keySet == Set(1L, 2L))             // eval doc excluded
    assert(rows(1L) == ((0L, false)))
    assert(rows(2L)._1 > 0L && rows(2L)._2)
  }

  test("semdedup: an identical lower-id twin drops the copy, one survivor") {
    val rnd = new scala.util.Random(11L)
    def unit(): Seq[Float] = {
      val v = Seq.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    // 24 distinct random vectors (cos ≈ 0 pairwise at d=64 ≫ τ misses)
    // plus exact duplicates of ids 0 and 5 at high ids
    val base = (0L until 24L).map(i => i -> unit())
    val vecs = base ++ Seq(100L -> base(0)._2, 101L -> base(5)._2)
    val dir = fixture(Seq((1L, "x")), vecs)
    val rows = run("semdedup", dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows.size == vecs.size)
    assert(!rows(100L)._2 && !rows(101L)._2)       // copies dropped…
    assert(rows(0L)._2 && rows(5L)._2)             // …originals kept
    assert(rows(100L)._1 == rows(0L)._1)           // same cell as the twin
    assert(rows(101L)._1 == rows(5L)._1)
  }

  test("bpe_train: learns the textbook low/lower/newest merge sequence") {
    // Sennrich et al.'s running example: low×3, lower×2, newest×1.
    // step 1: 'l o' and 'o w' tie at 5 → lex-smallest 'l o' wins;
    // step 2: 'lo w' at 5; step 3: 'e r' and 'low e' tie at 2 → 'e r'.
    val dir = fixture(Seq(
      (1L, "low low low"), (2L, "lower lower"), (3L, "newest")))
    val merges = run("bpe_train", dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq.sortBy(_._1)
    assert(merges.take(3) == Seq((1, "l o", 5L), (2, "lo w", 5L),
      (3, "e r", 2L)))
  }

  test("minLabelComponents: a 300-link chain converges (doubling rounds)") {
    import spark.implicits._
    // diameter 300 ≫ the 25-round budget: only the pointer-jumping
    // doubling step can converge this inside the cap — plain one-edge
    // min-label propagation would fail loudly at round 25
    val chain = (0L until 300L).map(i => (i, i + 1))
    val other = Seq((1000L, 1001L), (1001L, 1002L))
    val lbl = Pipeline.minLabelComponents((chain ++ other).toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lbl.size == 304)
    assert((0L to 300L).forall(lbl(_) == 0L))
    assert(Seq(1000L, 1001L, 1002L).forall(lbl(_) == 1000L))
  }

  test("minLabelComponents equals a reference union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(120)
      val ids = Seq.fill(n)(rnd.nextLong().abs % 10000L).distinct
      val edges = Seq.fill(n) {
        (ids(rnd.nextInt(ids.size)), ids(rnd.nextInt(ids.size)))
      }.filter(e => e._1 != e._2)
      // reference union-find attaching the larger root under the smaller,
      // so every tree's root is its component minimum
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      val got = Pipeline.minLabelComponents(edges.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial (n=$n, edges=${edges.size})")
    }
  }

  test("pii_scrub: counts match injection residues and nothing leaks") {
    val dir = "/root/testdata/sf0.001"
    val rows = run("pii_scrub", dir).collect()
    for (r <- rows) {
      val id = r.getLong(0)
      assert(r.getLong(1) == (if (id % 3 == 0) 1L else 0L), s"email $id")
      assert(r.getLong(2) == (if (id % 4 == 1) 1L else 0L), s"phone $id")
      assert(r.getLong(3) == (if (id % 5 == 2) 1L else 0L), s"ip $id")
      val red = r.getString(5)
      assert(!red.contains("@mail.example.com") && !red.contains("+1-555-"))
      if (id % 3 == 0) assert(red.contains("<EMAIL>"))
      if (id % 4 == 1) assert(red.contains("<PHONE>"))
      if (id % 5 == 2) assert(red.contains("<IP>"))
    }
  }

  test("containment_pairs: an embedded quote is caught where Jaccard fails") {
    // doc 11 is a contiguous 8-token slice of doc 10's 80 tokens: every
    // shingle of 11 is a shingle of 10 → containment 1e6, while Jaccard
    // stays far under the 0.5 dedup threshold (union dominated by 10) —
    // the asymmetric case the symmetric near-dup family cannot see.
    // (On the driver's synthetic corpus the top containments are
    // near-twins — this fixture proves the low-Jaccard catch.)
    val big = (0 until 80).map(i => s"w$i").mkString(" ")
    val quote = (30 until 38).map(i => s"w$i").mkString(" ")
    val dir = fixture(Seq(
      (10L, big), (11L, quote),
      (12L, "completely different content with no shared shingles at all")))
    val rows = run("containment_pairs", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(5), r.getLong(6)))
    assert(rows.nonEmpty)
    val hit = rows.find(r => r._1 == 10L && r._2 == 11L)
    assert(hit.isDefined, s"embedded quote not surfaced: ${rows.toSeq}")
    assert(hit.get._3 == 1000000L, "containment must be total")
    assert(hit.get._4 < 500000L,
      s"jaccard ${hit.get._4} not below the dedup threshold — " +
        "fixture no longer demonstrates the asymmetric catch")
    assert(!rows.exists(r => r._1 == 12L || r._2 == 12L))
  }

  test("dedup_incremental: planted dups caught, min store id, no false hits") {
    import spark.implicits._
    graft.functions.PolyHash.register(spark)
    val batch = Seq(
      (100L, "alpha beta gamma"),     // dup of store 1 AND 3 → min 1
      (101L, "unique new document"),  // genuinely new
      (102L, "delta epsilon"),        // dup of store 7
      (103L, "ablho  etagamma")       // same length as store 1, ≠ text
    ).toDF("doc_id", "text")
    val store = Seq(
      (1L, "alpha beta gamma"),
      (3L, "alpha beta gamma"),
      (7L, "delta epsilon"),
      (9L, "some other store doc")
    ).toDF("doc_id", "text")
    val got = Pipeline.incrementalVerdicts(batch, store).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
    assert(got == Seq((100L, true, 1L), (101L, false, -1L),
      (102L, true, 7L), (103L, false, -1L)))
  }

  test("dedup_incremental: real-corpus run at sf0.1 is non-vacuous") {
    // the synthetic corpus plants exact duplicates only at sf0.1; the
    // full query there must find the batch-vs-store ones, agreeing with
    // a direct text-equality recompute
    val dir = "/root/testdata/sf0.1"
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batchSrc = docs.map(_._2).max
    val store = docs.filterNot(_._2 == batchSrc)
    val expected = docs.filter(_._2 == batchSrc).map { case (id, _, t) =>
      val hits = store.filter(_._3 == t).map(_._1)
      (id, hits.nonEmpty, if (hits.isEmpty) -1L else hits.min)
    }.sortBy(_._1).toSeq
    val got = run("dedup_incremental", dir).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq
    assert(got == expected)
    assert(got.exists(_._2), "sf0.1 must surface a real cross-source dup")
    assert(got.exists(!_._2))
  }
}
