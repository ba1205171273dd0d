package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins EXACT greedy BPE merge semantics (Sennrich et al. 2016,
  * reference learn_bpe: leftmost, non-overlapping, one left-to-right
  * pass) — both the per-step merge-application expression and the full
  * training loop, against a plain-Scala reference model. The padded
  * string replace this replaced under-merged XYXY runs ('coco',
  * 'murmur') because the first replacement consumed the shared
  * delimiter space. */
class BpeMergeSpec extends AnyFunSuite with LocalSpark {

  /** Reference greedy merge: scan left to right, merge (x, y) and skip
    * both, continue after the merged token. */
  private def refMerge(syms: List[String], x: String, y: String): List[String] = {
    val out = List.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == x && syms(i + 1) == y) {
        out += (x + y); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Reference BPE trainer on (word, freq): per step count adjacent
    * pairs weighted by freq, argmax with lex-smallest tiebreak, greedy
    * merge everywhere. Returns (step, "x y", count). */
  private def refTrain(words: Map[String, Long], steps: Int): Seq[(Int, String, Long)] = {
    var repr: Map[List[String], Long] =
      words.groupMapReduce { case (w, _) => w.split("").toList }(_._2)(_ + _)
    (1 to steps).map { step =>
      val counts = repr.toSeq.flatMap { case (syms, c) =>
        syms.zip(syms.tail).map(p => (p, c))
      }.groupMapReduce(_._1)(_._2)(_ + _)
      assert(counts.nonEmpty, "corpus exhausted before the last step")
      val ((x, y), pc) = counts.minBy { case ((a, b), n) => (-n, a + " " + b) }
      repr = repr.groupMapReduce { case (syms, _) => refMerge(syms, x, y) }(_._2)(_ + _)
      (step, s"$x $y", pc)
    }
  }

  test("merge expression is exact greedy on the divergence cases") {
    import spark.implicits._
    val cases = Seq(
      // XYXY reduplication — the bug the padded replace had
      ("c o c o", "c o", "co co"),
      ("m u r m u r", "u r", "m ur m ur"),
      ("c o c o a", "c o", "co co a"),
      // X = Y runs: greedy takes positions (1,2), (3,4), leaves the 5th
      ("a a a a a", "a a", "aa aa a"),
      ("a a a", "a a", "aa a"),
      // merged token never re-participates in the same step
      ("x y y", "x y", "xy y"),
      ("x x y", "x y", "x xy"),
      ("a b b", "a b", "ab b"),
      // no occurrence / degenerate lengths
      ("x y z", "c o", "x y z"),
      ("c", "c o", "c"),
      ("c o", "c o", "co"))
    val got = cases.toDF("repr", "mp", "want")
      .selectExpr("repr", "mp", "want", s"${Pipeline.BpeMergeExpr} AS got")
      .collect()
    got.foreach { r =>
      assert(r.getString(3) == r.getString(2),
        s"merge('${r.getString(0)}', '${r.getString(1)}')")
    }
  }

  test("merge expression equals the reference scan on random words") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val alpha = Vector("a", "b", "c")
    val rows = (1 to 300).map { _ =>
      val syms = List.fill(1 + rnd.nextInt(12))(alpha(rnd.nextInt(alpha.size)))
      val x = alpha(rnd.nextInt(alpha.size))
      val y = alpha(rnd.nextInt(alpha.size))
      (syms.mkString(" "), s"$x $y", refMerge(syms, x, y).mkString(" "))
    }
    val bad = rows.toDF("repr", "mp", "want")
      .selectExpr("repr", "mp", "want", s"${Pipeline.BpeMergeExpr} AS got")
      .filter("got <> want")
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("training loop matches reference-BPE merges on a reduplicated corpus") {
    import spark.implicits._
    // 'coco'/'murmur'-rich corpus: exact greedy and padded replace
    // diverge from step 1 (the pair count of step 2 sees the merged
    // reduplications), so this pins the whole loop, not just the expr
    val corpus = Map(
      "coco" -> 7L, "cocoa" -> 4L, "murmur" -> 5L,
      "banana" -> 3L, "cocoon" -> 2L, "aaaa" -> 6L)
    val want = refTrain(corpus, Pipeline.BpeMerges)
    val got = Pipeline.bpeTrainFromWords(corpus.toSeq.toDF("word", "c"))
      .orderBy("step")
      .selectExpr("step", "pair", "pc")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq
    assert(got == want, s"\n got: $got\nwant: $want")
  }

  test("encode: the trained repr table is the reference merges applied " +
    "in order per word") {
    import spark.implicits._
    val corpus = Map(
      "coco" -> 7L, "cocoa" -> 4L, "murmur" -> 5L,
      "banana" -> 3L, "cocoon" -> 2L, "aaaa" -> 6L)
    val merges = refTrain(corpus, Pipeline.BpeMerges).map { case (_, p, _) =>
      val Array(x, y) = p.split(" "); (x, y)
    }
    val want = corpus.keys.map { w =>
      var syms = w.split("").toList
      for ((x, y) <- merges) syms = refMerge(syms, x, y)
      w -> syms
    }.toMap
    val got = Pipeline.bpeTrainState(corpus.toSeq.toDF("word", "c"))._2
      .select("word", "repr").collect()
      .map(r => r.getString(0) -> r.getString(1).split(" ").toList).toMap
    assert(got == want, s"\n got: $got\nwant: $want")
  }
}
