package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the round-11 scale tools, on the REAL corpus:
  * rendezvous sharding's load uniformity and minimal-disruption
  * contract (the COVERAGE claims, asserted rather than prose), and
  * the Bloom panel's sketch laws (no false negatives anywhere, the
  * undersized filter strictly noisier than the right-sized one). */
class Round11Spec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.01"

  test("rendezvous: near-uniform loads, moves only onto the new shard") {
    import spark.implicits._
    val rows = SparkEntry.queries("shard_rendezvous")(spark, dir)
      .as[(Long, Long, Long, Boolean)].collect()
    val total = rows.map(_._3).sum
    // every moved row lands on the ADDED shard (index 8) — the HRW
    // minimal-disruption law, not a statistical property
    for ((s8, s9, _, moved) <- rows) {
      assert(moved == (s8 != s9))
      if (moved) assert(s9 == 8L, s"moved row $s8 -> $s9")
    }
    // moved mass ~ 1/9 of the corpus (generous band: 5%..18%)
    val movedN = rows.filter(_._4).map(_._3).sum
    assert(movedN * 100 >= total * 5 && movedN * 100 <= total * 18,
      s"moved $movedN of $total")
    // 8-shard loads within 3x of each other (the broken linear score
    // measured 22 vs 93 at 500 docs; the quadratic mix stays tight)
    val loads = rows.groupBy(_._1).map(_._2.map(_._3).sum).toSeq
    assert(loads.size == 8)
    assert(loads.max <= 3 * loads.min, s"skewed loads $loads")
  }

  test("vad fold: bridge-1 keeps a dip open, two dips split, tail closes") {
    import spark.implicits._
    // frames: L L L s L L s s L L L L  (L = loud, s = silent)
    //          └─ seg 1: 3+1+2 = 6 ─┘      └─ seg 2: 4 ─┘
    def frame(loud: Boolean): Array[Byte] =
      Array.fill[Byte](256)(if (loud) 200.toByte else 128.toByte)
    val pattern = Seq(true, true, true, false, true, true, false, false,
      true, true, true, true)
    val pcm = pattern.flatMap(frame(_)).toArray
    val wav = graft.operators.Multimodal.encodeWavPcm8(8000, pcm)
    val rows = graft.operators.Multimodal.extractVadSegments(
      Seq(graft.operators.MediaRow(1L, "audio/wav", wav)).toDS(), 256)
      .collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.n_frames == 12)
    assert(r.n_segments == 2, s"segments ${r.n_segments}")
    assert(r.max_seg_frames == 6, s"max ${r.max_seg_frames}") // bridged dip counts
    assert(r.active_frames == 9)
    assert(r.speech_ppm == 9L * 1000000L / 12L)
    // all-silence and silence-leading edge cases
    val quiet = graft.operators.Multimodal.extractVadSegments(
      Seq(graft.operators.MediaRow(2L, "audio/wav",
        graft.operators.Multimodal.encodeWavPcm8(8000, frame(false))))
        .toDS(), 256).collect().head
    assert(quiet.n_segments == 0 && quiet.max_seg_frames == 0 &&
      quiet.active_frames == 0 && quiet.speech_ppm == 0L)
  }

  test("bloom panel: zero false negatives, undersized strictly noisier") {
    import spark.implicits._
    val rows = SparkEntry.queries("bloom_dedup")(spark, dir)
      .select("m_bits", "true_dup", "bloom_pos", "false_pos", "false_neg")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    for ((m, dup, pos, fp, fn) <- rows) {
      assert(fn == 0L, s"false negative at m=$m")
      assert(pos == dup + fp, s"hit accounting at m=$m")
    }
    val fpSmall = rows.filter(_._1 == 1024L).map(_._4).sum
    val fpBig = rows.filter(_._1 == 65536L).map(_._4).sum
    // at sf0.01 load the 1024-bit filter measured ~50% FP and the
    // 8 KiB one 0 — require an order of magnitude between them, not
    // the exact corpus-specific counts (testdata regenerates)
    assert(fpSmall >= 10 * math.max(fpBig, 1L),
      s"undersized filter ($fpSmall FPs) must dwarf 8 KiB ($fpBig)")
  }
}
