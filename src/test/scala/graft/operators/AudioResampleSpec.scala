package graft.operators

import graft.LocalSpark
import org.scalatest.funsuite.AnyFunSuite

/** Exact-rational linear resampling: identity, decimation,
  * interpolation weights, tail clamping, and the WAV-walk integration
  * including malformed streams. */
class AudioResampleSpec extends AnyFunSuite with LocalSpark {
  import Multimodal.resampleLinear

  test("same-rate resample is the identity") {
    val s = Array(10, 250, 3, 77)
    assert(resampleLinear(s, 8000, 8000).toSeq == s.toSeq)
  }

  test("2:1 decimation takes every other sample exactly") {
    val s = Array.tabulate(10)(k => 10 * k)
    assert(resampleLinear(s, 8000, 4000).toSeq
      == Seq(0, 20, 40, 60, 80))
  }

  test("4:3 downsample interpolates with exact thirds") {
    // positions 0, 4/3, 8/3: s0, s1 + (s2−s1)/3, s2 + 2(s3−s2)/3
    val s = Array(30, 60, 90, 120)
    val out = resampleLinear(s, 8000, 6000)
    assert(out.toSeq == Seq(30, (60 * 2 + 90) / 3, (90 + 120 * 2) / 3))
  }

  test("upsampling interpolates between neighbors and clamps the tail") {
    val s = Array(0, 90)
    // dst/src = 3: positions 0, 1/3, 2/3, 1, 4/3(clamped), 5/3(clamped)
    assert(resampleLinear(s, 1000, 3000).toSeq
      == Seq(0, 30, 60, 90, 90, 90))
  }

  test("single-sample streams still emit one output") {
    assert(resampleLinear(Array(42), 8000, 6000).toSeq == Seq(42))
  }

  test("truncating division on non-negative numerators only") {
    // descending ramp: interpolation weights must not floor-vs-trunc
    // diverge — (a·(d−f)+b·f) stays non-negative by construction
    val s = Array(100, 1)
    val out = resampleLinear(s, 1000, 2000)
    assert(out.toSeq == Seq(100, (100 + 1) / 2, 1, 1))
  }

  test("WAV resample walks real containers and flags malformed ones") {
    import spark.implicits._
    val samples = Array.tabulate(16)(k => (40 + 5 * k).toByte)
    val good = Multimodal.encodeWavPcm8(8000, samples)
    val bad = good.clone(); bad(0) = 'X'
    val rows = Seq(MediaRow(1L, "audio/wav", good),
      MediaRow(2L, "audio/wav", bad)).toDS()
    val got = Multimodal.resampleWav(rows, 6000).collect()
      .sortBy(_.media_id)
    val exp = resampleLinear(samples.map(_ & 0xff), 8000, 6000)
    assert(got(0).n_in == 16 && got(0).n_out == exp.length)
    assert(got(0).sum_out == exp.map(_.toLong).sum)
    assert(got(0).peak_out == exp.max)
    assert(got(1).n_in == -1L && got(1).src_rate == -1)
  }
}
