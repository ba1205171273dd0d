package graft

import org.scalatest.funsuite.AnyFunSuite

/** Closed-form and analytic pins for the PCA family: covariance on a
  * crafted two-point corpus, the power iteration's eigenpair on a
  * diagonal matrix, and Rayleigh agreement with a double-precision
  * reference on the driver corpus. */
class PcaSpec extends AnyFunSuite with LocalSpark {

  private def fixtureDir(vs: Seq[Array[Float]]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pca").toString
    vs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq, i % 10) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("two-point corpus: covariance is the known diagonal, eig exact") {
    // +-0.1 along dim 1 only: cov = diag(0.01, 0, ..., 0)
    val a = Array.fill(64)(0f); a(0) = 0.1f
    val b = Array.fill(64)(0f); b(0) = -0.1f
    val dir = fixtureDir(Seq(a, b))
    val cov = Pipeline.queries("embedding_covariance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cov((1L, 1L)) == 10000L) // 0.01 in micro-units
    assert(cov.filter(_._1 != ((1L, 1L))).values.forall(_ == 0L))
    val eig = Pipeline.queries("embedding_top_eig")(spark, dir).collect()
    val byPos = eig.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byPos(1L) == 1000L) // the principal axis, full milli-scale
    assert((2L to 64L).forall(p => byPos(p) == 0L))
    assert(eig.head.getLong(2) == 10000L) // lambda = var = 0.01
    assert(eig.head.getLong(3) == 1000000L) // one axis carries ALL variance
  }

  test("eig2: deflation finds the exact second axis on a separable corpus") {
    // two orthogonal axes with a WELL-SEPARATED spectrum (ratio
    // 4e-4), so the ∞-norm iteration rounds the minor component to
    // exactly zero in one step and every output is closed-form
    val a = Array.fill(64)(0f); a(0) = 0.2f
    val b = Array.fill(64)(0f); b(0) = -0.2f
    val c = Array.fill(64)(0f); c(1) = 0.004f
    val d = Array.fill(64)(0f); d(1) = -0.004f
    val dir = fixtureDir(Seq(a, b, c, d))
    val rows = Pipeline.queries("embedding_eig2")(spark, dir).collect()
    val byPos = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h = rows.head
    assert(h.getLong(3) == 20000L) // lambda1: 2*(200^2)*4/16 micro
    assert(h.getLong(2) == 8L)     // lambda2: 2*(4^2)*4/16 micro
    assert(math.abs(byPos(2L)) == 1000L) // second axis, full milli scale
    assert((1L to 64L).filter(_ != 2L).forall(p => byPos(p) == 0L))
    assert(h.getLong(4) == 0L) // exactly orthogonal
  }

  test("driver corpus: Rayleigh matches a double-precision reference") {
    val dir = "/root/testdata/sf0.001"
    val cov = Pipeline.queries("embedding_covariance")(spark, dir)
      .collect().map(r => (r.getLong(0).toInt - 1, r.getLong(1).toInt - 1,
        r.getLong(2)))
    val c = Array.ofDim[Double](64, 64)
    cov.foreach { case (i, j, v) => c(i)(j) = v / 1e6; c(j)(i) = v / 1e6 }
    // reference: 200 double power iterations from ones
    var v = Array.fill(64)(1.0)
    for (_ <- 1 to 200) {
      val w = Array.tabulate(64)(i =>
        (0 until 64).map(j => c(i)(j) * v(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      v = w.map(_ / n)
    }
    val lamRef = (0 until 64).map(i => v(i) *
      (0 until 64).map(j => c(i)(j) * v(j)).sum).sum
    val head = Pipeline.queries("embedding_top_eig")(spark, dir)
      .collect().head
    val lam = head.getLong(2) / 1e6
    assert(lam > 0.0)
    // Rayleigh of ANY vector lower-bounds lambda_1 (tiny quantization
    // slack); with the sf0.001 gap ratio ~0.93, three rounds land
    // within the measured envelope — the corpus is near-isotropic
    // noise and the query reports that honestly via share_ppm
    assert(lam <= lamRef * 1.001,
      s"Rayleigh $lam exceeded the top eigenvalue $lamRef")
    assert(lam >= lamRef * 0.75,
      s"3-round Rayleigh $lam fell out of the envelope vs $lamRef")
    // explained share: lambda/trace, and no dominant axis here
    val trace = cov.collect { case (i, j, x) if i == j => x }.sum
    assert(head.getLong(3) == head.getLong(2) * 1000000L / trace)
    assert(head.getLong(3) < 100000L, "noise corpus must not report " +
      "a dominant principal axis")
  }
}
