package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** embedding similarity, PCA, ANN and sketch-based dedup — the Embed slice of the [[Pipeline]]
  * catalog (round-13 split: pure moves out of the former
  * single-file Pipeline.scala; composed back via
  * `object Pipeline extends ...`). */
private[graft] trait PipelineEmbedPart extends Serializable { this: Pipeline.type =>
  /** SemDeDup (Abbas et al. 2023): semantic deduplication inside the
    * cells of the TRAINED coarse quantizer — a vector is dropped when a
    * lower-id vector in the SAME cell is closer than cos τ (the
    * deterministic min-id variant of the paper's keep-one-per-ε-ball).
    *
    * 100 TB shape: this is the whole point of SemDeDup — the quadratic
    * similarity test runs per-CELL, not per-corpus; the k-means assignment
    * is the same broadcast N×K pass as IVF search, and the within-cell
    * self-join is bounded by (N/K)² per cell. Reuses [[ivfTrainedCents]]
    * (shared ScanCache entry with ann_ivf_trained). */
  private[graft] def semdedup(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    val assigned = assignCells(all, ivfTrainedCents(s, dir))
    val m = assigned.join(all, Seq("vec_id"))
    val a = m.select(col("cell"), col("vec_id"),
      col("v").as("va"), col("nrm").as("na"))
    val b = m.select(col("cell"), col("vec_id").as("nn_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val dups = a.join(b, Seq("cell"))
      .filter(col("nn_id") < col("vec_id"))
      .filter(expr(s"$cosExpr > $SemTau"))
      .select("vec_id").distinct()
      .withColumn("dup", lit(true))
    assigned.join(dups, Seq("vec_id"), "left")
      .selectExpr("vec_id", "cell", "dup IS NULL AS kept")
      .orderBy("vec_id")
  }
  /** Eval-set decontamination — the n-gram overlap check every training
    * pipeline runs before a corpus ships (PaLM/GPT-3 style 8-gram rule):
    * a training document is contaminated when any of its DecontN-gram
    * hashes appears in the eval set's gram set. Documents shorter than
    * DecontN tokens have no grams and drop out (both engines agree).
    *
    * 100 TB shape: the eval gram set is benchmark-sized (tiny) and
    * BROADCASTS — the corpus side is one map-side hash probe per gram,
    * no shuffle of training text at all; the per-doc aggregation groups
    * on the already-partitioned doc_id. */
  private[graft] def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val grams = registered(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk")
      .selectExpr("doc_id", s"explode(${gramsExpr("tk", DecontN)}) AS g")
      .selectExpr("doc_id", "poly_hash(g) AS gh")
    val evalSet = grams
      .filter(s"doc_id % $EvalMod = $EvalRes AND doc_id <= $EvalMaxId")
      .select("gh").distinct().withColumn("hit", lit(1))
    grams.filter(s"doc_id % $EvalMod <> $EvalRes OR doc_id > $EvalMaxId")
      .join(broadcast(evalSet), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("hits"))
      .selectExpr("doc_id", "n_grams", "CAST(hits AS BIGINT) AS n_hit",
        "hits / CAST(n_grams AS DOUBLE) AS contam_frac",
        "hits > 0 AS contaminated")
      .orderBy("doc_id")
  }
  // ---- embedding similarity ---------------------------------------------

  /** embeddings + double-cast vector and L2 norm. dot_p is the native
    * codegen'd in-order dot product (functions.DotProduct) — bit-identical
    * to the DuckDB list_reduce fold, ~10× faster than the interpreted
    * higher-order-function form.
    *
    * PERSISTED per (session, dir): six similarity queries branch off this
    * scan (topk, the near-dup pair, both LSH variants, IVF, recall), so
    * the cast + norm pass runs once per Verify/Bench session. */
  private[graft] def vecs(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"vecs:$dir") {
      // spread BEFORE the persist: the driver's single-row-group parquet
      // would otherwise pin every downstream N×K scoring pass and
      // candidate join to one core (one tiny exchange here, paid once per
      // session, parallelizes the whole similarity family; on a real
      // multi-file corpus the scan arrives pre-split and this is a no-op
      // cost — the shuffle ships each vector exactly once, far below the
      // K-fold scoring work it unlocks)
      registeredVecs(s, dir).repartition(col("vec_id")).selectExpr(
        "vec_id",
        "cast(embedding AS array<double>) AS v")
        .selectExpr("vec_id", "v", "sqrt(dot_p(v, v)) AS nrm")
    }
  private[graft] def cosExpr: String = "dot_p(va, vb) / (na * nb)"
  /** Brute-force cosine top-k: the exact baseline for similarity search.
    * The (tiny) query set broadcasts; the scan side stays partitioned —
    * at 100 TB this is one pass over the corpus per query batch. */
  private[graft] def embeddingTopk(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    val q = all.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("va"), col("nrm").as("na"))
    val c = all
      .select(col("vec_id"), col("v").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("vec_id"))
    broadcast(q).join(c, col("qid") =!= col("vec_id"))
      .withColumn("cosine", expr(cosExpr))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }
  /** Embedding near-duplicate pairs: all pairs above a cosine threshold.
    * (Exact quadratic form — the LSH-bucketed scale path is `ann_lsh`.) */
  private[graft] def embeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    val a = all.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = all.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", expr(cosExpr))
      .filter(col("cosine") >= 0.3)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }
  /** Sparse random projection 64 → [[RpDim]] dims (Achlioptas 2003:
    * entries −1/0/+1 with density 1/3, here drawn DETERMINISTICALLY
    * from the scrambled hash of the matrix cell index, so both engines
    * — and every re-run at any parallelism — materialize the identical
    * projection with no stored matrix and no RNG state). The reduced
    * vector is a pure per-row map (RpDim × 64 fused multiply-adds
    * inside codegen, no shuffle) — the standard cheapening step in
    * front of ANN indexing at 100 TB, where scoring cost is linear in
    * dimension. Cosine distortion is MEASURED on the all-pairs panel
    * of the first 16 vectors (120 pairs): `cos_full` vs `cos_rp` per
    * pair, both engine-exact (fixed left-fold order), so the
    * Johnson–Lindenstrauss error this budget buys is a query result,
    * not a prose claim. Measured: mean |cos_full − cos_rp| 0.247 at
    * sf0.01 (0.299 at sf0.001), corr 0.38 — the JL noise std at K=16
    * (~0.3 after the 1/3-density inflation) DOMINATES this corpus's
    * near-orthogonal pairs (cos_full std 0.12), exactly as the analytic
    * predicts; on a corpus with real near-dup structure (|cos| near 1)
    * the same budget preserves ranking. PipelineSpec pins the regime. */
  /** s(i,j) ∈ {−1, 0, +1} w.p. {1/6, 1/6, 2/3} from the cell hash —
    * the deterministic Achlioptas sign draw (Spark side). */
  private[graft] def rpSignExpr(i: String, j: String): String =
    s"CAST(CASE (($i * $RpDim + $j + 1) * 2654435761L) % ${P}L % 6 " +
      "WHEN 0 THEN -1 WHEN 1 THEN 1 ELSE 0 END AS DOUBLE)"
  /** The 64 → RpDim projection of column `v` (Spark side). */
  private[graft] def rpProjExpr: String =
    s"transform(sequence(0, ${RpDim - 1}), j -> " +
      "aggregate(sequence(0, 63), CAST(0 AS DOUBLE), " +
      s"(acc, i) -> acc + element_at(v, i + 1) * ${rpSignExpr("i", "j")}))"
  /** Reduced vectors for the WHOLE corpus — the pure-map projection the
    * RP search path scores against; persisted per (session, dir). */
  private[graft] def rpVecs(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"rpvecs:$dir") {
      vecs(s, dir).selectExpr("vec_id", s"$rpProjExpr AS r")
        .selectExpr("vec_id", "r", "sqrt(dot_p(r, r)) AS rn")
    }
  // ---- PCA: covariance + fixed-point power iteration --------------------

  /** Half-away-from-zero rounding — the semantics of SQL `round` in
    * BOTH engines (Spark HALF_UP / DuckDB away-from-zero agree on all
    * signs), so driver-side math can mirror oracle arithmetic
    * exactly. */
  /** Signed positive-operand integer division: both engines divide
    * positive operands (where truncation and floor agree) and re-apply
    * the sign — Scala truncates toward zero while DuckDB's `//` floors,
    * so a bare `/` on a negative numerator diverges cross-engine. The
    * oracle mirrors this as `CASE WHEN num >= 0 THEN num // den ELSE
    * -((-num) // den) END` (denominators here are sums of squares /
    * traces, always positive). */
  private[graft] def divSigned(num: Long, den: Long): Long =
    if (num >= 0) num / den else -((-num) / den)
  private[graft] def rndAway(d: Double): Long =
    (if (d >= 0) math.floor(d + 0.5) else math.ceil(d - 0.5)).toLong
  /** One-pass corpus moments for the embedding covariance: values
    * quantize to integer milli-units with the SQL `round` (the
    * IvfScale convention), partitions accumulate (n, Σq, Σq·qᵀ) upper
    * triangles locally, and the driver folds the ≤ #partitions partial
    * rows — the corpus is never exploded to d² rows and nothing wider
    * than a 2 144-long array crosses the wire per partition. Integer
    * sums are exact while per-pair Σq_iq_j < 2⁶³ (~3·10¹³ rows at
    * milli-scale); beyond, widen the accumulators — the skew_report
    * move. */
  private[graft] def embMoments(s: SparkSession, dir: String)
      : (Long, Array[Long], Array[Long]) = {
    val spark = s
    import spark.implicits._
    val parts = vecs(s, dir)
      .selectExpr("transform(v, x -> CAST(round(x * 1000) AS BIGINT)) AS q")
      .as[Seq[Long]]
      .mapPartitions { it =>
        var n = 0L
        val sx = new Array[Long](64)
        val sxy = new Array[Long](2080)
        it.foreach { qs =>
          val a = qs.toArray
          n += 1
          var i = 0
          var idx = 0
          while (i < 64) {
            sx(i) += a(i)
            var j = i
            while (j < 64) { sxy(idx) += a(i) * a(j); idx += 1; j += 1 }
            i += 1
          }
        }
        if (n == 0) Iterator.empty
        else Iterator.single((n, sx.toSeq, sxy.toSeq))
      }.collect()
    val sx = new Array[Long](64)
    val sxy = new Array[Long](2080)
    var n = 0L
    parts.foreach { case (pn, psx, psxy) =>
      n += pn
      var i = 0
      while (i < 64) { sx(i) += psx(i); i += 1 }
      var k = 0
      while (k < 2080) { sxy(k) += psxy(k); k += 1 }
    }
    (n, sx, sxy)
  }
  /** Mean-centered covariance in integer micro-units:
    * c_ij = round((n·Σq_iq_j − Σq_iΣq_j) / n²) — the milli-scale
    * quantization squares to exactly the 10⁶ output scale. Model-sized
    * (2 080 rows) driver arithmetic over the one-pass moments. */
  private[graft] def embCovRows(s: SparkSession, dir: String)
      : (Long, Array[Array[Long]]) = {
    val (n, sx, sxy) = embMoments(s, dir)
    val c = Array.ofDim[Long](64, 64)
    var idx = 0
    var i = 0
    while (i < 64) {
      var j = i
      while (j < 64) {
        val num = n * sxy(idx) - sx(i) * sx(j)
        val v = rndAway(num.toDouble / (n * n).toDouble)
        c(i)(j) = v
        c(j)(i) = v
        idx += 1
        j += 1
      }
      i += 1
    }
    (n, c)
  }
  /** Embedding covariance matrix — PCA's scalable half and the
    * data-driven decorrelation readout beside [[embeddingRp]]'s
    * oblivious projection. 2 080 upper-triangle rows in exact integer
    * micro-units; the oracle recomputes every entry from its own
    * d²-exploded self-join (quadratic only oracle-side). */
  private[graft] def embeddingCovariance(s: SparkSession, dir: String)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    val (_, c) = embCovRows(s, dir)
    val rows = for (i <- 0 until 64; j <- i until 64)
      yield (i + 1L, j + 1L, c(i)(j))
    rows.toDF("i", "j", "cov_micro").orderBy("i", "j")
  }
  /** Top principal component via THREE fixed-point power iterations
    * over the integer covariance — every step is exact cross-engine
    * arithmetic: w = C·v in integers, ∞-norm renormalization to
    * milli-units via the shared `round(w·1000/max|w|)` (max is
    * order-independent, unlike a float L2 sum), and a Rayleigh
    * quotient in pure integer division. The oracle unrolls the same
    * three iterations as CTEs (the Lloyd-oracle pattern). Driver-side
    * model math; the corpus is touched once by the moments pass. */
  private[graft] def embeddingTopEig(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (_, c) = embCovRows(s, dir)
    def mul(v: Array[Long]): Array[Long] =
      Array.tabulate(64) { i =>
        var acc = 0L
        var j = 0
        while (j < 64) { acc += c(i)(j) * v(j); j += 1 }
        acc
      }
    var v = Array.fill(64)(1000L)
    for (_ <- 1 to 3) {
      val w = mul(v)
      val m = w.map(math.abs).max
      v = w.map(x => rndAway(x * 1000.0 / m))
    }
    val w4 = mul(v)
    val lambda = divSigned((0 until 64).map(i => v(i) * w4(i)).sum,
      (0 until 64).map(i => v(i) * v(i)).sum)
    // explained-variance share: λ/trace in ppm — on this corpus's
    // near-isotropic spectrum an honest "no dominant axis" readout
    // (the RP-distortion honesty pattern); 3 rounds make the Rayleigh
    // a documented LOWER bound of λ₁ (gap ratio ~0.93 at sf0.001 —
    // PcaSpec pins the envelope, the crafted-fixture eig is exact)
    val trace = (0 until 64).map(i => c(i)(i)).sum
    val share = divSigned(lambda * 1000000L, trace)
    (0 until 64).map(i => (i + 1L, v(i), lambda, share))
      .toDF("pos", "v_milli", "lambda_micro", "share_ppm").orderBy("pos")
  }
  /** Second principal component via integer Hotelling deflation:
    * C' = C − round(λ·v·vᵀ / ‖v‖²-scale) entry-by-entry in the same
    * micro-unit fixed point, then the SAME three power iterations on
    * C'. Every deflation entry is one IEEE multiply-divide-round on
    * integers both engines share, so the second eigenpair is
    * engine-exact too. Output adds the v₁ᵀv₂ alignment in ppm — the
    * orthogonality readout (exactly 0 only in exact arithmetic; the
    * fixed-point residual is REPORTED, not asserted away). */
  private[graft] def embeddingEig2(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val (_, c) = embCovRows(s, dir)
    def mul(m: Array[Array[Long]], v: Array[Long]): Array[Long] =
      Array.tabulate(64) { i =>
        var acc = 0L
        var j = 0
        while (j < 64) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
    def power(m: Array[Array[Long]]): (Array[Long], Long) = {
      var v = Array.fill(64)(1000L)
      for (_ <- 1 to 3) {
        val w = mul(m, v)
        val mx = w.map(math.abs).max
        v = w.map(x => rndAway(x * 1000.0 / mx))
      }
      val w4 = mul(m, v)
      val lam = divSigned((0 until 64).map(i => v(i) * w4(i)).sum,
        (0 until 64).map(i => v(i) * v(i)).sum)
      (v, lam)
    }
    val (v1, lam1) = power(c)
    val vv = (0 until 64).map(i => v1(i) * v1(i)).sum
    // deflate: c2_ij = c_ij − round(lam1·v1_i·v1_j / ‖v1‖²) — the
    // numerator is an EXACT Long (≤ ~2.5e11), so both engines perform
    // one identical double division + round
    val c2 = Array.tabulate(64, 64)((i, j) =>
      c(i)(j) - rndAway((lam1 * v1(i) * v1(j)).toDouble / vv.toDouble))
    val (v2, lam2) = power(c2)
    val alignNum = (0 until 64).map(i => v1(i) * v2(i)).sum * 1000000L
    // signed positive-operand division — Spark/Scala truncation vs
    // DuckDB floor differ on negatives
    val align = if (alignNum >= 0) alignNum / vv else -((-alignNum) / vv)
    (0 until 64).map(i => (i + 1L, v2(i), lam2, lam1, align))
      .toDF("pos", "v2_milli", "lambda2_micro", "lambda1_micro",
        "align_ppm")
      .orderBy("pos")
  }
  /** PCA APPLIED — the 64→2 projection every pipeline actually runs
    * with its components: each vector's exact integer dot products
    * with the two fixed-point axes (milli-quantized vector × milli
    * axes → coordinates in micro-units of the original scale). The
    * axes are model-sized driver state; the projection is one map
    * pass. The 2-D result is what feeds visualization, coarse
    * bucketing, or a first-stage ANN partition — the data-driven twin
    * of embedding_rp's 64→16 oblivious reduce. */
  private[graft] def embeddingProject2(s: SparkSession, dir: String)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    val (_, c) = embCovRows(s, dir)
    def mul(m: Array[Array[Long]], v: Array[Long]): Array[Long] =
      Array.tabulate(64) { i =>
        var acc = 0L
        var j = 0
        while (j < 64) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
    def power(m: Array[Array[Long]]): (Array[Long], Long) = {
      var v = Array.fill(64)(1000L)
      for (_ <- 1 to 3) {
        val w = mul(m, v)
        val mx = w.map(math.abs).max
        v = w.map(x => rndAway(x * 1000.0 / mx))
      }
      val w4 = mul(m, v)
      ((v, (0 until 64).map(i => v(i) * w4(i)).sum /
        (0 until 64).map(i => v(i) * v(i)).sum))
    }
    val (v1, lam1) = power(c)
    val vv = (0 until 64).map(i => v1(i) * v1(i)).sum
    val c2 = Array.tabulate(64, 64)((i, j) =>
      c(i)(j) - rndAway((lam1 * v1(i) * v1(j)).toDouble / vv.toDouble))
    val (v2, _) = power(c2)
    val a1 = v1.toSeq
    val a2 = v2.toSeq
    vecs(s, dir)
      .selectExpr("vec_id",
        "transform(v, x -> CAST(round(x * 1000) AS BIGINT)) AS q")
      .as[(Long, Seq[Long])]
      .map { case (id, q) =>
        (id,
          (0 until 64).map(i => q(i) * a1(i)).sum,
          (0 until 64).map(i => q(i) * a2(i)).sum)
      }
      .toDF("vec_id", "c1_micro", "c2_micro")
      .orderBy("vec_id")
  }
  private[graft] def embeddingRp(s: SparkSession, dir: String): DataFrame = {
    val panel = vecs(s, dir).filter(col("vec_id") < 16)
      .selectExpr("vec_id", "v", "nrm", s"$rpProjExpr AS r")
      .selectExpr("vec_id", "v", "nrm", "r", "sqrt(dot_p(r, r)) AS rn")
    val a = panel.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("r").as("ra"), col("rn").as("rna"))
    val b = panel.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("r").as("rb"), col("rn").as("rnb"))
    a.join(b, col("id_a") < col("id_b"))
      .selectExpr("id_a", "id_b",
        "dot_p(va, vb) / (na * nb) AS cos_full",
        "CASE WHEN rna * rnb = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          "ELSE dot_p(ra, rb) / (rna * rnb) END AS cos_rp")
      .orderBy("id_a", "id_b")
  }
  /** Scalar int8 quantization of the embedding column with MEASURED
    * cosine distortion — the vector-index compression step of a serving
    * pipeline (4× memory: 64 bytes + the shared per-dimension grid vs
    * 256 bytes float32; what FAISS calls SQ8).
    *
    * Quantizer: per-DIMENSION affine — q_j = round((v_j − lo_j) /
    * (hi_j − lo_j) · 255) with corpus-wide [lo_j, hi_j]; reconstruction
    * de-quantizes onto the same grid, so the whole round trip is
    * deterministic double arithmetic (identical op order in the oracle,
    * the embedding_rp convention). Distortion is reported per panel
    * pair (the embedding_rp 16-vector panel): exact cosine beside the
    * reconstructed-int8 cosine.
    *
    * Shape: ONE (dim, value) pass — posexplode keyed on the constant
    * 64-dim space with map-side combine — collapses to a single-row
    * broadcast of the [lo, hi] grids; quantize/reconstruct is a pure
    * map; the 120-pair panel join is dimension-bounded.
    *
    * Measured at sf0.01 (PipelineSpec pins with margin): mean abs
    * cosine error 0.0009, max 0.0033, correlation 0.99995 — the 4×
    * compression costs ~nothing on this corpus's geometry (unlike the
    * 64→16 random projection, where JL noise dominates: SQ8 keeps all
    * 64 dimensions and only coarsens the grid). */
  /** SQ8 de-quantized reconstruction (expects `v` plus the broadcast
    * `lo`/`hi` grid arrays in scope). */
  private[graft] val q8RecSql: String = "transform(sequence(1, 64), i -> CASE " +
    "WHEN element_at(hi, i) = element_at(lo, i) THEN element_at(lo, i) " +
    "ELSE element_at(lo, i) + round((element_at(v, i) - " +
    "element_at(lo, i)) / (element_at(hi, i) - element_at(lo, i)) " +
    "* 255) / 255.0D * (element_at(hi, i) - element_at(lo, i)) END)"
  /** One-row per-dimension [lo, hi] quantization grid. */
  private[graft] def q8Grid(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).selectExpr("posexplode(v) AS (i, x)")
      .groupBy("i").agg(min("x").as("lo"), max("x").as("hi"))
      .agg(expr("array_sort(collect_list(struct(i, lo, hi)))").as("g"))
      .selectExpr("transform(g, e -> e.lo) AS lo",
        "transform(g, e -> e.hi) AS hi")
  /** SQ8-reconstructed vectors + norms, persisted per (session, dir) —
    * shared by the distortion panel and the q8_brute recall row. */
  private[graft] def q8Vecs(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"q8vecs:$dir") {
      vecs(s, dir).crossJoin(broadcast(q8Grid(s, dir)))
        .selectExpr("vec_id", s"$q8RecSql AS r")
        .selectExpr("vec_id", "r", "sqrt(dot_p(r, r)) AS rn")
    }
  /** Per-subspace squared-L2 between two 8-dim arrays — zip_with then a
    * left fold, the op order the DuckDB twin replays exactly. */
  private[graft] val pqDist =
    "aggregate(zip_with(sv, c, (x, y) -> (x - y) * (x - y)), " +
      "CAST(0 AS DOUBLE), (a, b) -> a + b)"
  /** (vec_id, j, sv): every vector split into its M subvectors. */
  private[graft] def pqSubvectors(all: DataFrame): DataFrame =
    all.selectExpr("vec_id",
      s"explode(transform(sequence(0, ${PqM - 1}), " +
        s"j -> struct(j AS j, slice(v, j * $PqSub + 1, $PqSub) AS sv))) " +
        "AS e")
      .selectExpr("vec_id", "CAST(e.j AS BIGINT) AS j", "e.sv AS sv")
  /** Trained per-subspace codebooks (j, k, c) — k-means with the
    * ivf_trained discipline: deterministic seeds, argmin assignment
    * with ties to the lowest code, per-(subspace, code, dim)
    * FIXED-POINT member sums so both engines land on bit-identical
    * centroids; codes that lose all members drop out.
    *
    * Scale shape (both r10-verdict items): the Lloyd rounds train on
    * the [[PqTrain]]-capped scrambled-hash SAMPLE — a distributed
    * TakeOrdered (`orderBy` + `limit`, map-side partial top-K), never
    * a pass over the corpus — and the 16 seeds are the sample's
    * lowest-hash prefix, ranked on the driver from a 16-row
    * model-sized readout instead of a corpus-frame `row_number`
    * window (the r7-named scale-killer class this method previously
    * smuggled behind the ScanCache boundary). Encoding stays a
    * broadcast map pass over the full corpus in every caller. */
  private[graft] def pqCodebooks(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"pq-books:$dir") {
      val all = vecs(s, dir)
      val hashed = all.select(col("vec_id"),
        expr(s"vec_id * 2246822519L % ${P}L").as("_h"))
      val trainIds = hashed.orderBy("_h", "vec_id").limit(PqTrain)
        .select("vec_id")
      // 16-row TakeOrdered readout, ranked driver-side — no WindowExec
      val seed16 = hashed.orderBy("_h", "vec_id").limit(PqK).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (id, h) => (h, id) }
      import s.implicits._
      val seedIds = broadcast(seed16.zipWithIndex
        .map { case ((id, _), k) => (id, k.toLong) }
        .toSeq.toDF("vec_id", "k"))
      // r15: the same model-sized driver fold as [[ivfTrainedCents]] —
      // codebooks are ≤ M×K rows of 8 doubles, so each Lloyd round
      // collects the per-(subspace, code, dim) fixed-point sums and
      // feeds the next round a LITERAL broadcast codebook table instead
      // of a composed growing subtree. The training sample is persisted
      // for the loop (two references per round) and released after.
      // Sums/means/tiebreaks are arithmetic-identical to the composed
      // form (exact BIGINT sums, same double-division chain).
      val sub = pqSubvectors(all.join(broadcast(trainIds), Seq("vec_id")))
        .persist()
      var books: Seq[(Long, Long, Seq[Double])] =
        pqSubvectors(all.join(seedIds, Seq("vec_id")))
          .join(seedIds, Seq("vec_id"))
          .select(col("j"), col("k"), col("sv").as("c"))
          .collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2)))
          .sortBy(t => (t._1, t._2))
      def booksDf(bs: Seq[(Long, Long, Seq[Double])]): DataFrame =
        bs.toDF("j", "k", "c")
      for (_ <- 1 to PqIters) {
        val assign = sub.join(broadcast(booksDf(books)), Seq("j"))
          .withColumn("_d", expr(pqDist))
          .groupBy("vec_id", "j")
          .agg(max_by(col("k"), struct(-col("_d"), -col("k"))).as("k"))
        val sums = sub.join(assign, Seq("vec_id", "j"))
          .select(col("j"), col("k"), posexplode(col("sv"))
            .as(Seq("pos", "x")))
          .groupBy("j", "k", "pos")
          .agg(sum(expr(
            s"CAST(round(x * CAST($IvfScale AS DOUBLE)) AS BIGINT)"))
            .as("sx"), count(lit(1)).as("cnt"))
          .collect()
        books = sums.toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
            r.getLong(3).toDouble / r.getLong(4).toDouble /
              IvfScale.toDouble))
          .groupBy(t => (t._1, t._2)).toSeq
          .map { case ((j, k), rows) =>
            (j, k, rows.sortBy(_._3).map(_._4)) }
          .sortBy(t => (t._1, t._2))
      }
      sub.unpersist(blocking = false)
      booksDf(books)
    }
  /** PQ-reconstructed vectors + norms (decode of the 4-byte code) for
    * ONE bounded panel of ids. The codebooks stay corpus-trained
    * ([[pqCodebooks]]), but the decode is pruned to the measurement
    * panel BEFORE the assignment join — a fixed-size readout must
    * never trigger a full-corpus reconstruction at 100 TB, and a
    * cache around the full decode would have blocked Catalyst from
    * pushing the panel filter into the scan. */
  private[graft] def pqVecsFor(s: SparkSession, dir: String,
      panelMax: Int): DataFrame = {
    val sub = pqSubvectors(vecs(s, dir).filter(col("vec_id") < panelMax))
    sub.join(broadcast(pqCodebooks(s, dir)), Seq("j"))
      .withColumn("_d", expr(pqDist))
      .groupBy("vec_id", "j")
      .agg(max_by(col("c"), struct(-col("_d"), -col("k"))).as("c"))
      .groupBy("vec_id")
      .agg(expr("flatten(transform(array_sort(collect_list(" +
        "struct(j, c))), p -> p.c))").as("r"))
      .selectExpr("vec_id", "r", "sqrt(dot_p(r, r)) AS rn")
  }
  /** Product quantization with MEASURED cosine distortion — the deep
    * end of the compression ladder beside [[embeddingQ8]]: 4 bytes per
    * vector (64×) instead of SQ8's 64 bytes (4×). Same panel, same
    * readout: exact cosine vs the PQ-reconstructed cosine per pair —
    * the number an ANN serving tier trades against memory when it
    * stores codes and runs asymmetric-distance scans.
    *
    * Measured at sf0.01 (PipelineSpec pins the regime): mean abs
    * cosine error 0.108, max 0.383, corr 0.34 — the compression
    * ladder's honest far end on THIS corpus: i.i.d.-random vectors are
    * PQ's worst case (no cluster structure for the per-subspace
    * codebooks to exploit; real embedding manifolds sit far closer to
    * the SQ8 end). Between SQ8 (4×, err 0.0009) and PQ (64×,
    * err 0.108) the ladder brackets the serving design space. */
  private[graft] def embeddingPq(s: SparkSession, dir: String): DataFrame = {
    val panel = vecs(s, dir).filter(col("vec_id") < 16)
      .join(pqVecsFor(s, dir, 16), Seq("vec_id"))
    val a = panel.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("r").as("ra"), col("rn").as("rna"))
    val b = panel.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("r").as("rb"), col("rn").as("rnb"))
    a.join(b, col("id_a") < col("id_b"))
      .selectExpr("id_a", "id_b",
        "dot_p(va, vb) / (na * nb) AS cos_full",
        "CASE WHEN rna * rnb = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          "ELSE dot_p(ra, rb) / (rna * rnb) END AS cos_pq")
      .orderBy("id_a", "id_b")
  }
  private[graft] def embeddingQ8(s: SparkSession, dir: String): DataFrame = {
    val panel = vecs(s, dir).filter(col("vec_id") < 16)
      .join(q8Vecs(s, dir), Seq("vec_id"))
    val a = panel.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("r").as("ra"), col("rn").as("rna"))
    val b = panel.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"), col("r").as("rb"), col("rn").as("rnb"))
    a.join(b, col("id_a") < col("id_b"))
      .selectExpr("id_a", "id_b",
        "dot_p(va, vb) / (na * nb) AS cos_full",
        "CASE WHEN rna * rnb = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
          "ELSE dot_p(ra, rb) / (rna * rnb) END AS cos_q8")
      .orderBy("id_a", "id_b")
  }
  // ---- MinHash / SimHash / n-gram dedup --------------------------------

  /** documents → distinct-token polynomial hash sets (the MinHash input). */
  private[graft] def tokenHashSets(s: SparkSession, dir: String): DataFrame =
    registered(s, dir).selectExpr(
      "doc_id",
      "sort_array(array_distinct(transform(array_distinct(split(text, ' ')), " +
        "t -> poly_hash(t)))) AS th")
  /** Token 3-gram shingle hash sets — the MinHash input. (Unigram token
    * sets are degenerate on this corpus: the vocabulary is ~30 words, so
    * every long document's token SET converges to the full vocabulary and
    * all-pairs similarity ≈ 1. Shingles keep the space sparse, which is
    * also the realistic choice for web-scale dedup.)
    *
    * PERSISTED per (session, dir): minhash_lsh, dedup_clusters, and
    * boilerplate_ngrams (twice — df aggregation and the per-doc join
    * back) all branch off this scan. */
  private[graft] def shingleHashSets(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"shingles:$dir") {
      // spread before the per-doc tokenize/shingle expressions AND so
      // the PERSISTED set is multi-partition — a 1-partition cache pins
      // every downstream explode to one core (the vecs move)
      registered(s, dir).repartition(col("doc_id")).selectExpr("doc_id",
        "transform(split(text, ' '), t -> poly_hash(t)) AS tk")
        .selectExpr("doc_id",
          s"sort_array(array_distinct(transform(${shingleIdx("tk")}, " +
            s"i -> ((element_at(tk, cast(i AS int)) * 31 " +
            s"+ element_at(tk, cast(i + 1 AS int))) % $P * 31 " +
            s"+ element_at(tk, cast(i + 2 AS int))) % $P))) AS th")
    }
  /** MinHash + LSH banding near-dup detection over shingle sets: K=16
    * permutations (affine (2k+3)·h + 99991k + 7 mod P), 2 bands × 8 rows,
    * band-bucket join for candidates, exact Jaccard verification at
    * τ = 0.5. Candidates are deduped on bare id pairs BEFORE re-attaching
    * the hash sets — array columns never go through the distinct shuffle.
    * This is the shape that scales: no all-pairs comparison anywhere. */
  private[graft] def minhashLsh(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"minhash-pairs:$dir") {
      val th = shingleHashSets(s, dir)
      val sig = th.selectExpr("doc_id", "minhash16(th) AS sig")
      val bands = sig.selectExpr("doc_id",
        s"explode(transform(sequence(0, 1), b -> struct(b AS band, " +
          s"aggregate(slice(sig, cast(b * 8 + 1 AS int), 8), 0L, " +
          s"(a, x) -> (a * 31 + x) % $P) AS bv))) AS e")
        .selectExpr("doc_id", "e.band AS band", "e.bv AS bv")
      val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bv"))
        .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bv")),
          Seq("band", "bv"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      cand
        .join(th.select(col("doc_id").as("doc_a"), col("th").as("tha")), Seq("doc_a"))
        .join(th.select(col("doc_id").as("doc_b"), col("th").as("thb")), Seq("doc_b"))
        .withColumn("jaccard", expr("jaccard_sorted(tha, thb)"))
        .filter(col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    }.orderBy("doc_a", "doc_b")
  /** Measured MinHash-LSH recall — the dedup twin of `ann_recall`: how
    * many TRUE near-dup pairs (exact shingle Jaccard ≥ τ) does the
    * banded index actually surface? Truth shares the inverted-index
    * shape of source_overlap: distinct (doc, shingle) rows group BY
    * SHINGLE and explode only the doc pairs sharing that shingle (a
    * pair with J ≥ 0.5 always shares one), so truth is linear in
    * Σ C(df, 2), never an all-pairs join — at web scale the boilerplate
    * df-cap (exact_substring's EsDocCap move) bounds the hot shingles;
    * uncapped here where df tops out at 1.4%. The verified LSH pair set
    * rides its ScanCache entry. `expected_recall` is the banding
    * analytic E[1 − (1 − J^rows)^bands] averaged over true pairs —
    * powers computed by exact IEEE multiply chains (no libm pow) and
    * averaged in 1e-6 fixed point, so both engines agree bit-for-bit. */
  /** (doc_a, doc_b, inter): pairwise shingle-set intersection sizes from
    * the posting-list explode — r9: the pair explode COUNTS shared
    * shingles per pair inside the same map-side-combinable shuffle that
    * generates the candidates; th is a SET, so the occurrence count IS
    * |A∩B|. Linear in Σ C(df,2), never all-pairs. PERSISTED per
    * (session, dir) — r14 optimization: minhash_recall's truth side and
    * containment_pairs ran this identical aggregation twice per session
    * (guide §2.4: two operations keyed the same way share one
    * exchange — here they share the whole build). */
  private[graft] def shinglePairInter(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"shingle-inter:$dir") {
      shingleHashSets(s, dir).selectExpr("doc_id", "explode(th) AS sh")
        .groupBy("sh").agg(expr("array_sort(collect_set(doc_id))").as("ds"))
        .selectExpr("explode(flatten(transform(ds, " +
          "a -> transform(filter(ds, b -> b > a), " +
          "b -> struct(a AS doc_a, b AS doc_b))))) AS p")
        .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    }
  private[graft] def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    val th = shingleHashSets(s, dir)
    // jaccard = i/(|A|+|B|−i) from the SHARED pair-intersection build
    // ([[shinglePairInter]]); the per-pair jaccard_sorted over
    // re-attached shingle ARRAYS (two corpus-array shuffles)
    // disappeared in r9 (4.3 → 2.6 s at sf0.1)
    val sizes = th.selectExpr("doc_id", "size(th) AS n")
    val truth = shinglePairInter(s, dir)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
        Seq("doc_b"))
      .selectExpr("doc_a", "doc_b",
        "inter / CAST(na + nb - inter AS DOUBLE) AS jaccard")
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "jaccard")
    val lsh = minhashLsh(s, dir).select("doc_a", "doc_b")
      .withColumn("hit", lit(1L))
    truth.join(lsh, Seq("doc_a", "doc_b"), "left")
      .withColumn("j2", col("jaccard") * col("jaccard"))
      .withColumn("j4", col("j2") * col("j2"))
      .withColumn("j8", col("j4") * col("j4"))
      .selectExpr("coalesce(hit, 0L) AS hit",
        "CAST(round((CAST(1 AS DOUBLE) - (CAST(1 AS DOUBLE) - j8) " +
          "* (CAST(1 AS DOUBLE) - j8)) * CAST(1000000 AS DOUBLE)) " +
          "AS BIGINT) AS p_fp")
      .agg(count(lit(1)).as("n_true"), sum("hit").as("n_caught"),
        sum("p_fp").as("sp"))
      .selectExpr("n_true", "n_caught",
        "round(n_caught / CAST(n_true AS DOUBLE), 4) AS recall",
        "round(CAST(sp AS DOUBLE) / n_true / CAST(1000000 AS DOUBLE), 4) " +
          "AS expected_recall")
  }
  /** Asymmetric containment pairs — the quote/subset case symmetric
    * near-dup misses: a short document living INSIDE a long one scores
    * high containment C(A,B) = |A∩B| / min(|A|,|B|) while its Jaccard
    * stays low (the union is dominated by the long side), so a τ = 0.5
    * Jaccard dedup never sees it (Broder's containment vs resemblance
    * distinction). Reports the top-[[CtTop]] shingle-set containments
    * ordered most-Jaccard-missed first; all ratios exact ppm.
    *
    * Shape: the [[shingleHashSets]] inverted index explodes pairs per
    * shingle — linear in Σ C(df,2), never all-pairs (the minhash_recall
    * truth machinery; a production corpus runs boilerplate_ngrams'
    * heavy-shingle cap first, same argument as exact_substring's
    * EsDocCap). `th` is a SET (array_distinct), so |A∩B| is exactly the
    * number of shingles whose posting list contains both docs — the
    * pair COUNT aggregation computes every intersection in the same
    * map-side-combinable shuffle that dedupes the candidates, and the
    * per-pair array_intersect over re-attached shingle arrays
    * disappears; only the two tiny size joins touch the doc dimension
    * (2.8 → 2.0 s at sf0.1 — the residual is the Σ C(df,2) candidate
    * explosion itself, which the boilerplate cap governs). */
  private[graft] def containmentPairs(s: SparkSession, dir: String): DataFrame = {
    val th = shingleHashSets(s, dir)
    val sizes = th.selectExpr("doc_id", "CAST(size(th) AS BIGINT) AS n")
    shinglePairInter(s, dir)
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("n_a")),
        Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("n_b")),
        Seq("doc_b"))
      .selectExpr("doc_a", "doc_b", "n_a", "n_b", "inter",
        "inter * CAST(1000000 AS BIGINT) div least(n_a, n_b) AS cont_ppm",
        "inter * CAST(1000000 AS BIGINT) div (n_a + n_b - inter) " +
          "AS jac_ppm")
      .orderBy(desc("cont_ppm"), asc("jac_ppm"), asc("doc_a"),
        asc("doc_b"))
      .limit(CtTop)
  }
  /** SimHash (16-bit) signatures from token-hash sets: bit b set iff the
    * ±1 vote over member hashes is positive. */
  private[graft] def simhash(s: SparkSession, dir: String): DataFrame =
    tokenHashSets(s, dir)
      .selectExpr("doc_id", "simhash_sig(th, 16) AS simhash16")
      .orderBy("doc_id")
  /** SimHash near-dup via BANDING — the scale path the signature enables:
    * a FREQUENCY-WEIGHTED 30-bit signature (votes fold over the full
    * token list, not the distinct set — unweighted signatures converge to
    * the shared-vocabulary average and stop discriminating, measured:
    * 3.9k hamming-0 pairs unweighted vs 171 weighted on this corpus; 30
    * bits because the token poly-hashes carry ~30 bits of entropy) splits
    * into two 15-bit bands; docs sharing either band become candidates
    * (shuffle on the tiny (band, key) space), deduped as id pairs, then
    * verified by Hamming distance ≤ 1 (the Manku 64-bit/≤3 rule scaled to
    * 30 bits). Sub-quadratic the same way minhash_lsh is: only same-band
    * pairs ever meet. The 16-bit `simhash` query stays as the signature
    * oracle. */
  private[graft] def simhashNeardup(s: SparkSession, dir: String): DataFrame = {
    val sig = registered(s, dir).selectExpr("doc_id",
      "transform(split(text, ' '), t -> poly_hash(t)) AS th")
      .selectExpr("doc_id", "simhash_sig(th, 30) AS sig30")
    val bands = sig.selectExpr("doc_id", "sig30",
      "explode(array(" +
        "struct(0 AS band, sig30 & 32767L AS key), " +
        "struct(1 AS band, shiftright(sig30, 15) & 32767L AS key))) AS b")
      .select(col("doc_id"), col("sig30"), col("b.band"), col("b.key"))
    val a = bands.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("sig30").as("sa"))
    val bb = bands.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("sig30").as("sb"))
    a.join(bb, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sa", "sb").distinct()
      .selectExpr("doc_a", "doc_b",
        "CAST(bit_count(sa ^ sb) AS INT) AS hamming")
      .filter(col("hamming") <= 1)
      .orderBy("doc_a", "doc_b")
  }
  /** Token 3-gram (shingle) Jaccard within a source block: top-20 most
    * similar pairs. Blocking bounds the pair count; shingle hashes are
    * combined from the per-token fold, so no re-hash of characters. */
  private[graft] def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // shingle sets come from the SHARED persisted scan; only the source
    // block key is joined on (doc_id → source is a tiny projection)
    val sh = shingleHashSets(s, dir)
      .join(registered(s, dir).select("doc_id", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("th").as("sh"))
    val a = sh.select(col("source"), col("doc_id").as("doc_a"),
      col("sh").as("sha"))
    val b = sh.select(col("source"), col("doc_id").as("doc_b"),
      col("sh").as("shb"))
    a.join(b, Seq("source")).filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", expr("jaccard_sorted(sha, shb)"))
      .select("source", "doc_a", "doc_b", "jaccard")
      .orderBy(col("jaccard").desc, col("doc_a"), col("doc_b"))
      .limit(20)
  }
  /** LSH-bucketed approximate nearest neighbor — the scale path for
    * similarity search: 8 deterministic hyperplanes → 256 buckets →
    * within-bucket top-1 by cosine. One shuffle on the bucket key instead
    * of an all-pairs join. */
  private[graft] def annLsh(s: SparkSession, dir: String): DataFrame = {
    // 8 deterministic hyperplanes as array literals; each bit is a native
    // dot_p sign test (same accumulation order as the previous fold).
    val bucketExpr = (0 until 8).map { k =>
      val hp = (1 to 64)
        .map(d => ((k.toLong * 64 + d - 1) * 2654435761L % 1000 - 500).toDouble)
        .map(w => s"${w}D")  // D suffix: bare -500.0 parses as DECIMAL(4,1)
        .mkString("array(", ", ", ")")
      s"IF(dot_p(v, $hp) >= 0, ${1L << k}L, 0L)"
    }.mkString(" + ")
    val bucketed = vecs(s, dir).withColumn("bucket", expr(bucketExpr))
    val a = bucketed.select(col("bucket"), col("vec_id"), col("v").as("va"),
      col("nrm").as("na"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("nn_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("nn_cosine").desc, col("nn_id"))
    a.join(b, Seq("bucket")).filter(col("vec_id") =!= col("nn_id"))
      .withColumn("nn_cosine", expr(cosExpr))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("vec_id", "bucket", "nn_id", "nn_cosine")
      .orderBy("vec_id")
  }
  /** Smallest b in [8, AnnMaxBits] with 4·2^b ≥ n — expected bucket
    * population ≤ 4 at any corpus size. Pure integer compares so the
    * DuckDB oracle (a generated CASE chain) lands on the identical value
    * (a float log2 could differ by 1 ulp at exact powers of two). */
  private[graft] def annBits(n: Long): Int =
    (8 to AnnMaxBits).find(b => n <= (4L << b)).getOrElse(AnnMaxBits)
  private[graft] def planeWeight(plane: Int, d: Int): Double =
    ((plane.toLong * 64 + d - 1) * 2654435761L % 1000 - 500).toDouble
  /** Widened LSH ANN — the 100 TB-shape similarity search:
    *
    *   - bit count ADAPTS to the corpus (annBits), so expected bucket
    *     population stays ~4 and within-bucket candidate pairs grow
    *     LINEARLY with the corpus, never quadratically (the fixed 8-bit
    *     `ann_lsh` keeps its O(N²/256) buckets and remains as the simple
    *     oracle variant);
    *   - AnnTables independent hyperplane tables, unioned, recover the
    *     recall a single fine-grained table loses;
    *   - Hamming-1 multi-probe: each vector probes its own bucket plus
    *     all bits-flipped-by-one neighbors, catching near-boundary misses
    *     without extra tables;
    *   - candidate (vec_id, nn_id) pairs are DEDUPED as bare 16-byte id
    *     rows before the 64-dim vectors re-attach for scoring — the same
    *     shuffle-volume move as minhash_lsh;
    *   - the BUILD side of each bucket is capped at AnnBucketCap members
    *     (deterministic: lowest vec_ids) — embedding clusters make bucket
    *     population skewed at any bit count (measured: max bucket grew
    *     3.2× for a 4× corpus), and without a cap the hot buckets alone
    *     push total candidates superlinear. Every vector still PROBES, so
    *     nothing loses its nearest-neighbor row; dense near-dup clusters
    *     just score against their cluster's lowest-id representatives.
    */
  /** Candidate (vec_id, nn_id) pairs from the multi-table adaptive-bit
    * LSH index — the shared front half of `ann_lsh_multi` and
    * `embedding_neardup_lsh`: bucket per table, Hamming-1 multi-probe,
    * skew-capped build side, id-pair dedup before any vector re-attach. */
  private[graft] def annCandidates(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-candidates:$dir") {
    val all = vecs(s, dir)
    val bits = annBits(all.count())
    def bucketExpr(t: Int): String = (0 until bits).map { k =>
      val hp = (1 to 64).map(d => s"${planeWeight(t * AnnMaxBits + k, d)}D")
        .mkString("array(", ", ", ")")
      s"IF(dot_p(v, $hp) >= 0, ${1L << k}L, 0L)"
    }.mkString(" + ")
    val bucketed = (0 until AnnTables).map { t =>
      all.withColumn("tbl", lit(t)).withColumn("bucket", expr(bucketExpr(t)))
    }.reduce(_ unionByName _)
    val probeList = ("bucket" +: (0 until bits)
      .map(j => s"bucket ^ ${1L << j}L")).mkString(", ")
    val probes = bucketed.selectExpr("tbl", "vec_id",
      s"explode(array($probeList)) AS pk")
    val wb = Window.partitionBy("tbl", "bucket").orderBy("nn_id")
    val ids = bucketed.select(col("tbl"), col("vec_id").as("nn_id"),
      col("bucket"))
      .withColumn("br", row_number().over(wb))
      .filter(col("br") <= AnnBucketCap)
      .drop("br")
    probes
      .join(ids, probes("pk") === ids("bucket") &&
        probes("tbl") === ids("tbl") && col("vec_id") =!= col("nn_id"))
      .select("vec_id", "nn_id").distinct()
    }
  /** PERSISTED per (session, dir): the scored top-1 result feeds both the
    * `ann_lsh_multi` query and `ann_recall`. */
  private[graft] def annLshMulti(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-lsh-multi:$dir") {
      val all = vecs(s, dir)
      val cand = annCandidates(s, dir)
      val a = all.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
      val b = all.select(col("vec_id").as("nn_id"), col("v").as("vb"),
        col("nrm").as("nb"))
      // top-1 via max_by (partial-aggregating shuffle), not a sort
      // window: candidate rows combine map-side, nothing global sorts
      cand.join(a, Seq("vec_id")).join(b, Seq("nn_id"))
        .withColumn("nn_cosine", expr(cosExpr))
        .groupBy("vec_id")
        .agg(max_by(struct(col("nn_id"), col("nn_cosine")),
          struct(col("nn_cosine"), -col("nn_id"))).as("top"))
        .select(col("vec_id"), col("top.nn_id").as("nn_id"),
          col("top.nn_cosine").as("nn_cosine"))
    }.orderBy("vec_id")
  /** The bounded K-minimum-values aggregator (shared by kmv_distinct,
    * source_overlap): per-group state is at most KmvK sorted longs with
    * map-side combine — see [[graft.functions.KMinValues]]. */
  private[graft] lazy val kminAgg =
    udaf(new graft.functions.KMinValues(KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
  /** K-minimum-values distinct-count sketch — a sketch with an EXACT
    * cross-engine oracle (HLL estimates are engine-specific; KMV is a
    * pure function of the hash set): per group keep the K smallest
    * distinct hashes; estimate = (K−1)·P / h_K, exact count when the
    * group has fewer than K distinct values. The sketch build is the
    * BOUNDED [[graft.functions.KMinValues]] aggregator — K longs per
    * group at every stage including the map side, mergeable like any
    * partial aggregate, so at 100 TB no executor ever holds a group's
    * full distinct set. True distinct is computed alongside to expose
    * the estimation error. */
  private[graft] def kmvDistinct(s: SparkSession, dir: String): DataFrame =
    registered(s, dir)
      .selectExpr("source",
        // scramble the fold: raw poly hashes of SHORT tokens are small
        // (bounded by 31^len·255), nowhere near uniform in [0, P) — and
        // KMV's estimator needs uniformity (measured: 135× off unmixed)
        "explode(transform(split(text, ' '), " +
          s"t -> poly_hash(t) * 2654435761L % ${P}L)) AS h")
      .groupBy("source")
      .agg(countDistinct("h").as("true_distinct"),
        kminAgg(col("h")).as("ks"))
      .selectExpr("source", "true_distinct",
        s"CASE WHEN size(ks) < $KmvK THEN CAST(size(ks) AS DOUBLE) " +
          s"ELSE ${KmvK - 1}.0D * ${P}L " +
          s"/ greatest(element_at(ks, $KmvK), 1L) END AS kmv_estimate")
      .orderBy("source")
  /** Heavy hitters with a count-min sketch beside the exact truth — the
    * point-query companion of [[kmvDistinct]] (KMV answers "how many
    * distinct", CMS answers "how often is THIS one").
    *
    * The sketch is built from the RAW token stream: each occurrence
    * increments d=4 (row, bucket) cells, so the corpus collapses onto
    * d·w = 2048 counters with map-side combine — no vocabulary-keyed
    * shuffle, mergeable by addition across shards/batches. The exact
    * top-20 panel (one vocab-keyed count — the shuffle the sketch exists
    * to avoid at corpus scale) is kept as measured truth: each panel token's
    * estimate is the min of its d cells, `err` the overestimate. CMS
    * never underestimates (est ≥ n by construction, spec-pinned); with
    * ~58k occurrences over 2048 cells the expected collision mass per
    * cell is ~n_tot/w per row, and the min over 4 independent rows
    * drives the observed error to ≈0 on heavy tokens.
    *
    * The oracle builds the same cells from the per-token counts (cell
    * count = Σ n over tokens landing there — the same sum by
    * associativity), which keeps the SQL linear in the vocabulary. */
  private[graft] def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    val toks = registered(s, dir)
      .selectExpr("explode(split(text, ' ')) AS tok")
    val cells = CmsMul.zipWithIndex.map { case (m, i) =>
      s"named_struct('r', ${i}L, " +
        s"'b', poly_hash(tok) % ${P}L * ${m}L % ${P}L % $CmsW)" }
    val sketch = toks
      .selectExpr(s"explode(array(${cells.mkString(", ")})) AS cell")
      .groupBy(col("cell.r").as("r"), col("cell.b").as("b"))
      .agg(count(lit(1)).as("c"))
    val mulArr = s"array(${CmsMul.map(m => s"${m}L").mkString(", ")})"
    val probes = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("tok")).limit(20)
      .selectExpr("tok", "n", "poly_hash(tok) % " + P + "L AS h",
        s"explode(sequence(0L, ${CmsD - 1}L)) AS r")
      .selectExpr("tok", "n", "r",
        s"h * element_at($mulArr, CAST(r + 1 AS INT)) % ${P}L % $CmsW AS b")
    probes.join(broadcast(sketch), Seq("r", "b"))
      .groupBy("tok", "n").agg(min("c").as("cms_est"))
      .selectExpr("tok", "n", "cms_est", "cms_est - n AS err")
      .orderBy(desc("n"), asc("tok"))
  }
  /** Bloom membership pre-filter for incremental dedup — the third
    * sketch in the family (KMV: how many distinct; CMS: how often is
    * this one; Bloom: might THIS key already exist?), applying
    * [[graft.operators.BloomPrune]]'s bitset to the dedup problem.
    * Docs split into an existing corpus (doc_id % 10 < 8) and an
    * incoming batch (doc_id % 10 ≥ 6 — the {6,7} overlap guarantees
    * real duplicates); the corpus's content fingerprints build one
    * bitset PER GEOMETRY through the BOUNDED
    * [[graft.functions.BloomBits]] typed Aggregator (m/64 longs per
    * state at every stage incl. the map side, merge = OR — at 100 TB
    * the corpus collapses map-side onto a single 1-row array with no
    * fingerprint shuffle), and every incoming doc probes its k = 4
    * bit positions against the BROADCAST bitsets — pure codegen'd
    * bit arithmetic, no UDF. The exact fingerprint join (what the
    * filter exists to avoid at scale) is kept as measured truth, so
    * the panel reads like a sizing meeting: the undersized 1024-bit
    * row shows real measured false positives (saturating as the
    * corpus grows), the 8 KiB row stays clean, and the
    * no-false-negative guarantee is pinned IN the gate (`false_neg`
    * must hash-compare as 0 on BOTH rows). The oracle mirrors each
    * bitset as its distinct position set — identical membership
    * semantics by construction. */
  private[graft] def bloomDedup(s: SparkSession, dir: String): DataFrame = {
    // persisted per session: referenced three times below (corpus
    // bitset build, exact-truth distinct, incoming probe) — without
    // the cache each reference re-runs the full-text poly_hash pass
    val fp = ScanCache.get(s, s"bloom-fp:$dir") {
      registered(s, dir).selectExpr(
        "doc_id", "source",
        s"poly_hash(text) * 2654435761L % ${P}L AS h",
        "doc_id % 10 < 8 AS in_corpus",
        "doc_id % 10 >= 6 AS incoming")
    }
    val aggs = BloomMs.map { m =>
      udaf(new graft.functions.BloomBits(m, CmsMul, P),
        org.apache.spark.sql.Encoders.scalaLong)(col("h"))
        .as(s"bits_$m")
    }
    val bits = fp.where("in_corpus").agg(aggs.head, aggs.tail: _*)
    val corpusFp = fp.where("in_corpus").select("h").distinct()
      .withColumn("dup", lit(1L))
    def probe(m: Int): String = CmsMul.map { mu =>
      val e = s"h * ${mu}L % ${P}L % $m"
      s"(shiftright(element_at(bits_$m, CAST($e / 64 AS INT) + 1), " +
        s"CAST($e % 64 AS INT)) & 1L) = 1L"
    }.mkString(" AND ")
    val probed = fp.where("incoming")
      .crossJoin(broadcast(bits)) // 1-row bitsets ride every probe
      .join(corpusFp, Seq("h"), "left")
      .na.fill(0L, Seq("dup"))
    val panels = BloomMs.map { m =>
      probed
        .withColumn("bloom_hit", expr(probe(m)))
        .groupBy("source")
        .agg(count(lit(1)).as("n_in"),
          sum("dup").as("true_dup"),
          sum(expr("CAST(bloom_hit AS BIGINT)")).as("bloom_pos"),
          sum(expr("CASE WHEN bloom_hit AND dup = 0 THEN 1L ELSE 0L END"))
            .as("false_pos"),
          sum(expr(
            "CASE WHEN NOT bloom_hit AND dup = 1 THEN 1L ELSE 0L END"))
            .as("false_neg"))
        .selectExpr("source", s"${m}L AS m_bits", "n_in", "true_dup",
          "bloom_pos", "false_pos", "false_neg",
          "false_pos * 1000000L DIV greatest(n_in - true_dup, 1L)" +
            " AS fp_ppm")
    }
    panels.reduce(_.unionAll(_)).orderBy("m_bits", "source")
  }
  /** Smallest power-of-two cell count ≥ 16 with expected bucket ≤
    * IvfBucketTarget; the oracle computes the identical ladder in SQL
    * ([[ivfCellsCase]]). */
  def ivfCellsFor(n: Long): Int =
    (0 to 8).map(IvfCells << _)
      .find(c => n <= c * IvfBucketTarget).getOrElse(IvfMaxCells)
  /** IVF-style ANN — the third similarity-search family (brute force /
    * LSH / inverted-file): a deterministic coarse quantizer (the first
    * IvfCells vectors stand in for trained centroids — k-means is a
    * refinement, not a structural change) assigns every vector to its
    * IvfPost best cells by cosine; a query probes its IvfProbes best
    * cells and scores only the vectors POSTED to those cells. The
    * posting-list join is the scale shape: assignment is one broadcast
    * N×K pass, and search touches probes/cells of the corpus instead of
    * all of it. */
  private[graft] def annIvf(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-ivf:$dir") {
      val all = vecs(s, dir)
      ivfSearch(all, seedCents(all))
    }.orderBy("vec_id")
  /** Deterministic first-K seed centroids, K from the [[ivfCellsFor]]
    * ladder — computed LAZILY as a broadcast single-row count joined
    * into the filter (the bigram_lm vocab move), so building the
    * DataFrame runs no corpus job for explain-only callers; the SQL
    * twin is [[ivfPrmCte]]'s CASE over count(*). */
  private[graft] def seedCents(all: DataFrame): DataFrame =
    all.crossJoin(broadcast(all.agg(count(lit(1)).as("cnt"))))
      .filter(expr(s"vec_id < ($ivfCellsCase)"))
      .select(col("vec_id").as("cell"), col("v").as("cv"),
        col("nrm").as("cn"))
  /** The IVF search half, parameterized by the centroid set: assign ranks
    * (one broadcast N×K pass), post to IvfPost cells, probe IvfProbes
    * cells, score only co-posted vectors, top-1 via max_by. */
  private[graft] def ivfSearch(all: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("_cs").desc, col("cell"))
    // rank over BARE (vec_id, cell, score) rows — the 64-dim payload
    // stays out of the rank shuffle and re-attaches by id afterwards
    // (the same shuffle-volume move as the LSH candidate front)
    val ranked = all.join(broadcast(cents))
      .withColumn("_cs", expr("dot_p(v, cv) / (nrm * cn)"))
      .select("vec_id", "cell", "_cs")
      .withColumn("rk", row_number().over(w))
    val posted = ranked.filter(col("rk") <= IvfPost)
      .select(col("cell"), col("vec_id").as("nn_id"))
    val probes = ranked.filter(col("rk") <= IvfProbes)
      .select("cell", "vec_id")
    val a = all.select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val b = all.select(col("vec_id").as("nn_id"), col("v").as("vb"),
      col("nrm").as("nb"))
    probes.join(posted, Seq("cell"))
      .filter(col("vec_id") =!= col("nn_id"))
      .join(a, Seq("vec_id")).join(b, Seq("nn_id"))
      .withColumn("nn_cosine", expr(cosExpr))
      .groupBy("vec_id")
      .agg(max_by(struct(col("nn_id"), col("nn_cosine")),
        struct(col("nn_cosine"), -col("nn_id"))).as("top"))
      .select(col("vec_id"), col("top.nn_id").as("nn_id"),
        col("top.nn_cosine").as("nn_cosine"))
  }
  /** Trained coarse quantizer: k-means from the deterministic first-K
    * seed, IvfIters Lloyd rounds. Assignment is the same broadcast N×K
    * cosine pass as search; the update step computes per-cell
    * per-dimension FIXED-POINT sums (posexplode → one shuffle on
    * (cell, dim) ≤ K·64 groups) and reassembles the mean vector ordered
    * by dimension. Cells that lose all members drop out (both engines
    * agree deterministically). At 100 TB one trains on a hash-sample of
    * the corpus — the iteration shape is unchanged, only `all` shrinks. */
  private[graft] def ivfTrainedCents(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ivf-trained-cents:$dir") {
      val spark = s
      import spark.implicits._
      val all = vecs(s, dir)
      // r15: Lloyd state is MODEL-SIZED (≤ IvfMaxCells × 64 doubles), so
      // each round COLLECTS the per-(cell, dim) fixed-point sums — a
      // bounded control-plane read, the MLlib-KMeans / PQ-seeding
      // discipline — and feeds the next round a LITERAL broadcast
      // centroid table. Plan depth stays constant in IvfIters: the
      // previous composed form inlined every earlier round's update
      // subtree into round r's assignment, re-optimizing/re-codegen'ing
      // a growing tree per round (~7 s of first-touch at sf0.1 for two
      // rounds over 2000 vectors — almost all fixed per-stage overhead).
      // Arithmetic unchanged and bit-identical: member sums stay exact
      // BIGINTs computed distributed with map-side combine, the mean is
      // the same double-division chain, and cn is the same
      // sqrt(dot_p(cv, cv)) expression evaluated over identical values.
      var cents: Seq[(Long, Seq[Double])] = {
        val k = ivfCellsFor(all.count())
        all.filter(col("vec_id") < k).select("vec_id", "v")
          .collect().toSeq
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
          .sortBy(_._1)
      }
      def centsDf(cs: Seq[(Long, Seq[Double])]): DataFrame =
        cs.toDF("cell", "cv").withColumn("cn", expr("sqrt(dot_p(cv, cv))"))
      for (_ <- 1 to IvfIters) {
        val sums = all.join(assignCells(all, centsDf(cents)), Seq("vec_id"))
          .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("cell", "pos")
          .agg(sum(expr(s"CAST(round(x * CAST($IvfScale AS DOUBLE)) AS BIGINT)"))
            .as("sx"), count(lit(1)).as("cnt"))
          .collect()
        // same value as the former SQL fold: CAST(sx AS DOUBLE) / cnt
        // / CAST(scale AS DOUBLE), dims assembled in pos order; cells
        // that lose all members drop out of the groupBy either way
        cents = sums.toSeq
          .map(r => (r.getLong(0), r.getInt(1),
            r.getLong(2).toDouble / r.getLong(3).toDouble /
              IvfScale.toDouble))
          .groupBy(_._1).toSeq
          .map { case (cell, rows) =>
            (cell, rows.sortBy(_._2).map(_._3)) }
          .sortBy(_._1)
      }
      centsDf(cents)
    }
  /** Nearest-cell assignment: one broadcast N×K scoring pass, ties to
    * the LOWEST cell — the single source of the max_by tiebreak that the
    * Lloyd loop, semdedup and both SQL twins must mirror exactly. */
  private[graft] def assignCells(all: DataFrame, cents: DataFrame): DataFrame =
    all.join(broadcast(cents))
      .withColumn("_cs", expr("dot_p(v, cv) / (nrm * cn)"))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("_cs"), -col("cell"))).as("cell"))
  /** IVF with the TRAINED quantizer — same search, better cells; recall
    * lift is measured by `ann_recall` (ivf_trained row). */
  private[graft] def annIvfTrained(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-ivf-trained:$dir") {
      ivfSearch(vecs(s, dir), ivfTrainedCents(s, dir))
    }.orderBy("vec_id")
  /** IVF-PQ — the FAISS "IVFADC" serving shape, composing the two
    * halves this library already measures separately: the TRAINED
    * coarse quantizer prunes candidates to the probed cells
    * ([[ivfTrainedCents]], the ann_ivf_trained machinery), and the
    * candidates are scored by PQ ASYMMETRIC distance over their
    * 4-byte codes ([[pqCodebooks]], the pq_adc machinery) instead of
    * exact cosine. This is THE 100 TB ANN architecture: raw vectors
    * never enter the scan — the cell index bounds the candidate set,
    * the codes bound memory (4 B/vector), and the per-query distance
    * table (M×K = 128 doubles) turns each candidate into M lookups.
    * Recall vs the exact truth is measured by `ann_recall` (ivfpq
    * row); this query emits the served top-1 with its ADC score.
    *
    * Plan shape: one broadcast N×K rank pass (bounded by the cell
    * ladder), candidate join keyed on cell, a (query, j, k)-keyed
    * equi-join against the LUT, and j-ordered folds so both engines
    * accumulate identically. */
  private[graft] def annIvfPq(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-ivfpq:$dir") {
      val all = vecs(s, dir)
      val w = Window.partitionBy("vec_id")
        .orderBy(col("_cs").desc, col("cell"))
      val ranked = all.join(broadcast(ivfTrainedCents(s, dir)))
        .withColumn("_cs", expr("dot_p(v, cv) / (nrm * cn)"))
        .select("vec_id", "cell", "_cs")
        .withColumn("rk", row_number().over(w))
      val posted = ranked.filter(col("rk") <= IvfPost)
        .select(col("cell"), col("vec_id").as("nn_id"))
      val probes = ranked.filter(col("rk") <= IvfProbes)
        .select("cell", "vec_id")
      val cand = probes.join(posted, Seq("cell"))
        .filter(col("vec_id") =!= col("nn_id"))
        .select("vec_id", "nn_id")
      val books = pqCodebooks(s, dir)
      val codes = pqCodes(s, dir)
      val lut = pqSubvectors(all)
        .select(col("vec_id").as("qid"), col("j"), col("sv"))
        .join(broadcast(books), Seq("j"))
        .selectExpr("qid", "j AS lj", "k AS lk", "dot_p(sv, c) AS qd",
          "dot_p(c, c) AS cn2")
      val qn = all.select(col("vec_id").as("qid"), col("nrm").as("qn"))
      cand.join(codes, Seq("nn_id"))
        .join(lut, col("vec_id") === col("qid") &&
          col("j") === col("lj") && col("k") === col("lk"))
        .groupBy("vec_id", "nn_id")
        .agg(
          expr("aggregate(array_sort(collect_list(struct(j, qd))), " +
            "CAST(0 AS DOUBLE), (s, p) -> s + p.qd)").as("ip"),
          expr("aggregate(array_sort(collect_list(struct(j, cn2))), " +
            "CAST(0 AS DOUBLE), (s, p) -> s + p.cn2)").as("rn2"))
        .join(qn, col("vec_id") === col("qid"))
        .withColumn("nn_adc",
          expr("CASE WHEN rn2 <= CAST(0 AS DOUBLE) " +
            "OR qn = CAST(0 AS DOUBLE) THEN CAST(0 AS DOUBLE) " +
            "ELSE ip / (qn * sqrt(rn2)) END"))
        .groupBy("vec_id")
        .agg(max_by(struct(col("nn_id"), col("nn_adc")),
          struct(col("nn_adc"), -col("nn_id"))).as("top"))
        .select(col("vec_id"), col("top.nn_id").as("nn_id"),
          col("top.nn_adc").as("nn_adc"))
    }.orderBy("vec_id")
  /** Embedding near-duplicate pairs, LSH-BUCKETED — the 100 TB scale path
    * for `embedding_neardup` (which stays a deliberately-quadratic
    * oracle-only baseline): candidates come from the shared multi-table
    * index ([[annCandidates]] — linear in the corpus), then the exact
    * cosine verifies at the same τ = 0.3. Found pairs are exact (the
    * verify step guarantees no false positives); coverage against the
    * exact baseline is asserted in PipelineSpec rather than prose. */
  private[graft] def embeddingNeardupLsh(s: SparkSession, dir: String): DataFrame = {
    val all = vecs(s, dir)
    val pairs = annCandidates(s, dir)
      .filter(col("vec_id") < col("nn_id"))
      .select(col("vec_id").as("id_a"), col("nn_id").as("id_b"))
    val a = all.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = all.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("cosine", expr(cosExpr))
      .filter(col("cosine") >= 0.3)
      .select("id_a", "id_b", "cosine")
      .orderBy("id_a", "id_b")
  }
  /** Measured ANN quality: recall@1 of each approximate index
    * (`ann_lsh_multi`, `ann_ivf`) against the brute-force nearest
    * neighbor of each of the [[RecallQueries]] panel queries — the
    * number the prose claims, computed and oracle-checked instead of
    * asserted. A LEFT join keeps panel queries the index returned no
    * candidate for (they count as misses), so the recall cannot be
    * flattered by dropped queries.
    *
    * Measured at sf0.01 over the scrambled-hash 128-query panel: ivf
    * 0.758 (the IvfPost/IvfProbes levers), ivf_trained 0.867 (two Lloyd
    * rounds on the same post/probe budget),
    * lsh_multi 0.242. The LSH number is the corpus, not a bug: the mean
    * true-NN cosine is 0.37 (68°) and NO query has a neighbor above 0.6,
    * so per-bit sign-collision probability is 1−θ/π ≈ 0.62 and the
    * 2-table Hamming-1 index analytically lands at ≈0.25 — raising it
    * means scanning the corpus (4 tables + Hamming-2 probing measured
    * 0.646 while touching 38% of all vectors). Sign-LSH earns its keep in
    * the near-duplicate regime (cosine ≳ 0.9) that this synthetic table
    * deliberately lacks; IVF, which partitions by region instead of by
    * angle-collision, is the right index for mid-similarity corpora —
    * exactly what the measured split shows. */
  /** Exact brute-force top-1 truth over the scrambled-hash panel —
    * (vec_id, true_nn). PERSISTED per (session, dir) — r15: ann_recall
    * previously re-derived this identical panel×corpus scoring subtree
    * once per method row (7× per run) and knn_label_acc once more
    * (guide §2.4 — two operations keyed the same way share one build). */
  private[graft] def annTruth(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-truth:$dir") {
      val all = vecs(s, dir)
      val panel = all
        .select(col("vec_id"), expr(s"vec_id * 2654435761L % ${P}L").as("_h"))
        .orderBy("_h", "vec_id").limit(RecallQueries)
        .select("vec_id")
      val a = all.join(broadcast(panel), Seq("vec_id"))
        .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
      val b = all.select(col("vec_id").as("nn_id"), col("v").as("vb"),
        col("nrm").as("nb"))
      broadcast(a).join(b, col("vec_id") =!= col("nn_id"))
        .withColumn("c", expr(cosExpr))
        .groupBy("vec_id")
        .agg(max_by(col("nn_id"), struct(col("c"), -col("nn_id")))
          .as("true_nn"))
    }
  private[graft] def annRecall(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // r15 shape: ONE tagged union + ONE aggregation instead of seven
    // independent join+agg subtrees (each with its own exchanges and
    // its own recomputation of the truth scan) — the per-method result
    // tables and the truth are persisted ScanCache leaves, so the
    // steady-state run is a small broadcast join over model-sized rows.
    // Semantics unchanged: per method, count(*) over the 128 truth rows
    // (LEFT join keeps queries the index returned no candidate for)
    // and hits where the method's top-1 equals the true NN.
    val truth = annTruth(s, dir)
    // The method names come from this one list, so the tagged union
    // and the method panel cannot drift apart.
    val results = Seq(
      "lsh_multi" -> annLshMulti(s, dir),
      "ivf" -> annIvf(s, dir),
      "ivf_trained" -> annIvfTrained(s, dir),
      "rp_brute" -> annRpBrute(s, dir),
      "q8_brute" -> annQ8Brute(s, dir),
      "pq_adc" -> annPqAdc(s, dir),
      "ivfpq" -> annIvfPq(s, dir))
    val tagged = results
      .map { case (m, res) => res.select(lit(m).as("method"),
        col("vec_id"), col("nn_id")) }
      .reduce(_ unionByName _)
    val methods = results.map(_._1).toDF("method")
    truth.crossJoin(broadcast(methods))
      .join(tagged, Seq("method", "vec_id"), "left")
      .groupBy("method")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("nn_id") === col("true_nn"), 1L).otherwise(0L))
          .as("n_hits"))
      .select(col("method"), col("n_queries"), col("n_hits"),
        (col("n_hits") / col("n_queries")).as("recall_at_1"))
      .orderBy("method")
  }
  /** Measured recall ladder for the embedding NEAR-DUP index — the
    * `ann_recall` measurement applied to [[embeddingNeardupLsh]]'s
    * coverage question (image_neardup_recall's twin, so the
    * similarity family's recall story is uniform): over the
    * [[RecallQueries]] scrambled-hash panel, the exact-verify truth is
    * every (panel, corpus) pair with cosine ≥ τ, and the index's catch
    * is the [[annCandidates]] candidate set, measured at each τ of
    * [[NeardupTauPcts]]. LEFT joins both ways: uncaught truth pairs
    * count as misses and a τ with an empty truth set still emits its
    * row (recall 0/0 → 0.0 deterministically).
    *
    * 100 TB shape: truth is panel-bounded (128 × N broadcast probe,
    * the ann_recall move — never all-pairs); the τ ladder is a 3-row
    * dimension broadcast. */
  private[graft] def embeddingNeardupRecall(s: SparkSession, dir: String)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    val all = vecs(s, dir)
    val panel = all
      .select(col("vec_id"), expr(s"vec_id * 2654435761L % ${P}L").as("_h"))
      .orderBy("_h", "vec_id").limit(RecallQueries)
      .select("vec_id")
    val a = all.join(broadcast(panel), Seq("vec_id"))
      .select(col("vec_id"), col("v").as("va"), col("nrm").as("na"))
    val b = all.select(col("vec_id").as("nn_id"), col("v").as("vb"),
      col("nrm").as("nb"))
    val truth = broadcast(a).join(b, col("vec_id") =!= col("nn_id"))
      .withColumn("cosine", expr(cosExpr))
      .filter(col("cosine") >= lit(NeardupTauPcts.min) / 100.0)
      .select("vec_id", "nn_id", "cosine")
    val caught = annCandidates(s, dir).withColumn("hit", lit(1L))
    val j = truth.join(caught, Seq("vec_id", "nn_id"), "left")
      .select(col("cosine"), coalesce(col("hit"), lit(0L)).as("hit"))
    val taus = NeardupTauPcts.toDF("tau_pct")
    broadcast(taus)
      .join(j, j("cosine") >= taus("tau_pct") / 100.0, "left")
      .groupBy("tau_pct")
      .agg(count(col("cosine")).as("n_true"), sum("hit").as("n_caught"))
      .selectExpr("tau_pct", "n_true",
        "coalesce(n_caught, CAST(0 AS BIGINT)) AS n_caught",
        "round(coalesce(n_caught, CAST(0 AS BIGINT)) " +
          "/ CAST(greatest(n_true, 1) AS DOUBLE), 4) AS recall")
      .orderBy("tau_pct")
  }
  /** Brute-force top-1 in the SQ8-reconstructed space over the same
    * panel — what serving from the 4×-compressed index costs in recall
    * (the rp_brute measurement applied to [[embeddingQ8]]'s quantizer;
    * with mean cosine distortion ~1e-3 the cost is near zero —
    * MEASURED recall@1 0.984 at sf0.01, topping the fidelity ladder
    * ann_recall now reports in full: q8 0.984 ≫ ivf_trained 0.867 >
    * ivf 0.758 ≫ lsh 0.242 ≫ rp 0.031). */
  private[graft] def annQ8Brute(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-q8-brute:$dir") {
    val all = q8Vecs(s, dir)
    val panel = all
      .select(col("vec_id"), expr(s"vec_id * 2654435761L % ${P}L").as("_h"))
      .orderBy("_h", "vec_id").limit(RecallQueries)
      .select("vec_id")
    val a = all.join(broadcast(panel), Seq("vec_id"))
      .select(col("vec_id"), col("r").as("ra"), col("rn").as("rna"))
    val b = all.select(col("vec_id").as("nn_id"), col("r").as("rb"),
      col("rn").as("rnb"))
    broadcast(a).join(b, col("vec_id") =!= col("nn_id"))
      .withColumn("c",
        expr("CASE WHEN rna * rnb = CAST(0 AS DOUBLE) " +
          "THEN CAST(0 AS DOUBLE) ELSE dot_p(ra, rb) / (rna * rnb) END"))
      .groupBy("vec_id")
      .agg(max_by(col("nn_id"), struct(col("c"), -col("nn_id")))
        .as("nn_id"))
    }
  /** Brute-force top-1 by PQ ASYMMETRIC distance (ADC) over the same
    * panel — how a serving tier actually scans PQ codes: the query
    * stays full-precision, each subspace's dot products against all
    * [[PqK]] centroids are tabulated ONCE per query (an M×K lookup
    * table, 128 doubles), and scoring a corpus vector is M table
    * lookups summed — no reconstruction. Completes the compression
    * ladder's recall story beside `q8_brute` (distortion alone only
    * implied PQ's recall). Approximate cosine = ADC inner product
    * / (‖q‖ · ‖reconstruction‖), where the reconstructed norm is
    * exact from centroid energies (subspaces are disjoint
    * coordinates, so ‖r‖² = Σ_j ‖c_{j,code_j}‖²).
    *
    * 100 TB shape: codes are the serving index (4 B/vector); the LUT
    * is panel×M×K (tiny, broadcast); the scan is one map-side join +
    * a (query, vector) partial-aggregable groupBy — linear in the
    * corpus like any ADC scan, never a reconstruction. Folds are
    * j-ordered so both engines accumulate identically. */
  /** The PQ SERVING INDEX — 1 code per (vector, subspace), the 4 B/vec
    * artifact an ADC scan reads. Built once per (session, dir) and
    * shared by [[annPqAdc]] and [[annIvfPq]], which previously each
    * re-ran the corpus-wide encode (the round-11 bench's largest
    * remaining first-touch). */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"pq-codes:$dir") {
      pqSubvectors(vecs(s, dir))
        .join(broadcast(pqCodebooks(s, dir)), Seq("j"))
        .withColumn("_d", expr(pqDist))
        .groupBy("vec_id", "j")
        .agg(max_by(col("k"), struct(-col("_d"), -col("k"))).as("k"))
        .select(col("vec_id").as("nn_id"), col("j"), col("k"))
    }
  private[graft] def annPqAdc(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-pq-adc:$dir") {
    val spark = s
    import spark.implicits._
    val all = vecs(s, dir)
    val panel = all
      .select(col("vec_id"), expr(s"vec_id * 2654435761L % ${P}L").as("_h"))
      .orderBy("_h", "vec_id").limit(RecallQueries)
      .select("vec_id")
    val books = pqCodebooks(s, dir)
    // r15 shape: the per-query LUT is panel×M×K — MODEL-SIZED (≤ 16k
    // rows), so it collects once (the dot products still computed by
    // Spark's dot_p, value-identical) and ships as per-query k-complete
    // M×K matrices; each corpus vector carries its j-ordered CODE ARRAY.
    // Scoring is then one codegen'd chain of M indexed lookups per
    // (query, vector) row — the previous form shuffled codes ⋈ (j,k)-LUT
    // into an 8×-exploded sort-aggregate (collect_list + interpreted
    // fold per pair). The fold order is preserved exactly: the old
    // sorted list was the 8 j-ascending (qd, cn2) values, and the chain
    // below adds the identical doubles left-to-right from 0.0.
    val lutRows = pqSubvectors(all.join(broadcast(panel), Seq("vec_id")))
      .select(col("vec_id").as("qid"), col("j"), col("sv"))
      .join(broadcast(books), Seq("j"))
      .selectExpr("qid", "j", "k", "dot_p(sv, c) AS qd",
        "dot_p(c, c) AS cn2")
      .collect()
    val lutSeq = lutRows.groupBy(_.getLong(0)).toSeq.map {
      case (qid, rows) =>
        // dropped codebook entries keep the 0.0 placeholder — codes
        // only ever reference surviving (j, k), so it is never read
        val qda = Array.fill(PqM, PqK)(0.0)
        val c2a = Array.fill(PqM, PqK)(0.0)
        rows.foreach { r =>
          val j = r.getLong(1).toInt
          val k = r.getLong(2).toInt
          qda(j)(k) = r.getDouble(3)
          c2a(j)(k) = r.getDouble(4)
        }
        (qid, qda.map(_.toSeq).toSeq, c2a.map(_.toSeq).toSeq)
    }.sortBy(_._1)
    val lutArr = broadcast(lutSeq.toDF("qid", "qda", "c2a"))
    // the serving index, reshaped to one j-ordered code array per vector
    val codeArr = pqCodes(s, dir).groupBy("nn_id")
      .agg(expr("transform(array_sort(collect_list(struct(j, k))), " +
        "p -> p.k)").as("ca"))
    def chain(m: String): String = (0 until PqM).map(j =>
      s"element_at(element_at($m, ${j + 1}), " +
        s"CAST(element_at(ca, ${j + 1}) AS INT) + 1)")
      .foldLeft("CAST(0 AS DOUBLE)")((acc, t) => s"($acc + $t)")
    val qn = all.join(broadcast(panel), Seq("vec_id"))
      .select(col("vec_id").as("qid"), col("nrm").as("qn"))
    codeArr.crossJoin(lutArr)
      .filter(col("nn_id") =!= col("qid"))
      .withColumn("ip", expr(chain("qda")))
      .withColumn("rn2", expr(chain("c2a")))
      .join(broadcast(qn), Seq("qid"))
      .withColumn("c",
        expr("CASE WHEN rn2 <= CAST(0 AS DOUBLE) OR qn = CAST(0 AS DOUBLE) " +
          "THEN CAST(0 AS DOUBLE) ELSE ip / (qn * sqrt(rn2)) END"))
      .groupBy(col("qid").as("vec_id"))
      .agg(max_by(col("nn_id"), struct(col("c"), -col("nn_id")))
        .as("nn_id"))
    }
  /** 1-NN label accuracy over the embedding space — the intrinsic
    * quality eval an embedding pipeline runs against labeled data (here
    * the table's ground-truth `label` column): for each of the 128
    * scrambled-panel queries, does the exact nearest neighbor carry the
    * same label? Reported per true label with exact-ppm accuracy, so
    * class-level structure (or its absence) is visible, not averaged
    * away.
    *
    * Shape: the ann_recall truth machinery — the 128-query panel
    * broadcasts against the corpus (bounded-dim N×128 scoring, bare
    * triples into the rank shuffle), argmax by (cos, −id) is
    * deterministic; labels join on the tiny panel and NN ids.
    *
    * Measured at sf0.01: overall ≈ 0.10 — chance for 10 balanced
    * labels, correctly read: the synthetic embeddings are drawn
    * label-independently (the lang_confusion situation — the eval
    * measures the data, and on this corpus the truth is "no label
    * geometry exists"). */
  private[graft] def knnLabelAcc(s: SparkSession, dir: String): DataFrame = {
    val labels = registeredVecs(s, dir).select(col("vec_id"),
      col("label").cast("long").as("label"))
    // the exact-NN truth is the SHARED persisted [[annTruth]] build
    // (r15): previously this query re-ran the identical panel×corpus
    // brute-force scoring pass ann_recall already pays for
    val truth = annTruth(s, dir)
    // the label table is corpus-sized — the 128-row truth side carries
    // the broadcast hint, twice (query label, then NN label)
    val withQ = labels.join(broadcast(truth), Seq("vec_id"))
    labels.select(col("vec_id").as("true_nn"),
        col("label").as("nn_label"))
      .join(broadcast(withQ), Seq("true_nn"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_q"),
        sum(when(col("nn_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .selectExpr("label", "n_q", "n_correct",
        "n_correct * CAST(1000000 AS BIGINT) div n_q AS acc_ppm")
      .orderBy("label")
  }
  /** Brute-force top-1 search in the REDUCED (RpDim-dim) space over the
    * same panel — not a new index, a measurement: what the 4× cheaper
    * per-candidate scoring arithmetic of [[embeddingRp]]'s projection
    * costs in recall when it replaces the full 64-dim cosine. Feeds
    * `ann_recall` as the `rp_brute` method row.
    *
    * Measured: recall@1 0.031 at sf0.01 — 150× chance (1/4999) yet far
    * below the index methods, and exactly what the distortion analytic
    * predicts: winning top-1 needs the true NN's cosine MARGIN over the
    * runner-up to exceed the JL noise, and this corpus's margins
    * (~0.01–0.05 on near-orthogonal vectors) sit far inside the ~0.3
    * noise std at K=16. The honest conclusion, measured rather than
    * asserted: RP at this budget is a pre-filter/bucketing device
    * (candidate generation, where its 150× lift over chance is the
    * relevant number), not a scoring replacement — rank candidates in
    * the full space, as embedding_neardup_lsh's verify step does. */
  private[graft] def annRpBrute(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"ann-rp-brute:$dir") {
    val all = rpVecs(s, dir)
    val panel = all
      .select(col("vec_id"), expr(s"vec_id * 2654435761L % ${P}L").as("_h"))
      .orderBy("_h", "vec_id").limit(RecallQueries)
      .select("vec_id")
    val a = all.join(broadcast(panel), Seq("vec_id"))
      .select(col("vec_id"), col("r").as("ra"), col("rn").as("rna"))
    val b = all.select(col("vec_id").as("nn_id"), col("r").as("rb"),
      col("rn").as("rnb"))
    broadcast(a).join(b, col("vec_id") =!= col("nn_id"))
      .withColumn("c",
        expr("CASE WHEN rna * rnb = CAST(0 AS DOUBLE) " +
          "THEN CAST(0 AS DOUBLE) ELSE dot_p(ra, rb) / (rna * rnb) END"))
      .groupBy("vec_id")
      .agg(max_by(col("nn_id"), struct(col("c"), -col("nn_id")))
        .as("nn_id"))
    }
  /** tensor_source_read / zarr_read shared oracle: the per-vector
    * quantized facts straight off the embeddings table. */
  private[graft] def embVectorOracleSql: String =
    """WITH q AS (
      |  SELECT vec_id, label, len(embedding) AS dim,
      |    CAST(coalesce(list_sum(list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))),
      |      0) AS BIGINT) AS s
      |  FROM embeddings)
      |SELECT vec_id, CAST(dim AS INT) AS dim, s AS emb_q,
      |  CAST(label AS INT) AS label
      |FROM q ORDER BY vec_id""".stripMargin
  /** Shared oracle CTE block for the PCA family: milli-quantized
    * embedding entries (the Spark-side `round(x·1000)` convention),
    * per-dimension sums, the d²-exploded pair products (quadratic
    * ORACLE-side only — the engine accumulates upper triangles
    * map-side), and the mean-centered covariance in integer
    * micro-units. */
  private[graft] def pcaCovCtes: String =
    """WITH e AS (
      |  SELECT vec_id, u.i AS i,
      |    CAST(round(CAST(embedding[CAST(u.i AS INT)] AS DOUBLE) * 1000)
      |      AS BIGINT) AS q
      |  FROM embeddings, LATERAL unnest(range(1, 65)) AS u(i)),
      |st AS (
      |  SELECT i, CAST(sum(q) AS BIGINT) AS sx, count(*) AS n
      |  FROM e GROUP BY i),
      |pr AS (
      |  SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS sxy
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY a.i, b.i),
      |cv AS MATERIALIZED (
      |  SELECT pr.i, pr.j,
      |    CAST(round((sa.n * pr.sxy - sa.sx * sb.sx)
      |      / CAST(sa.n * sa.n AS DOUBLE)) AS BIGINT) AS cov_micro
      |  FROM pr JOIN st sa ON pr.i = sa.i JOIN st sb ON pr.j = sb.i)"""
      .stripMargin
      // cv is MATERIALIZED: DuckDB inlines plain CTEs, and the
      // power-iteration chains reference the covariance many times —
      // inlined, each reference re-expands the d²-exploded self-join
      // down to the parquet scan (observed: fd exhaustion on the
      // deflation oracle)

  /** One power-iteration round in SQL: integer matrix·vector, ∞-norm
    * renormalization to milli-units — the [[pcaCovCtes]] twin of the
    * Spark driver loop. */
  private[graft] def pcaIterSql(t: Int, mat: String = "cm",
      vp: String = "v"): String = {
    val prev = s"$vp${t - 1}"
    s"""${vp}w$t AS (
       |  SELECT $mat.i AS pos, CAST(sum($mat.c * $prev.v) AS BIGINT) AS w
       |  FROM $mat JOIN $prev ON $mat.j = $prev.pos GROUP BY $mat.i),
       |${vp}m$t AS (SELECT max(abs(w)) AS m FROM ${vp}w$t),
       |$vp$t AS (
       |  SELECT pos, CAST(round(w * 1000.0 / m) AS BIGINT) AS v
       |  FROM ${vp}w$t, ${vp}m$t)""".stripMargin
  }
  /** Shared first-eigenpair CTE chain (cm, v0..v3, w4, ray) on top of
    * [[pcaCovCtes]]. */
  private[graft] def pcaEig1Ctes: String =
    s"""cm AS MATERIALIZED (
       |  SELECT i, j, cov_micro AS c FROM cv
       |  UNION ALL
       |  SELECT j AS i, i AS j, cov_micro AS c FROM cv WHERE i <> j),
       |v0 AS (SELECT unnest(range(1, 65)) AS pos, CAST(1000 AS BIGINT) AS v),
       |${pcaIterSql(1)},
       |${pcaIterSql(2)},
       |${pcaIterSql(3)},
       |w4 AS (
       |  SELECT cm.i AS pos, CAST(sum(cm.c * v3.v) AS BIGINT) AS w
       |  FROM cm JOIN v3 ON cm.j = v3.pos GROUP BY cm.i),
       |ray AS (
       |  SELECT CASE WHEN num >= 0 THEN num // den
       |    ELSE -((-num) // den) END AS lambda_micro
       |  FROM (SELECT CAST(sum(v3.v * w4.w) AS BIGINT) AS num,
       |      CAST(sum(v3.v * v3.v) AS BIGINT) AS den
       |    FROM v3 JOIN w4 ON v3.pos = w4.pos))""".stripMargin
  private[graft] val vecsCte =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list_transform(v, x -> x * x)), (s, t) -> s + t)) AS nrm
      |  FROM e)""".stripMargin
  /** documents → distinct token-hash sets (DuckDB side). */
  private[graft] val thCte =
    s"""WITH t AS (
       |  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, list_distinct(list_transform(toks,
       |    t -> ${charFoldDuck("t")})) AS th
       |  FROM t)""".stripMargin
  /** documents → distinct shingle-hash sets (DuckDB side). */
  private[graft] val shCte =
    s"""WITH t AS (
       |  SELECT doc_id, list_transform(string_split(text, ' '),
       |    t -> ${charFoldDuck("t")}) AS tk
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, length(tk) - 1), i ->
       |      ((tk[i] * 31 + tk[i + 1]) % $P * 31 + tk[i + 2]) % $P)) AS th
       |  FROM t)""".stripMargin
  /** MinHash-LSH near-dup pair CTEs through `v` (scored candidates) and
    * `mp` (kept pairs) — shared by the minhash_lsh and dedup_clusters
    * oracles. */
  private[graft] def minhashPairsCtes: String =
    s"""$shCte,
       |sig AS (
       |  SELECT doc_id, th,
       |    list_transform(range(0, 16), k -> list_min(list_transform(th,
       |      h -> ((2 * k + 3) * h + k * 99991 + 7) % $P))) AS sig
       |  FROM th),
       |bands AS (
       |  SELECT doc_id, b,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      sig[b * 8 + 1 : b * 8 + 8]), (a, x) -> (a * 31 + x) % $P) AS bv
       |  FROM sig, range(0, 2) r(b)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id),
       |v AS (
       |  SELECT doc_a, doc_b,
       |    length(list_intersect(ta.th, tb.th))
       |      / CAST(length(list_distinct(ta.th || tb.th)) AS DOUBLE) AS jaccard
       |  FROM cand JOIN th ta ON cand.doc_a = ta.doc_id
       |            JOIN th tb ON cand.doc_b = tb.doc_id),
       |mp AS (SELECT doc_a, doc_b FROM v WHERE jaccard >= 0.5)""".stripMargin
  /** 16-bit simhash fold in DuckDB SQL (shared by simhash +
    * simhash_neardup oracles). */
  private[graft] val simhashDuck: String =
    """list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(0, 16), b ->
      |      CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(th, h ->
      |          CASE WHEN (h >> b) & 1 = 1 THEN CAST(1 AS BIGINT)
      |               ELSE CAST(-1 AS BIGINT) END)),
      |        (s, t) -> s + t) > 0
      |      THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
      |    (a, x) -> a + x)""".stripMargin
  /** The 64 → RpDim Achlioptas projection of list column `src`
    * (DuckDB side — identical fold order to [[rpProjExpr]]). */
  private[graft] def rpListDuck(src: String): String =
    s"list_transform(range(0, $RpDim), j -> " +
      "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(range(0, 64), i -> $src[CAST(i + 1 AS INT)] * " +
      s"CAST(CASE ((i * $RpDim + j + 1) * 2654435761) % $P % 6 " +
      "WHEN 0 THEN -1 WHEN 1 THEN 1 ELSE 0 END AS DOUBLE))), " +
      "(s, t) -> s + t))"
  private[graft] val cosDuck =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, 65), i -> a.v[i] * b.v[i])),
      |    (s, t) -> s + t) / (a.nrm * b.nrm)""".stripMargin
  /** ann_ivf oracle (also a derived table inside ann_recall). */
  /** In-order dot-product fold of `n.v` against a centroid column —
    * the SQL twin of dot_p (identical accumulation order). */
  private[graft] def ivfDotFold(cv: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, 65), i ->
       |          n.v[CAST(i AS INT)] * $cv[CAST(i AS INT)])),
       |        (s, t) -> s + t)""".stripMargin
  /** IVF search SQL — expects CTEs `n` (vectors) and `cents(cell,cv,cn)`
    * in scope; the twin of [[ivfSearch]]. */
  private[graft] def ivfSearchSql: String =
    s"""rk AS (
         |  SELECT n.vec_id, cents.cell,
         |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |      ${ivfDotFold("cents.cv")} / (n.nrm * cents.cn) DESC,
         |      cents.cell) AS rk
         |  FROM n, cents),
         |posted AS (
         |  SELECT cell, vec_id AS nn_id FROM rk WHERE rk <= $IvfPost),
         |probes AS (
         |  SELECT cell, vec_id FROM rk WHERE rk <= $IvfProbes),
         |p AS (
         |  SELECT pr.vec_id AS vec_id, po.nn_id AS nn_id,
         |    $cosDuck AS nn_cosine
         |  FROM probes pr JOIN posted po ON pr.cell = po.cell
         |    AND pr.vec_id <> po.nn_id
         |    JOIN n a ON pr.vec_id = a.vec_id
         |    JOIN n b ON po.nn_id = b.vec_id),
         |r2 AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY nn_cosine DESC, nn_id) AS rk FROM p)
         |SELECT vec_id, nn_id, nn_cosine FROM r2
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin
  /** The [[ivfCellsFor]] ladder in SQL (0 to 7 then the cap — the i = 8
    * rung and the ELSE coincide at IvfMaxCells). */
  private[graft] def ivfCellsCase: String =
    (0 to 7).map(IvfCells << _)
      .map(c => s"WHEN cnt <= ${c * IvfBucketTarget} THEN $c")
      .mkString("CASE ", " ", s" ELSE $IvfMaxCells END")
  private[graft] def ivfPrmCte: String =
    s"""prm AS (
       |  SELECT ($ivfCellsCase) AS cells
       |  FROM (SELECT count(*) AS cnt FROM n))""".stripMargin
  /** PQ codebook training + final per-(vector, subspace) assignment as
    * a DuckDB CTE chain (`sv`, `ts`/`tv` the [[PqTrain]]-capped
    * scrambled-hash training sample, `sd`, `b0`, `a1..b$PqIters`,
    * `af`) — the SQL twin of [[pqCodebooks]] + the code-assignment step,
    * shared by the `embedding_pq` and `ann_recall` (pq_adc row)
    * oracles. Expects the `n` CTE from `vecsCte` in scope; uses the
    * same zip_with-then-left-fold op order as the Spark [[pqDist]]. */
  private[graft] def pqAfCtes(p: String = ""): String = {
    def dist(svc: String, cc: String) =
      s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        s"list_transform(range(1, 9), i -> ($svc[CAST(i AS INT)] - " +
        s"$cc[CAST(i AS INT)]) * ($svc[CAST(i AS INT)] - " +
        s"$cc[CAST(i AS INT)]))), (a, b) -> a + b)"
    val iters = (1 to PqIters).map { t =>
      val prev = s"${p}b${t - 1}"
      s"""${p}a$t AS (
         |  SELECT vec_id, j, k FROM (
         |    SELECT sv.vec_id, sv.j, b.k,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.j
         |        ORDER BY ${dist("sv.sv", "b.c")} ASC, b.k) AS rk
         |    FROM ${p}tv sv JOIN $prev b USING (j)) WHERE rk = 1),
         |${p}s$t AS (
         |  SELECT a.j, a.k, r.i,
         |    CAST(sum(CAST(round(sv.sv[CAST(r.i AS INT)]
         |      * CAST($IvfScale AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sx,
         |    count(*) AS cnt
         |  FROM ${p}a$t a JOIN ${p}tv sv
         |    ON sv.vec_id = a.vec_id AND sv.j = a.j,
         |    range(1, 9) r(i)
         |  GROUP BY a.j, a.k, r.i),
         |${p}b$t AS (
         |  SELECT j, k, list(CAST(sx AS DOUBLE) / cnt
         |    / CAST($IvfScale AS DOUBLE) ORDER BY i) AS c
         |  FROM ${p}s$t GROUP BY j, k)""".stripMargin
    }.mkString(",\n")
    s"""${p}sv AS (
       |  SELECT vec_id, jj.j AS j,
       |    list_transform(range(1, 9),
       |      i -> v[CAST(8 * jj.j + i AS INT)]) AS sv
       |  FROM n, range(0, $PqM) jj(j)),
       |${p}ts AS (
       |  SELECT vec_id FROM n
       |  ORDER BY vec_id * 2246822519 % $P, vec_id LIMIT $PqTrain),
       |${p}tv AS (
       |  SELECT sv.* FROM ${p}sv sv JOIN ${p}ts USING (vec_id)),
       |${p}sd AS (
       |  SELECT vec_id, k FROM (
       |    SELECT vec_id, row_number() OVER (
       |      ORDER BY vec_id * 2246822519 % $P, vec_id) - 1 AS k
       |    FROM n) WHERE k < $PqK),
       |${p}b0 AS (
       |  SELECT s.j, sd.k, s.sv AS c
       |  FROM ${p}sv s JOIN ${p}sd sd ON sd.vec_id = s.vec_id),
       |$iters,
       |${p}af AS (
       |  SELECT vec_id, j, k FROM (
       |    SELECT sv.vec_id, sv.j, b.k,
       |      row_number() OVER (PARTITION BY sv.vec_id, sv.j
       |        ORDER BY ${dist("sv.sv", "b.c")} ASC, b.k) AS rk
       |    FROM ${p}sv sv JOIN ${p}b$PqIters b USING (j)) WHERE rk = 1)""".stripMargin
  }
  private[graft] def annIvfOracle: String =
    s"""$vecsCte,
       |$ivfPrmCte,
       |cents AS (
         |  SELECT vec_id AS cell, v AS cv, nrm AS cn FROM n
         |  WHERE vec_id < (SELECT cells FROM prm)),
         |$ivfSearchSql""".stripMargin
  /** One Lloyd round in SQL: assignment (same fold/tiebreak as Spark's
    * max_by) then fixed-point per-dimension means — Σ round(x·1e6) over
    * BIGINTs, so both engines land on bit-identical centroids. */
  private[graft] def ivfIterSql(t: Int): String = {
    val prev = s"c${t - 1}"
    s"""a$t AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, $prev.cell,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        ${ivfDotFold(s"$prev.cv")} / (n.nrm * $prev.cn) DESC,
         |        $prev.cell) AS ark
         |    FROM n, $prev) WHERE ark = 1),
         |s$t AS (
         |  SELECT a$t.cell, i,
         |    CAST(sum(CAST(round(n.v[CAST(i AS INT)]
         |      * CAST($IvfScale AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sx,
         |    count(*) AS cnt
         |  FROM a$t JOIN n USING (vec_id), range(1, 65) r(i)
         |  GROUP BY a$t.cell, i),
         |c$t AS (
         |  SELECT cell, cv,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(cv, x -> x * x)), (s, u) -> s + u)) AS cn
         |  FROM (
         |    SELECT cell, list(CAST(sx AS DOUBLE) / cnt
         |      / CAST($IvfScale AS DOUBLE) ORDER BY i) AS cv
         |    FROM s$t GROUP BY cell))""".stripMargin
  }
  /** Trained-quantizer CTEs through `cents` — shared by the
    * ann_ivf_trained and semdedup oracles. */
  private[graft] def ivfTrainedCentsCtes: String =
    s"""$vecsCte,
       |$ivfPrmCte,
       |c0 AS (
         |  SELECT vec_id AS cell, v AS cv, nrm AS cn FROM n
         |  WHERE vec_id < (SELECT cells FROM prm)),
         |${(1 to IvfIters).map(ivfIterSql).mkString(",\n")},
         |cents AS (SELECT cell, cv, cn FROM c$IvfIters)""".stripMargin
  private[graft] def annIvfTrainedOracle: String =
    s"""$ivfTrainedCentsCtes,
       |$ivfSearchSql""".stripMargin
  /** IVF-PQ oracle — the SQL twin of [[annIvfPq]]: trained coarse
    * cells (`cents`, the ann_ivf_trained chain), the same
    * post/probe candidate generation, but candidates scored by PQ
    * ASYMMETRIC distance over the `paf` codes (the pq_adc chain,
    * `p`-prefixed so its `a1`/`s1` iteration CTEs don't collide with
    * the Lloyd CTEs of the coarse quantizer). Folds are j-ordered to
    * match the Spark side's array_sort-then-aggregate accumulation. */
  private[graft] def annIvfPqOracle: String =
    s"""$ivfTrainedCentsCtes,
       |${pqAfCtes("p")},
       |irk AS (
       |  SELECT n.vec_id, cents.cell,
       |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |      ${ivfDotFold("cents.cv")} / (n.nrm * cents.cn) DESC,
       |      cents.cell) AS rk
       |  FROM n, cents),
       |iposted AS (
       |  SELECT cell, vec_id AS nn_id FROM irk WHERE rk <= $IvfPost),
       |iprobes AS (
       |  SELECT cell, vec_id FROM irk WHERE rk <= $IvfProbes),
       |icand AS (
       |  SELECT pr.vec_id AS vec_id, po.nn_id AS nn_id
       |  FROM iprobes pr JOIN iposted po
       |    ON pr.cell = po.cell AND pr.vec_id <> po.nn_id),
       |ilut AS (
       |  SELECT q.vec_id AS qid, q.j, b.k,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 9),
       |        i -> q.sv[CAST(i AS INT)] * b.c[CAST(i AS INT)])),
       |      (s, t) -> s + t) AS qd,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range(1, 9),
       |        i -> b.c[CAST(i AS INT)] * b.c[CAST(i AS INT)])),
       |      (s, t) -> s + t) AS cn2
       |  FROM psv q JOIN pb$PqIters b USING (j)),
       |iadc0 AS (
       |  SELECT c.vec_id AS vec_id, c.nn_id AS nn_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.qd ORDER BY l.j)), (s, t) -> s + t) AS ip,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list(l.cn2 ORDER BY l.j)), (s, t) -> s + t) AS rn2
       |  FROM icand c JOIN paf af ON af.vec_id = c.nn_id
       |    JOIN ilut l ON l.qid = c.vec_id AND l.j = af.j AND l.k = af.k
       |  GROUP BY c.vec_id, c.nn_id),
       |iadc1 AS (
       |  SELECT iadc0.vec_id, iadc0.nn_id,
       |    CASE WHEN iadc0.rn2 <= 0 OR qn.nrm = 0 THEN CAST(0 AS DOUBLE)
       |      ELSE iadc0.ip / (qn.nrm * sqrt(iadc0.rn2)) END AS nn_adc
       |  FROM iadc0 JOIN n qn ON qn.vec_id = iadc0.vec_id)
       |SELECT vec_id, nn_id, nn_adc FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY nn_adc DESC, nn_id) AS rrk FROM iadc1)
       |WHERE rrk = 1 ORDER BY vec_id""".stripMargin
  /** semdedup oracle: trained cents → min-id-wins assignment (the same
    * fold/tiebreak as Spark's max_by) → within-cell lower-id cos prune. */
  private[graft] def semdedupOracle: String =
    s"""$ivfTrainedCentsCtes,
       |asn AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, cents.cell,
       |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
       |        ${ivfDotFold("cents.cv")} / (n.nrm * cents.cn) DESC,
       |        cents.cell) AS ark
       |    FROM n, cents) WHERE ark = 1),
       |m AS (
       |  SELECT asn.vec_id, asn.cell, n.v, n.nrm
       |  FROM asn JOIN n USING (vec_id)),
       |d AS (
       |  SELECT DISTINCT a.vec_id AS vec_id
       |  FROM m a JOIN m b ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE $cosDuck > $SemTau)
       |SELECT m.vec_id, m.cell, d.vec_id IS NULL AS kept
       |FROM m LEFT JOIN d ON m.vec_id = d.vec_id
       |ORDER BY m.vec_id""".stripMargin
  /** Shared LSH candidate CTEs (through `cand`) — the SQL twin of
    * [[annCandidates]], used by the ann_lsh_multi and
    * embedding_neardup_lsh oracles. */
  private[graft] def annCandCtes: String = {
    val bitsCase = (8 to AnnMaxBits).map(b => s"WHEN cnt <= ${4L << b} THEN $b")
      .mkString("CASE ", " ", s" ELSE $AnnMaxBits END")
    s"""$vecsCte,
         |params AS (
         |  SELECT ($bitsCase) AS bits
         |  FROM (SELECT count(*) AS cnt FROM n)),
         |bk AS (
         |  SELECT vec_id, t, list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(0, bits), k ->
         |      CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, 65), d ->
         |          CAST(((t * $AnnMaxBits + k) * 64 + d - 1) * 2654435761
         |            % 1000 - 500 AS DOUBLE) * v[CAST(d AS INT)])),
         |        (s, u) -> s + u) >= 0
         |      THEN (CAST(1 AS BIGINT) << CAST(k AS INT))
         |      ELSE CAST(0 AS BIGINT) END)),
         |    (a, x) -> a + x) AS bucket
         |  FROM n, params, range(0, $AnnTables) r(t)),
         |pr AS (
         |  SELECT vec_id, t, unnest(list_prepend(bucket,
         |    list_transform(range(0, bits), j ->
         |      xor(bucket, CAST(1 AS BIGINT) << CAST(j AS INT))))) AS pk
         |  FROM bk, params),
         |bkc AS (
         |  SELECT vec_id, t, bucket FROM (
         |    SELECT *, row_number() OVER (PARTITION BY t, bucket
         |      ORDER BY vec_id) AS br FROM bk)
         |  WHERE br <= $AnnBucketCap),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_id, b.vec_id AS nn_id
         |  FROM pr a JOIN bkc b ON a.t = b.t AND a.pk = b.bucket
         |    AND a.vec_id <> b.vec_id)""".stripMargin
  }
  /** ann_lsh_multi oracle (also a derived table inside ann_recall). */
  private[graft] def annLshMultiOracle: String =
    s"""$annCandCtes,
       |p AS (
       |  SELECT c.vec_id AS vec_id, c.nn_id AS nn_id,
       |    $cosDuck AS nn_cosine
       |  FROM cand c JOIN n a ON c.vec_id = a.vec_id
       |    JOIN n b ON c.nn_id = b.vec_id),
       |r2 AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY nn_cosine DESC, nn_id) AS rk FROM p)
       |SELECT vec_id, nn_id, nn_cosine FROM r2
       |WHERE rk = 1 ORDER BY vec_id""".stripMargin
  /** embedding_neardup_lsh oracle: bucketed candidates + exact verify. */
  private[graft] def embeddingNeardupLshOracle: String =
    s"""$annCandCtes,
       |pp AS (
       |  SELECT c.vec_id AS id_a, c.nn_id AS id_b, $cosDuck AS cosine
       |  FROM cand c JOIN n a ON c.vec_id = a.vec_id
       |    JOIN n b ON c.nn_id = b.vec_id
       |  WHERE c.vec_id < c.nn_id)
       |SELECT id_a, id_b, cosine FROM pp
       |WHERE cosine >= 0.3 ORDER BY id_a, id_b""".stripMargin
  /** embedding_neardup_recall oracle: panel truth pairs at the lowest
    * τ once, then the 3-row τ dimension re-filters them. */
  private[graft] def embeddingNeardupRecallOracle: String =
    s"""$annCandCtes,
       |pan AS (
       |  SELECT vec_id FROM n
       |  ORDER BY vec_id * 2654435761 % $P, vec_id
       |  LIMIT $RecallQueries),
       |tr AS (
       |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
       |    $cosDuck AS cosine
       |  FROM n a JOIN pan USING (vec_id), n b
       |  WHERE a.vec_id <> b.vec_id
       |    AND $cosDuck >= ${NeardupTauPcts.min} / 100.0),
       |j AS (
       |  SELECT tr.cosine,
       |    CASE WHEN c.vec_id IS NULL THEN 0 ELSE 1 END AS hit
       |  FROM tr LEFT JOIN cand c
       |    ON tr.vec_id = c.vec_id AND tr.nn_id = c.nn_id),
       |taus AS (SELECT unnest([${NeardupTauPcts.mkString(", ")}])
       |  AS tau_pct)
       |SELECT taus.tau_pct, count(j.cosine) AS n_true,
       |  CAST(coalesce(sum(j.hit), 0) AS BIGINT) AS n_caught,
       |  round(coalesce(sum(j.hit), 0)
       |    / CAST(greatest(count(j.cosine), 1) AS DOUBLE), 4) AS recall
       |FROM taus LEFT JOIN j ON j.cosine >= taus.tau_pct / 100.0
       |GROUP BY taus.tau_pct ORDER BY taus.tau_pct""".stripMargin

  /** This part's oracle SQL entries (the `oracleSql` slice). */
  private[graft] def embedOracleSql: Map[String, String] = Map(
    "semdedup" -> semdedupOracle,
    "decontaminate" ->
      s"""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, ${charFoldDuck("g")} AS gh FROM (
         |    SELECT doc_id, unnest(${gramsDuck("tk", DecontN)}) AS g
         |    FROM t)),
         |ev AS (SELECT DISTINCT gh FROM g
         |  WHERE doc_id % $EvalMod = $EvalRes AND doc_id <= $EvalMaxId),
         |tr AS (
         |  SELECT g.doc_id, count(*) AS n_grams,
         |    CAST(sum(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hit
         |  FROM g LEFT JOIN ev ON g.gh = ev.gh
         |  WHERE g.doc_id % $EvalMod <> $EvalRes OR g.doc_id > $EvalMaxId
         |  GROUP BY g.doc_id)
         |SELECT doc_id, n_grams, n_hit,
         |  n_hit / CAST(n_grams AS DOUBLE) AS contam_frac,
         |  n_hit > 0 AS contaminated
         |FROM tr ORDER BY doc_id""".stripMargin,
    "embedding_covariance" ->
      s"$pcaCovCtes SELECT i, j, cov_micro FROM cv ORDER BY i, j",
    "embedding_top_eig" -> s"""$pcaCovCtes,
      |$pcaEig1Ctes,
      |tr AS (
      |  SELECT CAST(sum(cov_micro) AS BIGINT) AS trace
      |  FROM cv WHERE i = j)
      |SELECT v3.pos, v3.v AS v_milli, ray.lambda_micro,
      |  CASE WHEN ray.lambda_micro >= 0
      |    THEN ray.lambda_micro * 1000000 // tr.trace
      |    ELSE -((-(ray.lambda_micro * 1000000)) // tr.trace)
      |    END AS share_ppm
      |FROM v3, ray, tr ORDER BY pos""".stripMargin,
    // cm2 is MATERIALIZED for the reason cv is (see pcaCovCtes): the
    // deflated power iteration references it once per round
    "embedding_eig2" -> s"""$pcaCovCtes,
      |$pcaEig1Ctes,
      |vv AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM v3),
      |cm2 AS MATERIALIZED (
      |  SELECT cm.i, cm.j, cm.c - CAST(round(
      |    CAST(ray.lambda_micro * a.v * b.v AS DOUBLE) / vv.vv)
      |    AS BIGINT) AS c
      |  FROM cm JOIN v3 a ON cm.i = a.pos JOIN v3 b ON cm.j = b.pos,
      |    ray, vv),
      |u0 AS (SELECT unnest(range(1, 65)) AS pos, CAST(1000 AS BIGINT) AS v),
      |${pcaIterSql(1, "cm2", "u")},
      |${pcaIterSql(2, "cm2", "u")},
      |${pcaIterSql(3, "cm2", "u")},
      |x4 AS (
      |  SELECT cm2.i AS pos, CAST(sum(cm2.c * u3.v) AS BIGINT) AS w
      |  FROM cm2 JOIN u3 ON cm2.j = u3.pos GROUP BY cm2.i),
      |ray2 AS (
      |  SELECT CASE WHEN num >= 0 THEN num // den
      |    ELSE -((-num) // den) END AS lambda_micro
      |  FROM (SELECT CAST(sum(u3.v * x4.w) AS BIGINT) AS num,
      |      CAST(sum(u3.v * u3.v) AS BIGINT) AS den
      |    FROM u3 JOIN x4 ON u3.pos = x4.pos)),
      |al AS (
      |  SELECT CAST(sum(a.v * b.v) AS BIGINT) * 1000000 AS num
      |  FROM v3 a JOIN u3 b ON a.pos = b.pos)
      |SELECT u3.pos, u3.v AS v2_milli,
      |  ray2.lambda_micro AS lambda2_micro,
      |  ray.lambda_micro AS lambda1_micro,
      |  CASE WHEN al.num >= 0 THEN al.num // vv.vv
      |    ELSE -((-al.num) // vv.vv) END AS align_ppm
      |FROM u3, ray, ray2, al, vv ORDER BY pos""".stripMargin,
    "embedding_project2" -> s"""$pcaCovCtes,
      |$pcaEig1Ctes,
      |vv AS (SELECT CAST(sum(v * v) AS BIGINT) AS vv FROM v3),
      |cm2 AS MATERIALIZED (
      |  SELECT cm.i, cm.j, cm.c - CAST(round(
      |    CAST(ray.lambda_micro * a.v * b.v AS DOUBLE) / vv.vv)
      |    AS BIGINT) AS c
      |  FROM cm JOIN v3 a ON cm.i = a.pos JOIN v3 b ON cm.j = b.pos,
      |    ray, vv),
      |u0 AS (SELECT unnest(range(1, 65)) AS pos, CAST(1000 AS BIGINT) AS v),
      |${pcaIterSql(1, "cm2", "u")},
      |${pcaIterSql(2, "cm2", "u")},
      |${pcaIterSql(3, "cm2", "u")}
      |SELECT e.vec_id,
      |  CAST(sum(e.q * v3.v) AS BIGINT) AS c1_micro,
      |  CAST(sum(e.q * u3.v) AS BIGINT) AS c2_micro
      |FROM e JOIN v3 ON e.i = v3.pos JOIN u3 ON e.i = u3.pos
      |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin,
    "containment_pairs" ->
      s"""$shCte,
         |e2 AS (SELECT doc_id, unnest(th) AS sh FROM th),
         |tp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM e2 a JOIN e2 b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |m AS (
         |  SELECT tp.doc_a, tp.doc_b,
         |    CAST(length(ta.th) AS BIGINT) AS n_a,
         |    CAST(length(tb.th) AS BIGINT) AS n_b,
         |    CAST(length(list_intersect(ta.th, tb.th)) AS BIGINT) AS inter
         |  FROM tp JOIN th ta ON tp.doc_a = ta.doc_id
         |          JOIN th tb ON tp.doc_b = tb.doc_id)
         |SELECT doc_a, doc_b, n_a, n_b, inter,
         |  inter * 1000000 // least(n_a, n_b) AS cont_ppm,
         |  inter * 1000000 // (n_a + n_b - inter) AS jac_ppm
         |FROM m
         |ORDER BY cont_ppm DESC, jac_ppm, doc_a, doc_b LIMIT $CtTop""".stripMargin,
    "embedding_rp" -> {
      s"""$vecsCte,
         |rp AS (
         |  SELECT vec_id, v, nrm, ${rpListDuck("v")} AS r
         |  FROM n WHERE vec_id < 16),
         |rr AS (
         |  SELECT vec_id, v, nrm, r,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(r, x -> x * x)), (s, t) -> s + t)) AS rn
         |  FROM rp)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, 65), i -> a.v[i] * b.v[i])),
         |    (s, t) -> s + t) / (a.nrm * b.nrm) AS cos_full,
         |  CASE WHEN a.rn * b.rn = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, ${RpDim + 1}),
         |        i -> a.r[i] * b.r[i])),
         |      (s, t) -> s + t) / (a.rn * b.rn) END AS cos_rp
         |FROM rr a JOIN rr b ON a.vec_id < b.vec_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "embedding_pq" -> {
      s"""$vecsCte,
         |${pqAfCtes()},
         |rec AS (
         |  SELECT af.vec_id, flatten(list(b.c ORDER BY af.j)) AS r
         |  FROM af JOIN b$PqIters b ON b.j = af.j AND b.k = af.k
         |  GROUP BY af.vec_id),
         |rr AS (
         |  SELECT n.vec_id, n.v, n.nrm, rec.r,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(rec.r, x -> x * x)), (s, t) -> s + t)) AS rn
         |  FROM n JOIN rec USING (vec_id) WHERE n.vec_id < 16)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, 65), i -> a.v[i] * b.v[i])),
         |    (s, t) -> s + t) / (a.nrm * b.nrm) AS cos_full,
         |  CASE WHEN a.rn * b.rn = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> a.r[i] * b.r[i])),
         |      (s, t) -> s + t) / (a.rn * b.rn) END AS cos_pq
         |FROM rr a JOIN rr b ON a.vec_id < b.vec_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "embedding_q8" -> {
      val recDuck = "list_transform(range(1, 65), i -> CASE " +
        "WHEN g.hi[i] = g.lo[i] THEN g.lo[i] " +
        "ELSE g.lo[i] + round((v[i] - g.lo[i]) / (g.hi[i] - g.lo[i]) " +
        "* 255) / 255.0 * (g.hi[i] - g.lo[i]) END)"
      s"""$vecsCte,
         |dimstats AS (
         |  SELECT u.i, min(v[u.i]) AS lo, max(v[u.i]) AS hi
         |  FROM n, LATERAL unnest(range(1, 65)) AS u(i)
         |  GROUP BY u.i),
         |g AS (
         |  SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
         |  FROM dimstats),
         |rp AS (
         |  SELECT vec_id, v, nrm, $recDuck AS r
         |  FROM n, g WHERE vec_id < 16),
         |rr AS (
         |  SELECT vec_id, v, nrm, r,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(r, x -> x * x)), (s, t) -> s + t)) AS rn
         |  FROM rp)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(range(1, 65), i -> a.v[i] * b.v[i])),
         |    (s, t) -> s + t) / (a.nrm * b.nrm) AS cos_full,
         |  CASE WHEN a.rn * b.rn = 0 THEN CAST(0 AS DOUBLE)
         |    ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 65), i -> a.r[i] * b.r[i])),
         |      (s, t) -> s + t) / (a.rn * b.rn) END AS cos_q8
         |FROM rr a JOIN rr b ON a.vec_id < b.vec_id
         |ORDER BY id_a, id_b""".stripMargin
    },
    "cms_heavy_hitters" ->
      s"""WITH tk AS (
         |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |c AS (
         |  SELECT tok, count(*) AS n, ${charFoldDuck("tok")} % $P AS h
         |  FROM tk GROUP BY tok),
         |cell AS (
         |  SELECT u.r,
         |    c.h * CASE u.r ${CmsMul.zipWithIndex.map { case (m, i) =>
                 s"WHEN $i THEN $m" }.mkString(" ")} ELSE 0 END
         |      % $P % $CmsW AS b,
         |    c.n
         |  FROM c, (VALUES (0), (1), (2), (3)) u(r)),
         |sk AS (
         |  SELECT r, b, CAST(sum(n) AS BIGINT) AS cnt
         |  FROM cell GROUP BY r, b),
         |top AS (
         |  SELECT tok, n, h FROM c ORDER BY n DESC, tok LIMIT 20),
         |probe AS (
         |  SELECT t.tok, t.n, u.r,
         |    t.h * CASE u.r ${CmsMul.zipWithIndex.map { case (m, i) =>
                 s"WHEN $i THEN $m" }.mkString(" ")} ELSE 0 END
         |      % $P % $CmsW AS b
         |  FROM top t, (VALUES (0), (1), (2), (3)) u(r))
         |SELECT p.tok, p.n, min(sk.cnt) AS cms_est,
         |  min(sk.cnt) - p.n AS err
         |FROM probe p JOIN sk USING (r, b)
         |GROUP BY p.tok, p.n
         |ORDER BY n DESC, tok""".stripMargin,
    "bloom_dedup" -> {
      def panelSql(m: Int): String =
        s"""SELECT source, CAST($m AS BIGINT) AS m_bits,
           |  count(*) AS n_in,
           |  CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
           |    AS true_dup,
           |  CAST(sum(CASE WHEN hit_$m THEN 1 ELSE 0 END) AS BIGINT)
           |    AS bloom_pos,
           |  CAST(sum(CASE WHEN hit_$m AND NOT dup THEN 1 ELSE 0 END)
           |    AS BIGINT) AS false_pos,
           |  CAST(sum(CASE WHEN dup AND NOT hit_$m THEN 1 ELSE 0 END)
           |    AS BIGINT) AS false_neg,
           |  CAST(sum(CASE WHEN hit_$m AND NOT dup THEN 1 ELSE 0 END)
           |    * 1000000 // greatest(count(*) -
           |    sum(CASE WHEN dup THEN 1 ELSE 0 END), 1) AS BIGINT)
           |    AS fp_ppm
           |FROM inc GROUP BY source""".stripMargin
      s"""WITH fp AS (
         |  SELECT doc_id, source,
         |    ${charFoldDuck("text")} * 2654435761 % $P AS h,
         |    doc_id % 10 < 8 AS in_corpus,
         |    doc_id % 10 >= 6 AS incoming
         |  FROM documents),
         |${BloomMs.map(m =>
            s"""pos_$m AS (
               |  SELECT DISTINCT p FROM (
               |    SELECT unnest([${CmsMul.map(mu =>
                      s"h * $mu % $P % $m").mkString(", ")}]) AS p
               |    FROM fp WHERE in_corpus))""".stripMargin)
            .mkString(",\n")},
         |cset AS (SELECT DISTINCT h FROM fp WHERE in_corpus),
         |inc AS (
         |  SELECT source, h,
         |    ${BloomMs.map(m => CmsMul.map(mu =>
                s"(h * $mu % $P % $m IN (SELECT p FROM pos_$m))")
                .mkString("(", " AND ", s") AS hit_$m")).mkString(",\n    ")},
         |    h IN (SELECT h FROM cset) AS dup
         |  FROM fp WHERE incoming)
         |${BloomMs.map(panelSql).mkString("\nUNION ALL\n")}
         |ORDER BY m_bits, source""".stripMargin
    },
    "kmv_distinct" ->
      s"""WITH e AS (
         |  SELECT source, unnest(list_transform(string_split(text, ' '),
         |    t -> ${charFoldDuck("t")} * 2654435761 % $P)) AS h
         |  FROM documents),
         |g AS (
         |  SELECT source, count(DISTINCT h) AS true_distinct,
         |    list_sort(list_distinct(list(h))) AS hs
         |  FROM e GROUP BY source)
         |SELECT source, true_distinct,
         |  CASE WHEN length(hs) < $KmvK THEN CAST(length(hs) AS DOUBLE)
         |    ELSE ${KmvK - 1}.0 * $P / greatest(hs[$KmvK], 1) END
         |    AS kmv_estimate
         |FROM g ORDER BY source""".stripMargin,
    "embedding_topk" ->
      s"""$vecsCte,
         |p AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         |    $cosDuck AS cosine
         |  FROM n a JOIN n b ON a.vec_id < 8 AND a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT qid, vec_id, cosine,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY cosine DESC, vec_id) AS rank
         |  FROM p)
         |SELECT qid, rank, vec_id, cosine FROM r
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "embedding_neardup" ->
      s"""$vecsCte
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, $cosDuck AS cosine
         |FROM n a JOIN n b ON a.vec_id < b.vec_id
         |WHERE $cosDuck >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,
    "minhash_recall" ->
      s"""$minhashPairsCtes,
         |e2 AS (SELECT doc_id, unnest(th) AS sh FROM th),
         |tp AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM e2 a JOIN e2 b ON a.sh = b.sh AND a.doc_id < b.doc_id),
         |tr AS (
         |  SELECT tp.doc_a, tp.doc_b,
         |    length(list_intersect(ta.th, tb.th))
         |      / CAST(length(list_distinct(ta.th || tb.th)) AS DOUBLE)
         |      AS jaccard
         |  FROM tp JOIN th ta ON tp.doc_a = ta.doc_id
         |          JOIN th tb ON tp.doc_b = tb.doc_id),
         |tj AS (SELECT * FROM tr WHERE jaccard >= 0.5),
         |sc AS (
         |  SELECT t.jaccard,
         |    CASE WHEN mp.doc_a IS NULL THEN 0 ELSE 1 END AS hit
         |  FROM tj t LEFT JOIN mp
         |    ON t.doc_a = mp.doc_a AND t.doc_b = mp.doc_b),
         |pw AS (
         |  SELECT hit, jaccard * jaccard AS j2 FROM sc),
         |pw2 AS (SELECT hit, j2 * j2 AS j4 FROM pw),
         |pw3 AS (SELECT hit, j4 * j4 AS j8 FROM pw2),
         |fp AS (
         |  SELECT hit,
         |    CAST(round((CAST(1 AS DOUBLE) - (CAST(1 AS DOUBLE) - j8)
         |      * (CAST(1 AS DOUBLE) - j8)) * CAST(1000000 AS DOUBLE))
         |      AS BIGINT) AS p_fp
         |  FROM pw3)
         |SELECT CAST(count(*) AS BIGINT) AS n_true,
         |  CAST(sum(hit) AS BIGINT) AS n_caught,
         |  round(CAST(sum(hit) AS BIGINT) / CAST(count(*) AS DOUBLE), 4)
         |    AS recall,
         |  round(CAST(CAST(sum(p_fp) AS BIGINT) AS DOUBLE) / count(*)
         |    / CAST(1000000 AS DOUBLE), 4) AS expected_recall
         |FROM fp""".stripMargin,
    "minhash_lsh" ->
      s"""$minhashPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM v
         |WHERE jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    "simhash" ->
      s"""$thCte
         |SELECT doc_id, $simhashDuck AS simhash16
         |FROM th ORDER BY doc_id""".stripMargin,
    "simhash_neardup" ->
      s"""WITH t AS (
         |  SELECT doc_id, list_transform(string_split(text, ' '),
         |    t -> ${charFoldDuck("t")}) AS th
         |  FROM documents),
         |sig AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, 30), b ->
         |        CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(th, h ->
         |            CASE WHEN (h >> b) & 1 = 1 THEN CAST(1 AS BIGINT)
         |                 ELSE CAST(-1 AS BIGINT) END)),
         |          (s, t) -> s + t) > 0
         |        THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END)),
         |      (a, x) -> a + x) AS sig30
         |  FROM t),
         |bands AS (
         |  SELECT doc_id, sig30, 0 AS band, sig30 & 32767 AS key
         |  FROM sig
         |  UNION ALL
         |  SELECT doc_id, sig30, 1 AS band, (sig30 >> 15) & 32767
         |  FROM sig),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sig30 AS sa, b.sig30 AS sb
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
         |    AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
         |ORDER BY doc_a, doc_b""".stripMargin,
    "ngram_jaccard" ->
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    list_transform(string_split(text, ' '),
         |      t -> ${charFoldDuck("t")}) AS th
         |  FROM documents),
         |sh AS (
         |  SELECT doc_id, source,
         |    list_distinct(list_transform(range(1, length(th) - 1), i ->
         |      ((th[i] * 31 + th[i + 1]) % $P * 31 + th[i + 2]) % $P)) AS sh
         |  FROM t)
         |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  length(list_intersect(a.sh, b.sh))
         |    / CAST(length(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jaccard
         |FROM sh a JOIN sh b
         |  ON a.source = b.source AND a.doc_id < b.doc_id
         |ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20""".stripMargin,
    "ann_ivf" -> annIvfOracle,
    "ann_ivf_trained" -> annIvfTrainedOracle,
    "ann_ivfpq" -> annIvfPqOracle,
    "ann_lsh_multi" -> annLshMultiOracle,
    "embedding_neardup_lsh" -> embeddingNeardupLshOracle,
    "embedding_neardup_recall" -> embeddingNeardupRecallOracle,
    "knn_label_acc" ->
      s"""$vecsCte,
         |lb AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
         |panel AS (
         |  SELECT vec_id FROM n
         |  ORDER BY vec_id * 2654435761 % $P, vec_id
         |  LIMIT $RecallQueries),
         |p0 AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id, $cosDuck AS c
         |  FROM (SELECT n.* FROM n JOIN panel USING (vec_id)) a
         |  JOIN n b ON a.vec_id <> b.vec_id),
         |tr AS (
         |  SELECT vec_id, nn_id AS true_nn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nn_id) AS rk FROM p0)
         |  WHERE rk = 1),
         |j AS (
         |  SELECT ql.label,
         |    CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS ok
         |  FROM tr JOIN lb ql ON ql.vec_id = tr.vec_id
         |          JOIN lb nl ON nl.vec_id = tr.true_nn)
         |SELECT label, count(*) AS n_q, CAST(sum(ok) AS BIGINT) AS n_correct,
         |  CAST(sum(ok) AS BIGINT) * 1000000 // count(*) AS acc_ppm
         |FROM j GROUP BY 1 ORDER BY label""".stripMargin,
    "ann_recall" ->
      s"""$vecsCte,
         |panel AS (
         |  SELECT vec_id FROM n
         |  ORDER BY vec_id * 2654435761 % $P, vec_id
         |  LIMIT $RecallQueries),
         |p0 AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id, $cosDuck AS c
         |  FROM (SELECT n.* FROM n JOIN panel USING (vec_id)) a
         |  JOIN n b ON a.vec_id <> b.vec_id),
         |tr AS (
         |  SELECT vec_id, nn_id AS true_nn FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nn_id) AS rk FROM p0)
         |  WHERE rk = 1),
         |lsh AS (SELECT vec_id, nn_id FROM ($annLshMultiOracle)),
         |ivf AS (SELECT vec_id, nn_id FROM ($annIvfOracle)),
         |ivft AS (SELECT vec_id, nn_id FROM ($annIvfTrainedOracle)),
         |rpv AS (SELECT vec_id, ${rpListDuck("v")} AS r FROM n),
         |rpn AS (
         |  SELECT vec_id, r,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(r, x -> x * x)), (s, t) -> s + t)) AS rn
         |  FROM rpv),
         |rp0 AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    CASE WHEN a.rn * b.rn = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, ${RpDim + 1}),
         |          i -> a.r[i] * b.r[i])), (s, t) -> s + t)
         |        / (a.rn * b.rn) END AS c
         |  FROM (SELECT rpn.* FROM rpn JOIN panel USING (vec_id)) a
         |  JOIN rpn b ON a.vec_id <> b.vec_id),
         |rp AS (
         |  SELECT vec_id, nn_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nn_id) AS rk FROM rp0)
         |  WHERE rk = 1),
         |q8d AS (
         |  SELECT u.i, min(v[u.i]) AS lo, max(v[u.i]) AS hi
         |  FROM n, LATERAL unnest(range(1, 65)) AS u(i)
         |  GROUP BY u.i),
         |q8g AS (
         |  SELECT list(lo ORDER BY i) AS lo, list(hi ORDER BY i) AS hi
         |  FROM q8d),
         |q8v AS (
         |  SELECT vec_id, list_transform(range(1, 65), i -> CASE
         |    WHEN q8g.hi[i] = q8g.lo[i] THEN q8g.lo[i]
         |    ELSE q8g.lo[i] + round((v[i] - q8g.lo[i])
         |      / (q8g.hi[i] - q8g.lo[i]) * 255) / 255.0
         |      * (q8g.hi[i] - q8g.lo[i]) END) AS r
         |  FROM n, q8g),
         |q8n AS (
         |  SELECT vec_id, r,
         |    sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(r, x -> x * x)), (s, t) -> s + t)) AS rn
         |  FROM q8v),
         |q80 AS (
         |  SELECT a.vec_id AS vec_id, b.vec_id AS nn_id,
         |    CASE WHEN a.rn * b.rn = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(range(1, 65),
         |          i -> a.r[i] * b.r[i])), (s, t) -> s + t)
         |        / (a.rn * b.rn) END AS c
         |  FROM (SELECT q8n.* FROM q8n JOIN panel USING (vec_id)) a
         |  JOIN q8n b ON a.vec_id <> b.vec_id),
         |q8 AS (
         |  SELECT vec_id, nn_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nn_id) AS rk FROM q80)
         |  WHERE rk = 1),
         |${pqAfCtes()},
         |adclut AS (
         |  SELECT q.vec_id AS qid, q.j, b.k,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 9),
         |        i -> q.sv[CAST(i AS INT)] * b.c[CAST(i AS INT)])),
         |      (s, t) -> s + t) AS qd,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(range(1, 9),
         |        i -> b.c[CAST(i AS INT)] * b.c[CAST(i AS INT)])),
         |      (s, t) -> s + t) AS cn2
         |  FROM (SELECT sv.* FROM sv JOIN panel USING (vec_id)) q
         |  JOIN b$PqIters b USING (j)),
         |adc0 AS (
         |  SELECT l.qid, af.vec_id AS nn_id,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(l.qd ORDER BY l.j)), (s, t) -> s + t) AS ip,
         |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list(l.cn2 ORDER BY l.j)), (s, t) -> s + t) AS rn2
         |  FROM af JOIN adclut l ON l.j = af.j AND l.k = af.k
         |  GROUP BY l.qid, af.vec_id),
         |adc1 AS (
         |  SELECT adc0.qid AS vec_id, adc0.nn_id,
         |    CASE WHEN adc0.rn2 <= 0 OR qn.nrm = 0 THEN CAST(0 AS DOUBLE)
         |      ELSE adc0.ip / (qn.nrm * sqrt(adc0.rn2)) END AS c
         |  FROM adc0 JOIN n qn ON qn.vec_id = adc0.qid
         |  WHERE adc0.nn_id <> adc0.qid),
         |pqa AS (
         |  SELECT vec_id, nn_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY c DESC, nn_id) AS rk FROM adc1)
         |  WHERE rk = 1)
         |SELECT 'ivf' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN i.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN i.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN ivf i USING (vec_id)
         |UNION ALL
         |SELECT 'ivf_trained' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN t2.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN t2.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN ivft t2 USING (vec_id)
         |UNION ALL
         |SELECT 'lsh_multi' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN l.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN l.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN lsh l USING (vec_id)
         |UNION ALL
         |SELECT 'rp_brute' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN r3.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN r3.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN rp r3 USING (vec_id)
         |UNION ALL
         |SELECT 'q8_brute' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN q4.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN q4.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN q8 q4 USING (vec_id)
         |UNION ALL
         |SELECT 'pq_adc' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN p5.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN p5.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN pqa p5 USING (vec_id)
         |UNION ALL
         |SELECT 'ivfpq' AS method, count(*) AS n_queries,
         |  CAST(sum(CASE WHEN p6.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_hits,
         |  CAST(sum(CASE WHEN p6.nn_id = tr.true_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) / count(*) AS recall_at_1
         |FROM tr LEFT JOIN
         |  (SELECT vec_id, nn_id FROM ($annIvfPqOracle)) p6 USING (vec_id)
         |ORDER BY method""".stripMargin,
    "ann_lsh" ->
      s"""$vecsCte,
         |bk AS (
         |  SELECT vec_id, v, nrm,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(range(0, 8), k ->
         |        CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list_transform(range(1, 65), d ->
         |            CAST((k * 64 + d - 1) * 2654435761 % 1000 - 500
         |              AS DOUBLE) * v[CAST(d AS INT)])),
         |          (s, t) -> s + t) >= 0
         |        THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)),
         |      (a, x) -> a + x) AS bucket
         |  FROM n),
         |p AS (
         |  SELECT a.vec_id AS vec_id, a.bucket AS bucket,
         |    b.vec_id AS nn_id, $cosDuck AS nn_cosine
         |  FROM bk a JOIN bk b
         |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY nn_cosine DESC, nn_id) AS rk FROM p)
         |SELECT vec_id, bucket, nn_id, nn_cosine FROM r
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin
  )
}
