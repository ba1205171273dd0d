package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** text analysis, retrieval/corpus prep, quality/safety and tokenizers — the Text slice of the [[Pipeline]]
  * catalog (round-13 split: pure moves out of the former
  * single-file Pipeline.scala; composed back via
  * `object Pipeline extends ...`). */
private[graft] trait PipelineTextPart extends Serializable { this: Pipeline.type =>
  // ---- text analysis ---------------------------------------------------

  /** Exact deduplication, shuffle-lean AND truly exact: phase 1 groups a
    * 32-byte compound fingerprint (forward poly-hash, reverse poly-hash,
    * byte length) — the full documents never shuffle for the singleton
    * majority (the naive partitionBy(text) ships and sorts entire
    * documents). Phase 2 joins text back ONLY for multi-member
    * fingerprint groups (true-duplicate-sized) and re-keys on the content
    * itself, so a fingerprint collision can never merge distinct texts —
    * the result is identical to partitioning by raw text, which is
    * exactly what the oracle does. */
  private[graft] def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val docs = registered(s, dir)
    val wf = Window.partitionBy("h1", "h2", "len")
    val fp = docs
      .select(col("doc_id"), expr("poly_hash(text)").as("h1"),
        expr("poly_hash(reverse(text))").as("h2"),
        length(col("text")).as("len"))
      .withColumn("gsize", count(lit(1)).over(wf))
    val singles = fp.filter(col("gsize") === 1)
      .select(col("doc_id"), col("doc_id").as("keeper"),
        lit(false).as("is_dup"))
    val wt = Window.partitionBy("h1", "h2", "len", "text")
    val multis = fp.filter(col("gsize") > 1)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("keeper", min("doc_id").over(wt))
      .select(col("doc_id"), col("keeper"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
    singles.unionByName(multis).orderBy("doc_id")
  }
  /** Incremental cross-snapshot deduplication — the shape a GROWING
    * corpus runs nightly: an arriving batch (here the lexicographically
    * last source, a deterministic stand-in for "today's crawl") is
    * checked against the EXISTING store without ever re-deduplicating
    * the store against itself. Same exactness contract as
    * [[dedupExact]]: the join key is the 24-byte compound fingerprint
    * (forward + reverse poly-hash + length) so neither side shuffles
    * text; actual text travels ONLY for fingerprint-equal candidate
    * pairs (true-duplicate-sized) and a full text-equality verify makes
    * collisions unable to fabricate matches — which is why the oracle
    * can join on raw text. Each new doc reports its smallest matching
    * store doc, or −1 when genuinely new.
    *
    * 100 TB shape: the store's fingerprint table is what a production
    * run would keep materialized between snapshots; the batch-side scan
    * is the only per-snapshot corpus touch. */
  /** The incremental-dedup core over (doc_id, text) frames — separated
    * so the spec can drive it with planted duplicates (the real corpus
    * has cross-source exact dups only at sf0.1, where the real-corpus
    * spec run finds them; the gate SF proves the no-dup path). */
  private[graft] def incrementalVerdicts(batch: DataFrame,
      store: DataFrame): DataFrame = {
    def fp(df: DataFrame): DataFrame =
      df.selectExpr("doc_id", "text", "poly_hash(text) AS h1",
        "poly_hash(reverse(text)) AS h2", "length(text) AS len")
    val cand = fp(batch)
      .join(fp(store).select(col("h1"), col("h2"), col("len"),
        col("doc_id").as("store_id"), col("text").as("store_text")),
        Seq("h1", "h2", "len"))
      .filter(col("text") === col("store_text"))
      .groupBy("doc_id").agg(min("store_id").as("dup_of"))
    batch.select("doc_id")
      .join(cand, Seq("doc_id"), "left")
      .selectExpr("doc_id", "dup_of IS NOT NULL AS is_dup",
        "coalesce(dup_of, CAST(-1 AS BIGINT)) AS dup_of")
      .orderBy("doc_id")
  }
  private[graft] def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = registered(s, dir)
    val lastSource = docs.agg(max("source").as("batch_src"))
    val tagged = docs.crossJoin(broadcast(lastSource))
      .selectExpr("doc_id", "text", "source = batch_src AS is_batch")
    incrementalVerdicts(tagged.filter(col("is_batch")),
      tagged.filter(!col("is_batch")))
  }
  /** Near-duplicate CLUSTERING with keeper assignment — the step a
    * dedup pipeline runs after pair generation: transitive closure over
    * the MinHash-LSH near-dup pairs (a chain A~B~C collapses to ONE
    * keeper even when A~C itself scores below τ), every document mapped
    * to its component's minimum doc_id.
    *
    * Scale shape: iterative min-label propagation restricted to the
    * nodes the near-dup graph actually touches — per round, one join of
    * the (near-dup-pair-sized) label set to the edge list and a
    * min-aggregate; rounds needed = component diameter (near-dup chains
    * are shallow), each round is shuffle-on-key work with no driver-side
    * graph and NO pass over the full corpus (isolated documents join the
    * result exactly once at the end, as their own keeper). The classic
    * alternative (collect + union-find) dies at 100 TB; the
    * recursive-CTE oracle proves this converges to exactly the
    * connected components. */
  /** Near-dup component labels (min-label CC over the MinHash+LSH pair
    * graph), shared by dedup_clusters and dedup_keep_best through the
    * session scan cache — the iterative propagation runs once per
    * (session, corpus). */
  private[graft] def dedupLabels(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"dedup-lbl:$dir") {
      minLabelComponents(minhashLsh(s, dir).select("doc_a", "doc_b"))
    }
  private[graft] def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val lbl = dedupLabels(s, dir)
    // no broadcast hint: in a real web corpus the near-dup node set can
    // be a large fraction of the corpus — let AQE pick the join side
    registered(s, dir).select(col("doc_id"))
      .join(lbl, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("keeper"),
        coalesce(col("doc_id") =!= col("lbl"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }
  /** Quality-retaining dedup — the keeper policy production pipelines
    * actually use: within each near-dup cluster keep the BEST document
    * (longest by token count, doc_id tie-break), not the arbitrary
    * min-id (Lee et al. 2022 keep the longest of each duplicate pair;
    * min-id keepers silently bias the surviving corpus toward whatever
    * crawled first). Composes the shared component labels with a
    * quality metric; swap `n_tokens` for any scored column
    * (quality_classifier's llr, textQualityFull's panel) without
    * touching the cluster side.
    *
    * 100 TB shape: same pair graph + label propagation as
    * dedup_clusters (shared via [[dedupLabels]] — the iteration runs
    * once per session), then one cluster-keyed first_value window;
    * cluster sizes are near-dup-bounded, so no skew beyond what LSH
    * banding already caps. */
  private[graft] def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val lbl = dedupLabels(s, dir)
    registered(s, dir)
      .selectExpr("doc_id", "size(split(text, ' ')) AS n_tokens")
      .join(lbl, col("doc_id") === col("node"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("lbl"), col("doc_id")).as("cluster"))
      .selectExpr("doc_id", "n_tokens", "cluster",
        "first_value(doc_id) OVER (PARTITION BY cluster " +
          "ORDER BY n_tokens DESC, doc_id) AS best_doc")
      .selectExpr("doc_id", "cluster", "n_tokens", "best_doc",
        "doc_id = best_doc AS keep")
      .orderBy("doc_id")
  }
  /** Connected components over an undirected pair list by min-label
    * propagation WITH pointer jumping: each round a node takes the
    * minimum of its neighbors' labels (one edge step) AND its label's
    * label (the doubling step — distance to the component minimum
    * halves), so convergence is O(log diameter), not O(diameter): 25
    * rounds cover any graph a real corpus can produce (2^25 diameter).
    * State stays (node, lbl) rows — no driver-side graph; still fails
    * loudly rather than return an unconverged labeling. Returns one
    * (node, lbl) row per touched node, lbl = component minimum. */
  private[graft] def minLabelComponents(pairs: DataFrame): DataFrame = {
    val edges = pairs.toDF("doc_a", "doc_b")
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.toDF("doc_a", "doc_b")
        .select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    // edges carry both directions, so distinct src covers every touched
    // node; the propagation state never exceeds 2×|pairs| rows.
    var lbl = edges.select(col("src").as("node"))
      .distinct().withColumn("lbl", col("node"))
    var changed = 1L
    var rounds = 0
    val maxRounds = 25
    // Each round's localCheckpoint pins corpus-scale (node, lbl) blocks
    // in executor storage; release the previous round's blocks as soon
    // as the new round has materialized (the count below), so at most
    // one round of state stays pinned instead of all 25. The FINAL
    // round's checkpoint must stay: truncated lineage means its blocks
    // are the only copy of the returned labeling.
    var prevCkpt: DataFrame = null
    while (changed > 0 && rounds < maxRounds) {
      val prop = edges.join(lbl, edges("src") === lbl("node"))
        .select(col("dst").as("node"), col("lbl"))
      // pointer jump: labels are always node ids of the same component,
      // so the inner self-join is total
      val ptr = lbl.join(
          lbl.select(col("node").as("pnode"), col("lbl").as("plbl")),
          col("lbl") === col("pnode"))
        .select(col("node"), col("plbl").as("lbl"))
      // change detection rides INSIDE the round's aggregation: every node
      // has exactly one row in lbl (prop targets are edge nodes), so
      // min(old) recovers the previous label without a second join/action.
      // localCheckpoint (eager) TRUNCATES LINEAGE: the round's plan
      // references the previous round three times, so without truncation
      // the logical tree grows 3^rounds and the driver, not the data,
      // becomes the bottleneck.
      val next = lbl.select(col("node"), col("lbl"), col("lbl").as("old"))
        .unionByName(prop.withColumn("old", lit(Long.MaxValue)))
        .unionByName(ptr.withColumn("old", lit(Long.MaxValue)))
        .groupBy("node").agg(min("lbl").as("lbl"), min("old").as("old"))
        .localCheckpoint()
      changed = next.filter(col("lbl") =!= col("old")).count()
      if (prevCkpt != null) prevCkpt.unpersist()
      prevCkpt = next
      lbl = next.select("node", "lbl")
      rounds += 1
    }
    edges.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"minLabelComponents: still moving after $maxRounds doubling " +
          "rounds (diameter > 2^25) — refusing to return an unconverged " +
          "labeling")
    lbl
  }
  /** Deterministic content-hash sampling — the reproducible corpus
    * subsample a training pipeline uses: keep a document iff its
    * scrambled content hash lands under the rate threshold (seed-free
    * Bernoulli that survives re-sharding, replays, and engine moves —
    * unlike RNG-based TABLESAMPLE, two runs and two engines always keep
    * the same documents). Aggregated per source so the oracle checks the
    * kept counts and the realized rate; the same scramble as the KMV
    * sketch de-biases the short-token poly hashes. */
  private[graft] def sampleHash(s: SparkSession, dir: String): DataFrame =
    registered(s, dir)
      .selectExpr("source",
        s"CASE WHEN poly_hash(text) * 2654435761L % ${P}L % 1000 < 100 " +
          "THEN 1L ELSE 0L END AS kept")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"))
      .selectExpr("source", "n_docs", "n_kept",
        "n_kept / CAST(n_docs AS DOUBLE) AS rate")
      .orderBy("source")
  /** Postings kept per term in the inverted-index artifact. */
  final val IdxPostings = 4
  /** Inverted-index build — the retrieval-index ARTIFACT a corpus
    * pipeline materializes (BM25 answers queries; this emits the index
    * itself): per term its document frequency, total term frequency,
    * and the top-[[IdxPostings]] postings by tf (doc_id-tiebroken),
    * exploded to scalar rows so the gate hash-compares exactly.
    *
    * Shape: ONE token-explode pass → (term, doc) tf with map-side
    * combine; term stats aggregate OVER the tf table (no second corpus
    * pass — the tfidf_terms move); the postings cap is a rank window
    * partitioned by term, never a global sort. */
  private[graft] def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = docTermTf(s, dir)
    val stats = tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("total_tf"))
    tf.withColumn("rank", row_number().over(
        Window.partitionBy("term").orderBy(desc("tf"), asc("doc_id")))
        .cast("long"))
      .filter(col("rank") <= IdxPostings)
      .join(stats, "term")
      .select("term", "df", "total_tf", "rank", "doc_id", "tf")
      .orderBy("term", "rank")
  }
  /** KL panel width: the top-N corpus tokens. */
  final val KlVocab = 64
  /** Per-source distribution drift: KL(source ‖ corpus) over the
    * restricted distribution on the top-[[KlVocab]] corpus tokens —
    * the curator's "which source stopped looking like the corpus"
    * readout (CCNet measures exactly this against a reference corpus).
    *
    * Exactness: the source side is add-one smoothed over the panel
    * (p_s(w) = (c_s+1)/(n_s+64), a proper distribution, no ln(0));
    * both logs are rounded to 6 dp pre-multiply (the bm25 convention)
    * and each term's contribution lands in 1e-9 fixed point BEFORE the
    * per-source sum, so the total is BIGINT and order-independent.
    *
    * Shape: one vocab-keyed count picks the panel (TakeOrdered); the
    * corpus re-scan probes the 64-token panel by broadcast hash join —
    * per-source counts then live on a (sources × 64) key space. */
  private[graft] def sourceKl(s: SparkSession, dir: String): DataFrame = {
    val toks = registered(s, dir)
      .selectExpr("source", "explode(split(text, ' ')) AS tok")
    val top = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), asc("tok")).limit(KlVocab)
    val tot = top.agg(sum("c").as("ct"))
    val probed = toks.join(broadcast(top.select("tok")), Seq("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("cs"))
    // the FULL sources × panel grid: a panel token a source never emits
    // still contributes its smoothed (0+1)/(n_s+64) mass — dropping
    // those rows would understate the divergence exactly where it is
    // largest
    val sc = toks.select("source").distinct()
      .crossJoin(broadcast(top))
      .join(probed, Seq("source", "tok"), "left")
      .na.fill(0L, Seq("cs"))
    val ns = sc.groupBy("source").agg(sum("cs").as("n_s"))
    sc.join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .selectExpr("source", "n_s",
        s"CAST(round((cs + 1) / (n_s + $KlVocab.0D) * " +
          s"(round(ln((cs + 1) / (n_s + $KlVocab.0D)), 6) - " +
          "round(ln(c / CAST(ct AS DOUBLE)), 6)) * 1000000000) AS BIGINT) " +
          "AS contrib")
      .groupBy("source", "n_s").agg(sum("contrib").as("kl_e9"))
      .select("source", "n_s", "kl_e9")
      .orderBy("source")
  }
  /** PMI panel width: the top-N document-frequency tokens. */
  final val PmiTop = 16
  /** Pointwise mutual information of token co-occurrence within
    * documents, over the [[PmiTop]] highest-df tokens — the
    * collocation/association readout of a text pipeline (which heavy
    * terms travel together, which repel).
    *
    * Shape: df is a count over the shared [[docTermTf]] table (rows
    * are already distinct per doc) + a TakeOrdered head picks the
    * panel; the 16-row panel broadcast HASH-joins the tf table on the
    * term key (N×16 presence rows, never N×V — r9: replaced the
    * array_contains nested-loop, the panel probe is now an equi-join);
    * pair counts self-join presence on doc_id (≤ C(16,2)=120 rows per
    * doc) and aggregate onto the constant 120-pair key space. PMI's
    * lone libm call is rounded to 6 dp pre-emission (the bm25/tfidf
    * cross-engine convention). Only co-occurring pairs emit. */
  private[graft] def tokenPmi(s: SparkSession, dir: String): DataFrame = {
    val tf = docTermTf(s, dir)
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(desc("df"), asc("term")).limit(PmiTop)
      .withColumn("i", row_number().over(
        Window.orderBy(desc("df"), asc("term"))).cast("long"))
    val pres = tf.join(broadcast(df), Seq("term"))
      .select(col("doc_id"), col("term").as("tok"), col("i"), col("df"))
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val a = pres.select(col("doc_id"), col("tok").as("tok_a"),
      col("i").as("ia"), col("df").as("n_a"))
    val b = pres.select(col("doc_id"), col("tok").as("tok_b"),
      col("i").as("ib"), col("df").as("n_b"))
    a.join(b, Seq("doc_id")).filter(col("ia") < col("ib"))
      .groupBy("tok_a", "tok_b", "n_a", "n_b")
      .agg(count(lit(1)).as("n_ab"))
      .crossJoin(broadcast(nDocs))
      .selectExpr("tok_a", "tok_b", "n_a", "n_b", "n_ab",
        "round(ln(CAST(n_docs AS DOUBLE) * n_ab / (n_a * n_b)), 6) AS pmi")
      .orderBy("tok_a", "tok_b")
  }
  /** Priority-sampling size. */
  final val WsK = 100
  /** Weighted sampling without replacement — Duffield–Lund–Thorup
    * priority sampling, integer-exact and seed-free: each document gets
    * priority `h div w` (h = scrambled content hash, uniform on [0, P);
    * w = token count), and the sample is the K smallest priorities.
    * Inclusion probability rises with w (a document of twice the weight
    * halves its priority), the estimator properties are DLT's, and the
    * selection is a pure function of content — reproducible across
    * re-sharding, replays, and engines, the sample_hash property.
    *
    * 100 TB shape: priorities are a map pass over the scan; the K-pick
    * is TakeOrdered (per-partition heads + driver merge of K rows),
    * never a global sort. */
  private[graft] def sampleWeighted(s: SparkSession, dir: String): DataFrame =
    registered(s, dir)
      .selectExpr("doc_id",
        "CAST(size(split(text, ' ')) AS BIGINT) AS w",
        s"poly_hash(text) * 2654435761L % ${P}L AS h")
      .selectExpr("doc_id", "w", "h div w AS pri")
      .orderBy(asc("pri"), asc("doc_id")).limit(WsK)
  /** Balanced per-source resampling: keep each source's K documents with
    * the lowest scrambled content hash — a deterministic reservoir that
    * caps any one source's share of the training mixture. Hash order
    * (not doc_id order) keeps the selection stable under re-sharding and
    * corpus growth: a newly-arrived document displaces at most one kept
    * document, instead of shifting the whole prefix. */
  private[graft] def sampleBalanced(s: SparkSession, dir: String): DataFrame = {
    val k = 10
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
    registered(s, dir)
      .selectExpr("doc_id", "source",
        s"poly_hash(text) * 2654435761L % ${P}L AS h")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("source"), col("rk").cast("long").as("rk"),
        col("doc_id"), col("h"))
      .orderBy("source", "rk")
  }
  /** Deterministic train/val/test assignment (80/10/10) from the
    * scrambled content hash: the split is a property of the DOCUMENT,
    * not of file layout or arrival order — re-sharding, replays, and
    * corpus growth never move a document across splits (a new document
    * adds one row to one side and disturbs nothing), and any engine
    * computing the same fold lands it in the same split. Pure map over
    * the scan — zero shuffle, unlike a per-source rank split (which
    * needs a global sort per source and collapses each source onto one
    * partition at 100 TB). Same hash family as [[sampleHash]], but a
    * different multiplier path (bucket, not threshold) so the two
    * selections are independent. */
  private[graft] def corpusSplit(s: SparkSession, dir: String): DataFrame =
    registered(s, dir)
      .selectExpr("doc_id", "source",
        s"poly_hash(text) * 2654435761L % ${P}L % 1000 AS bucket")
      .selectExpr("doc_id", "source", "bucket",
        "CASE WHEN bucket < 800 THEN 'train' " +
          "WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split")
      .orderBy("doc_id")
  /** Mergeable equi-width histogram quantiles over the per-document
    * token count — what a 100 TB corpus profiler runs instead of a
    * global sort. The corpus is touched ONCE: a (value → count)
    * histogram aggregate with full map-side combine, whose output is
    * DOMAIN-sized (distinct token-count values), not corpus-sized.
    * Everything downstream reads that histogram: the (min, max, n)
    * bounds are one broadcast single-row aggregate over it, the
    * [[QsBins]]-bin equi-width sketch is a second domain-sized
    * aggregate (the mergeable-by-addition state a shard/stream would
    * keep), each quantile estimate is the upper edge of the first bin
    * whose cumulative count reaches ceil(q·n), and the EXACT quantile
    * is the first VALUE whose cumulative count reaches it — exact
    * because the values are integers, and scale-safe because the
    * cumulative windows run over the domain, never the corpus (no
    * corpus-sized collect, no global sort). All arithmetic is
    * integer, so both columns are engine-exact and `err` is a
    * measured column bounded by one bin width by construction. */
  private[graft] def quantileSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = QsBins
    // the ONE corpus pass: value histogram, domain-sized output —
    // persisted per (session, dir) so the three consumers below (bounds,
    // exact cumulative, bin cumulative) read the cached histogram
    // instead of re-deriving it from the scan (PlanAuditSpec pins the
    // single corpus read)
    val vh = ScanCache.get(s, s"qsketch-vh:$dir") {
      Tables.documents(s, dir)
        .selectExpr("CAST(size(split(text, ' ')) AS BIGINT) AS x")
        .groupBy("x").agg(count(lit(1)).as("c"))
    }
    val bounds = vh.agg(min("x").as("mn"), max("x").as("mx"),
      sum("c").as("n"))
    // domain-sized windows: cumulative count by value (exact side) and
    // by bin (sketch side)
    val wx = Window.orderBy("x")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumV = vh.withColumn("cum", sum("c").over(wx))
    val wb = Window.orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumB = vh.crossJoin(broadcast(bounds.select("mn", "mx")))
      .selectExpr(s"(x - mn) * $B DIV (mx - mn + 1) AS bin", "c")
      .groupBy("bin").agg(sum("c").as("c"))
      .withColumn("cum", sum("c").over(wb))
    val k = Seq(500000L, 900000L, 990000L).toDF("q_ppm")
      .crossJoin(broadcast(bounds.select("n")))
      .selectExpr("q_ppm", "(q_ppm * n + 999999) DIV 1000000 AS kidx")
    val est = k.join(cumB, col("cum") >= col("kidx"))
      .groupBy("q_ppm", "kidx").agg(min("bin").as("qbin"))
    val exact = k.select("q_ppm", "kidx")
      .join(cumV, col("cum") >= col("kidx"))
      .groupBy("q_ppm").agg(min("x").as("exact"))
    est.join(exact, Seq("q_ppm"))
      .crossJoin(broadcast(bounds.select("mn", "mx")))
      .selectExpr("q_ppm",
        s"mn + ((qbin + 1) * (mx - mn + 1) + ${B - 1}) DIV $B - 1 AS est",
        "exact")
      .selectExpr("q_ppm", "est", "exact", "est - exact AS err")
      .orderBy("q_ppm")
  }
  /** Histogram resolution of [[quantileSketch]]. */
  final val QsBins = 64
  /** Per-source corpus report — the dashboard a curator reads before a
    * training run, as ONE query: volume (docs/tokens/chars), the
    * quality-label mix of the text_quality classifier, language
    * spread, and the exact-duplicate rate. Dup detection uses the
    * compound fingerprint of [[dedupExact]] (forward + reverse hash +
    * length) so the report shuffles 24-byte keys, never text — a
    * report is fingerprint-grade; `dedup_exact` remains the
    * collision-proof path. One fingerprint window + one groupBy
    * source; token/char/label columns fold map-side. */
  private[graft] def corpusReport(s: SparkSession, dir: String): DataFrame = {
    val base = registered(s, dir)
      .selectExpr("doc_id", "source", "lang",
        "size(split(text, ' ')) AS n_tokens",
        "length(text) AS n_chars",
        "size(filter(split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop",
        "poly_hash(text) AS h1", "poly_hash(reverse(text)) AS h2")
    val wf = Window.partitionBy("h1", "h2", "n_chars")
    base
      .withColumn("is_dup", col("doc_id") =!= min("doc_id").over(wf))
      .selectExpr("source", "lang", "n_tokens", "n_chars", "is_dup",
        "CASE WHEN n_tokens < 20 THEN 'short' " +
          "WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15 THEN 'stopwordy' " +
          "ELSE 'good' END AS q")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("q") === "good", 1L).otherwise(0L)).as("n_good"),
        sum(when(col("q") === "short", 1L).otherwise(0L)).as("n_short"),
        sum(when(col("q") === "stopwordy", 1L).otherwise(0L))
          .as("n_stopwordy"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dups"))
      .withColumn("dup_rate", col("n_dups") / col("n_docs"))
      .orderBy("source")
  }
  /** HELD-OUT perplexity gate — the composition a quality pipeline
    * actually runs: the bigram model trains ONLY on [[corpusSplit]]'s
    * train bucket and scores the val bucket, so the score measures
    * generalization instead of memorization (bigram_lm's self-scoring
    * twin). Unseen val bigrams/unigrams survive via LEFT joins with
    * zero counts — exactly what add-one smoothing is for; the split
    * predicate is a map-side filter on the same scan (no extra pass),
    * and the model tables keep bigram_lm's deliberate shuffle-join
    * shape (vocabulary-sized, corpus-growing, never broadcast). */
  private[graft] def bigramLmHeldout(s: SparkSession, dir: String): DataFrame = {
    val docs = registered(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk",
        s"poly_hash(text) * 2654435761L % ${P}L % 1000 AS bucket")
    val train = docs.filter(col("bucket") < 800)
    val valD = docs.filter(col("bucket") >= 800 && col("bucket") < 900)
    def bigramsOf(d: DataFrame): DataFrame = d.selectExpr("doc_id",
      "explode(transform(sequence(1, greatest(size(tk) - 1, 1)), " +
        "i -> IF(i <= size(tk) - 1, struct(element_at(tk, CAST(i AS INT)) AS w1, " +
        "element_at(tk, CAST(i + 1 AS INT)) AS w2), NULL))) AS bg")
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val uni = train.selectExpr("explode(tk) AS w")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val bi = bigramsOf(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bigramsOf(valD)
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .selectExpr("doc_id",
        "CAST(round(ln((coalesce(c2, CAST(0 AS BIGINT)) + CAST(1 AS DOUBLE)) " +
          "/ (coalesce(c1, CAST(0 AS BIGINT)) + CAST(vocab AS DOUBLE))) " +
          "* CAST(1000000 AS DOUBLE)) AS BIGINT) AS lp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("slp"))
      .selectExpr("doc_id", "n_bigrams",
        "round(CAST(slp AS DOUBLE) / n_bigrams / CAST(1000000 AS DOUBLE), 4) " +
          "AS avg_logp")
      .orderBy("doc_id")
  }
  /** Token counting: whitespace tokens, distinct tokens, characters. */
  private[graft] def tokenStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).selectExpr(
      "doc_id",
      "size(split(text, ' ')) AS n_tokens",
      "size(array_distinct(split(text, ' '))) AS n_unique",
      "length(text) AS n_chars_m")
      .orderBy("doc_id")
  /** Quality scoring: stopword ratio, mean token length, class label —
    * the length/punctuation/stopword heuristics of a pretraining filter. */
  private[graft] def textQuality(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).selectExpr(
      "doc_id",
      "size(split(text, ' ')) AS n_tokens",
      "size(filter(split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop")
      .selectExpr(
        "doc_id", "n_tokens",
        "n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio",
        "CASE WHEN n_tokens < 20 THEN 'short' " +
          "WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15 THEN 'stopwordy' " +
          "ELSE 'good' END AS quality")
      .orderBy("doc_id")
  /** Full quality panel — the length/punct/stopword triad of a
    * pretraining filter (the compact `text_quality` stays as the oracle
    * for the classifier shape): token count, mean token length,
    * punctuation ratio (non-alphanumeric-non-space chars over all
    * chars), stopword ratio, and the resulting keep/flag label. */
  private[graft] def textQualityFull(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).selectExpr(
      "doc_id",
      "size(split(text, ' ')) AS n_tokens",
      "length(text) AS n_chars",
      "length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS n_punct",
      "size(filter(split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop")
      // n_chars guarded by greatest(...,1): an empty document must yield
      // ratio 0, not Spark-NULL-vs-DuckDB-NaN (engines disagree on 0/0)
      .selectExpr("doc_id", "n_tokens", "n_chars",
        "n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio",
        "n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio",
        "(n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE)" +
          " AS mean_tok_len",
        "CASE WHEN n_tokens < 20 THEN 'short' " +
          "WHEN n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) > 0.1 " +
          "THEN 'punct_heavy' " +
          "WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15 THEN 'stopwordy' " +
          "ELSE 'keep' END AS label")
      .orderBy("doc_id")
  /** Per-document character-distribution Shannon entropy — the classic
    * gibberish/encoded-blob detector beside the ratio panel: natural
    * text sits near the language's characteristic ~2.5-4 nats/char
    * band, base64/hex blobs and repeated-char spam fall far outside it.
    * H = Σ (cnt/n)·ln(n/cnt) over the document's character histogram,
    * accumulated in integer micro-nats with the repo's round-to-6dp ln
    * convention (a last-ulp libm difference between engines dies in the
    * rounding), one double division at the end.
    *
    * 100 TB shape: a pure map over the scan — the histogram is built
    * per row with array expressions (O(len·|alphabet|) per document,
    * alphabet-bounded), ZERO shuffle, and the output is one narrow row
    * per document. */
  private[graft] def charEntropy(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "length(text) AS n", "split(text, '') AS chs")
      .selectExpr("doc_id", "n",
        "transform(array_distinct(chs), ch -> " +
          "size(filter(chs, c -> c = ch))) AS cnts")
      .selectExpr("doc_id", "n", "size(cnts) AS n_distinct",
        // integer round BEFORE the cast: round(x·1e6, 0) is an exact
        // integer-valued double, so Spark's truncating and DuckDB's
        // rounding long-cast agree by construction (round(x,6)·1e6 can
        // land a hair under the integer and split the engines)
        "aggregate(cnts, CAST(0 AS BIGINT), (a, c) -> a + c * " +
          "CAST(round(ln(n / CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)) " +
          "AS micro_nats")
      .selectExpr("doc_id", "n", "n_distinct",
        "round(CAST(micro_nats AS DOUBLE) / n / 1000000.0, 4) AS entropy")
      .orderBy("doc_id")
  /** Winnowing fingerprints (the rolling-hash document signature of
    * Schleimer et al.'s MOSS): k-gram ROLLING hashes over the char
    * stream, then each sliding window of w consecutive hashes
    * contributes its minimum — near-identical documents share most
    * selected fingerprints even under edits, which a whole-document
    * fold (doc_fingerprint) cannot offer. Selected set presented as
    * distinct count + min/max for the engine-neutral compare. */
  private[graft] def winnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    val k = 8  // k-gram length
    val w = 4  // winnowing window
    registered(s, dir)
      .selectExpr("doc_id",
        // rolling k-gram hashes in one O(len) pass (same values as the
        // per-substring poly_hash fold — PolyHashWindowsSpec pins it);
        // sub-k documents keep the legacy whole-text hash the oracle's
        // clamped range produces
        s"CASE WHEN length(text) >= $k THEN poly_hash_windows(text, $k) " +
          "ELSE array(poly_hash(text)) END AS kg")
      .selectExpr("doc_id",
        s"array_distinct(transform(sequence(1, greatest(size(kg) - ${w - 1}, 1)), " +
          s"j -> array_min(slice(kg, cast(j AS int), $w)))) AS fps")
      .selectExpr("doc_id", "size(fps) AS n_fps",
        "array_min(fps) AS min_fp", "array_max(fps) AS max_fp")
      .orderBy("doc_id")
  }
  // ---- retrieval / corpus prep ------------------------------------------

  /** BM25 keyword retrieval (Robertson/Sparck Jones, the Okapi form used
    * by every pretraining-corpus search index): score each document
    * against a fixed query-term set, return the top 20.
    *
    * 100 TB shape: per-document term frequencies are array folds over the
    * token list (codegen, zero shuffle); the corpus statistics (N, Σdl,
    * per-term document frequency) are ONE single-row aggregate broadcast
    * back via cross join; the top-k is a TakeOrdered, not a global sort.
    * No explode, no token-level shuffle — the inverted-index build is
    * deliberately avoided because the query set is a handful of terms.
    *
    * Cross-engine determinism: the only libm call (ln in idf) is rounded
    * to 6 dp before scoring, so a last-ulp ln difference between the JVM
    * and DuckDB cannot propagate; everything else is IEEE +,*,/ on
    * integer-derived doubles (exactly rounded, engine-identical). Final
    * score rounded to 4 dp with doc_id tiebreak. */
  private[graft] val Bm25Terms = Seq("spark", "join", "window")
  private[graft] def bm25(s: SparkSession, dir: String): DataFrame = {
    // explicit DOUBLE literals: a bare 1.2 parses as DECIMAL in both
    // engines, and decimal-vs-double intermediates round differently
    val k1 = "CAST(1.2 AS DOUBLE)"
    val b  = "CAST(0.75 AS DOUBLE)"
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"size(filter(tk, x -> x = '$t')) AS tf$i" }
    val d = Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk")
      .selectExpr(Seq("doc_id", "size(tk) AS dl") ++ tfCols: _*)
    val statAggs = Seq("count(*) AS n_docs", "sum(dl) AS sum_dl") ++
      Bm25Terms.indices.map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
    val stats = d.selectExpr(statAggs: _*)
    val idfCols = Bm25Terms.indices.map(i =>
      s"round(ln(1.0d + (n_docs - df$i + 0.5d) / (df$i + 0.5d)), 6) AS idf$i")
    val scoreTerms = Bm25Terms.indices.map(i =>
      s"idf$i * (tf$i * ($k1 + 1)) / " +
        s"(tf$i + $k1 * (1 - $b + $b * dl / avgdl))").mkString(" + ")
    d.crossJoin(broadcast(
        stats.selectExpr(
          Seq("n_docs", "CAST(sum_dl AS DOUBLE) / n_docs AS avgdl") ++
            idfCols: _*)))
      .selectExpr("doc_id", "dl AS n_tokens",
        s"round($scoreTerms, 4) AS score")
      .where("score > 0")
      .orderBy(desc("score"), asc("doc_id"))
      .limit(20)
  }
  /** Reciprocal-rank-fusion constant (Cormack et al. 2009's k = 60) and
    * the fixed-point scale: each list contributes `1e9 div (60 + rank)`,
    * an exact BIGINT, so fused scores and the final ordering are
    * engine-identical with no float summation anywhere. */
  final val RrfK = 60L
  final val RrfScale = 1000000000L
  /** Reciprocal-rank fusion of two retrieval signals over the SAME
    * corpus and query (the [[Bm25Terms]]): the saturating BM25 ranker
    * and a plain tf·idf dot-product ranker. RRF is the standard way to
    * merge heterogeneous rankers without score calibration — only RANKS
    * cross lists, so the two incomparable score scales never meet.
    *
    * Both input rankers are top-20 TakeOrdered heads over broadcast
    * corpus stats (the bm25 plan shape); the fusion itself is a full
    * outer join of two ≤20-row lists — driver-trivial, corpus-free.
    * Documents missing from one list contribute nothing for it (the
    * rank term is 0, the RRF convention), surfacing documents that
    * only one signal found. */
  private[graft] def rrfFusion(s: SparkSession, dir: String): DataFrame = {
    def ranked(df: DataFrame, rankCol: String): DataFrame =
      df.withColumn(rankCol, row_number().over(
        Window.orderBy(desc("score"), asc("doc_id"))).cast("long"))
        .select("doc_id", rankCol)
    val bm = ranked(bm25(s, dir), "rank_bm")
    // tf·idf ranker over the same terms: Σ tf·round(ln(N/df), 6),
    // rounded idf for cross-engine ln stability (the tfidf_terms move)
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"size(filter(tk, x -> x = '$t')) AS tf$i" }
    val d = Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk")
      .selectExpr("doc_id" +: tfCols: _*)
    val statAggs = Seq("count(*) AS n_docs") ++ Bm25Terms.indices.map(i =>
      s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
    val idfCols = Bm25Terms.indices.map(i =>
      s"round(ln(CAST(n_docs AS DOUBLE) / df$i), 6) AS idf$i")
    val score = Bm25Terms.indices.map(i => s"tf$i * idf$i").mkString(" + ")
    val tfidf = d.crossJoin(broadcast(
        d.selectExpr(statAggs: _*).selectExpr(idfCols: _*)))
      .selectExpr("doc_id", s"round($score, 4) AS score")
      .where("score > 0")
      .orderBy(desc("score"), asc("doc_id")).limit(20)
    bm.join(ranked(tfidf, "rank_tf"), Seq("doc_id"), "full_outer")
      .selectExpr("doc_id",
        "coalesce(rank_bm, CAST(0 AS BIGINT)) AS rank_bm",
        "coalesce(rank_tf, CAST(0 AS BIGINT)) AS rank_tf",
        s"coalesce(CAST($RrfScale AS BIGINT) div ($RrfK + rank_bm), " +
          "CAST(0 AS BIGINT)) " +
          s"+ coalesce(CAST($RrfScale AS BIGINT) div ($RrfK + rank_tf), " +
          "CAST(0 AS BIGINT)) AS rrf_fp")
      .orderBy(desc("rrf_fp"), asc("doc_id"))
  }
  /** Token-window chunking — the context-window prep step of a training
    * pipeline: each document becomes fixed 64-token windows with a
    * 16-token overlap (stride 48); the tail window may be short.
    * Embarrassingly parallel: sequence+explode per row, no shuffle. */
  private[graft] def docChunks(s: SparkSession, dir: String): DataFrame = {
    val (win, stride, overlap) = (64, 48, 16)
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk")
      .selectExpr("doc_id", "tk", "size(tk) AS n")
      .selectExpr("doc_id", "tk",
        s"explode(sequence(0, greatest(CAST(ceil((n - $overlap) / $stride.0) AS INT), 1) - 1)) AS chunk_id")
      .selectExpr("doc_id", "chunk_id",
        s"chunk_id * $stride AS start_tok",
        s"size(slice(tk, chunk_id * $stride + 1, $win)) AS n_tok",
        s"array_join(slice(tk, chunk_id * $stride + 1, $win), ' ') AS chunk_text")
      .orderBy("doc_id", "chunk_id")
  }
  /** T5/UL2-style span corruption — the denoising-objective example
    * builder: tokens group into spans of 3, every 5th span (20% token
    * mask rate at span length 3, the T5 regime) is replaced in the
    * INPUT by a numbered `<extra_id_k>` sentinel, and the TARGET is
    * the sentinel-prefixed concatenation of the masked spans. The
    * schedule is positional and deterministic — reproducible across
    * engines, replays and re-sharding (the corpus_split property,
    * which a random mask cannot give). Per doc: token/mask/span counts
    * and md5s of both sides. Pure map pass, zero shuffle. */
  private[graft] def spanCorrupt(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws",
        "sequence(0, CAST((size(ws) - 1) div 3 AS INT)) AS gs")
      .selectExpr("doc_id",
        "CAST(size(ws) AS BIGINT) AS n_tokens",
        "aggregate(gs, CAST(0 AS BIGINT), (a, g) -> a + " +
          "(CASE WHEN g % 5 = 0 THEN size(slice(ws, g * 3 + 1, 3)) " +
          "ELSE 0 END)) AS n_masked",
        "CAST(size(filter(gs, g -> g % 5 = 0)) AS BIGINT) AS n_spans",
        "md5(array_join(transform(gs, g -> CASE WHEN g % 5 = 0 " +
          "THEN concat('<extra_id_', CAST(g div 5 AS STRING), '>') " +
          "ELSE array_join(slice(ws, g * 3 + 1, 3), ' ') END), ' ')) " +
          "AS input_md5",
        "md5(array_join(transform(filter(gs, g -> g % 5 = 0), " +
          "g -> concat('<extra_id_', CAST(g div 5 AS STRING), '> ', " +
          "array_join(slice(ws, g * 3 + 1, 3), ' '))), ' ')) " +
          "AS target_md5")
      .orderBy("doc_id")
  /** Cap on the MLM replacement vocabulary: top-K tokens by corpus
    * frequency (deterministic tie-break on the token). Keeps the
    * driver-side collect model-sized on ANY corpus — a web-scale
    * corpus has billions of distinct tokens, so an uncapped
    * `distinct().collect()` is a driver OOM; the cap is mirrored in
    * the DuckDB oracle. */
  val MlmVocabCap = 4096
  /** BERT-style MLM masking with the 80/10/10 rule — the third
    * objective builder beside [[spanCorrupt]] and [[fimTransform]]:
    * every 7th token masks (≈14%); of the masked, positions cycle
    * 8-1-1 between `[MASK]`, a vocabulary replacement (picked
    * deterministically from the alphabetically SORTED top-K-by-
    * frequency vocabulary by `(pos + doc_id) mod V` — reproducible,
    * unlike a sampled token) and left-unchanged. Labels are the
    * original tokens at masked positions. The vocabulary collect is
    * bounded at [[MlmVocabCap]] rows (the NB-gate pattern —
    * frequency ranking is a partial-combine groupBy, never a full
    * distinct to the driver); everything else is a map pass. */
  private[graft] def mlmMask(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val voc = Tables.documents(s, dir)
      .selectExpr("explode(split(text, ' ')) AS w")
      .filter("w <> ''")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(MlmVocabCap)
      .select("w").as[String].collect().sorted
    val v = voc.length
    Tables.documents(s, dir).selectExpr("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, t) =>
        val ws = t.split(" ", -1)
        var nMask = 0L
        var nRep = 0L
        var nSame = 0L
        val labels = Seq.newBuilder[String]
        val out = ws.zipWithIndex.map { case (w, i0) =>
          val pos = i0 + 1
          if (pos % 7 != 0) w
          else {
            labels += w
            val r = (pos / 7) % 10
            if (r < 8) { nMask += 1; "[MASK]" }
            else if (r == 8) { nRep += 1; voc(((pos + id) % v).toInt) }
            else { nSame += 1; w }
          }
        }
        (id, ws.length.toLong, nMask + nRep + nSame, nMask, nRep, nSame,
          md5utf(out.mkString(" ")), md5utf(labels.result().mkString(" ")))
      }
      .toDF("doc_id", "n_tokens", "n_masked", "n_mask_tok", "n_replaced",
        "n_unchanged", "input_md5", "labels_md5")
      .orderBy("doc_id")
  }
  private[graft] def md5utf(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  /** Fill-in-middle transform (code-LM preprocessing): deterministic
    * thirds split at ⌊n/3⌋ and ⌊2n/3⌋, emitted in both PSM
    * (prefix-suffix-middle) and SPM sentinel orders. Same
    * reproducibility contract as [[spanCorrupt]]; pure map pass. */
  private[graft] def fimTransform(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id", "ws", "size(ws) AS n",
        "size(ws) div 3 AS p1", "(2 * size(ws)) div 3 AS p2")
      .selectExpr("doc_id", "CAST(n AS BIGINT) AS n_tokens",
        "p1 AS prefix_len",
        "p2 - p1 AS middle_len",
        "md5(concat('<fim_pre> ', " +
          "array_join(slice(ws, 1, CAST(p1 AS INT)), ' '), " +
          "' <fim_suf> ', " +
          "array_join(slice(ws, CAST(p2 + 1 AS INT), CAST(n - p2 AS INT)), ' '), " +
          "' <fim_mid> ', " +
          "array_join(slice(ws, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT)), ' '))) " +
          "AS psm_md5",
        "md5(concat('<fim_suf> ', " +
          "array_join(slice(ws, CAST(p2 + 1 AS INT), CAST(n - p2 AS INT)), ' '), " +
          "' <fim_pre> ', " +
          "array_join(slice(ws, 1, CAST(p1 AS INT)), ' '), " +
          "' <fim_mid> ', " +
          "array_join(slice(ws, CAST(p1 + 1 AS INT), CAST(p2 - p1 AS INT)), ' '))) " +
          "AS spm_md5")
      .orderBy("doc_id")
  /** Greedy sequence packing, GPT-style concat-then-split: documents are
    * concatenated in deterministic order within each source shard and cut
    * at a 256-token budget; a document whose token span crosses a cut
    * belongs to the sequence where it starts and is flagged
    * `spans_boundary` (the split the trainer will make).
    *
    * 100 TB shape: the running offset is a prefix sum windowed PER SOURCE
    * SHARD (partitionBy source), so packing is embarrassingly parallel
    * across shards — never a global unpartitioned window. */
  private[graft] def seqPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 256
    val w = Window.partitionBy("source").orderBy("doc_id")
    Tables.documents(s, dir)
      .selectExpr("source", "doc_id", "size(split(text, ' ')) AS n_tokens")
      .withColumn("end_off", sum("n_tokens").over(w))
      .selectExpr("source", "doc_id", "n_tokens",
        "end_off - n_tokens AS start_off")
      .selectExpr("source", "doc_id", "n_tokens", "start_off",
        s"start_off div $budget AS seq_id",
        s"(start_off + n_tokens - 1) div $budget <> start_off div $budget AS spans_boundary")
      .orderBy("source", "doc_id")
  }
  /** Composite corpus filter — the keep/drop verdict a pretraining
    * ingest applies, with the FIRST failing rule as the drop reason:
    * exact-duplicate (poly-hash fingerprint keeper), language allowlist,
    * length floor, punctuation ceiling, stopword ceiling. One fingerprint
    * shuffle; every other signal is a per-row expression. */
  private[graft] def corpusFilter(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    registered(s, dir)
      .selectExpr("doc_id", "lang", s"${charFold("text")} AS fp",
        "size(split(text, ' ')) AS n_tokens",
        "length(text) AS n_chars",
        "length(regexp_replace(text, '[A-Za-z0-9 ]', '')) AS n_punct",
        "size(filter(split(text, ' '), t -> t IN ('the', 'a'))) AS n_stop")
      .withColumn("keeper", min("doc_id").over(w))
      .selectExpr("doc_id",
        "CASE WHEN doc_id <> keeper THEN 'duplicate' " +
          "WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'lang' " +
          "WHEN n_tokens < 20 THEN 'too_short' " +
          "WHEN n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) > 0.1 THEN 'punct_heavy' " +
          "WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15 THEN 'stopwordy' " +
          "ELSE 'keep' END AS reason")
      .selectExpr("doc_id", "reason = 'keep' AS keep", "reason")
      .orderBy("doc_id")
  }
  /** Bigram language-model quality score — perplexity filtering, the
    * KenLM-style gate of a pretraining pipeline, self-trained on the
    * corpus: per-document mean log-probability of its token bigrams under
    * an add-one-smoothed bigram model estimated from the whole corpus.
    * Low-probability documents (gibberish, boilerplate soup, wrong-domain
    * text) score far below the corpus mode.
    *
    * 100 TB shape: bigram/unigram counts are ONE token-explode shuffle
    * each; scoring joins each document's bigrams to the count tables on
    * the bigram/unigram key (shuffle joins — the model tables are
    * corpus-vocabulary-sized, deliberately NOT broadcast). Per-document
    * aggregation sums FIXED-POINT log-probs (round(ln·1e6) as LONG), so
    * the mean is order-independent and the DuckDB twin is exact. */
  private[graft] def bigramLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk")
    val bigrams = docs.selectExpr("doc_id",
      "explode(transform(sequence(1, greatest(size(tk) - 1, 1)), " +
        "i -> IF(i <= size(tk) - 1, struct(element_at(tk, CAST(i AS INT)) AS w1, " +
        "element_at(tk, CAST(i + 1 AS INT)) AS w2), NULL))) AS bg")
      .filter(col("bg").isNotNull)
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    val uni = docs.selectExpr("explode(tk) AS w")
      .groupBy("w").agg(count(lit(1)).as("c1"))
    // vocab rides a broadcast single-row aggregate (the bm25 stats
    // shape) — an eager uni.count() here would run a full corpus job at
    // plan-CONSTRUCTION time, even for explain-only callers
    val vocab = uni.agg(count(lit(1)).as("vocab"))
    val bi = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    bigrams
      .join(bi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
      .crossJoin(broadcast(vocab))
      .selectExpr("doc_id",
        "CAST(round(ln((c2 + CAST(1 AS DOUBLE)) / (c1 + CAST(vocab AS DOUBLE))) " +
          "* CAST(1000000 AS DOUBLE)) AS BIGINT) AS lp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("lp").as("slp"))
      .selectExpr("doc_id", "n_bigrams",
        "round(CAST(slp AS DOUBLE) / n_bigrams / CAST(1000000 AS DOUBLE), 4) " +
          "AS avg_logp")
      .orderBy("doc_id")
  }
  /** Naive-Bayes quality classifier — the reference-corpus similarity
    * filter of GPT-3/LLaMA-style pipelines (score every crawl document by
    * how much it looks like a trusted corpus), here self-contained: the
    * "reference" class is the deterministic source split `src#%4 == 0`
    * and the model is multinomial NB with add-one smoothing over
    * whitespace tokens. Each document gets the total log-likelihood
    * ratio `ln P(doc|ref) − ln P(doc|rest)` plus the class-prior term;
    * `pred_ref` is the NB decision `score > 0`.
    *
    * 100 TB shape: training is ONE token-explode shuffle (two
    * conditional sums per word — the bigram_lm unigram pass with a class
    * axis); token totals / vocabulary and the doc-count prior are
    * single-row broadcast aggregates; scoring joins tokens to the model
    * on the word key (shuffle join — the model is corpus-vocabulary-
    * sized and corpus-growing, deliberately NOT broadcast, exactly
    * bigram_lm's justification). Per-word lns are rounded to 1e-6
    * FIXED-POINT before the class subtraction and per-doc sums run on
    * BIGINTs, so scores are order-independent and the DuckDB twin is
    * exact. */
  private[graft] def nbModelParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS tk",
        "CAST(substring(source, 4) AS INT) % 4 = 0 AS ref")
    // ScanCached per (session, dir): the token explode and the trained
    // model serve three query families (quality gate, calibration, the
    // funnel's stage 4) — r9 bench showed
    // each re-deriving the corpus token counts
    val tok = ScanCache.get(s, s"nb-tok:$dir") {
      docs.selectExpr("doc_id", "ref", "explode(tk) AS w") }
    val cnt = tok.groupBy("w").agg(
      sum(expr("CASE WHEN ref THEN 1 ELSE 0 END")).as("cp"),
      sum(expr("CASE WHEN ref THEN 0 ELSE 1 END")).as("cn"))
    val tot = cnt.agg(sum("cp").as("tp"), sum("cn").as("tn"),
      count(lit(1)).as("vocab"))
    val pri = docs.groupBy().agg(
      sum(expr("CASE WHEN ref THEN 1 ELSE 0 END")).as("np"),
      sum(expr("CASE WHEN ref THEN 0 ELSE 1 END")).as("nn"))
      // add-one on BOTH class doc counts: a corpus with an empty class
      // (every crafted single-source fixture) must yield a finite prior,
      // not ±Inf → BIGINT overflow
      .selectExpr("CAST(round(ln((np + CAST(1 AS DOUBLE)) " +
        "/ (nn + CAST(1 AS DOUBLE))) " +
        "* CAST(1000000 AS DOUBLE)) AS BIGINT) AS prior_fp")
    val model = ScanCache.get(s, s"nb-model:$dir") {
      cnt.crossJoin(broadcast(tot)).selectExpr("w",
        "CAST(round(ln((cp + CAST(1 AS DOUBLE)) / (tp + CAST(vocab AS DOUBLE))) " +
          "* CAST(1000000 AS DOUBLE)) AS BIGINT) " +
          "- CAST(round(ln((cn + CAST(1 AS DOUBLE)) / (tn + CAST(vocab AS DOUBLE))) " +
          "* CAST(1000000 AS DOUBLE)) AS BIGINT) AS llr") }
    (tok, model, pri)
  }
  private[graft] def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val (tok, model, pri) = nbModelParts(s, dir)
    tok.join(model, Seq("w"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("llr").as("sllr"))
      .crossJoin(broadcast(pri))
      // Round to 4 decimals ON THE INTEGER SIDE: fp/100.0 is exact at the
      // only ambiguous points (an integer ending in 50 gives an exactly
      // representable x.5), so Spark's decimal-string HALF_UP and DuckDB's
      // binary-double round agree; round(fp/1e6, 4) does NOT (the double
      // nearest -2.45055 prints as -2.4505499…, splitting the engines —
      // observed at sf0.001).
      .selectExpr("doc_id", "n_tokens",
        "round(CAST(sllr + prior_fp AS DOUBLE) / CAST(100 AS DOUBLE)) " +
          "/ CAST(10000 AS DOUBLE) AS score",
        "sllr + prior_fp > 0 AS pred_ref")
      .orderBy("doc_id")
  }
  /** THE CURATOR FUNNEL — four dedup/quality stages COMPOSED, each
    * running on the previous stage's survivors (the composition is
    * the point: line-level boilerplate frequencies CHANGE once exact
    * dups are gone, and the funnel measures the real marginal cost of
    * every stage):
    *   1. exact    — compound-fingerprint keeper (forward + reverse
    *                 char fold + length, the dedup_exact key)
    *   2. boiler   — drop docs retaining < 50% of their lines after
    *                 the df≥3 boilerplate rule ON SURVIVORS
    *   3. short    — ≥ 20 tokens
    *   4. quality  — NB log-odds > 0 (model trained on the FULL
    *                 corpus — deployment freezes the model before
    *                 filtering, so survivors are scored, not
    *                 retrained)
    * One row per stage: docs in/out and surviving token volume — the
    * readout every corpus curation meeting starts from. */
  /** Temperature-scaled source mixture weights — the sampling-weight
    * computation every multi-source training mix runs (α = 0.5
    * square-root scaling: large sources are down-weighted, small
    * sources up-weighted, the standard multilingual/multi-corpus
    * move): per source the token count, the α-scaled mass in 1e-6
    * fixed point (ONE IEEE sqrt, rounded before anything sums — both
    * engines produce the identical BIGINT), and the normalized
    * sampling weight in exact ppm via positive-operand integer
    * division. One map-combinable aggregate on the source dimension +
    * a single-row broadcast total. */
  private[graft] def mixtureWeights(s: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(s, dir)
      .selectExpr("source",
        "CAST(size(split(text, ' ')) AS BIGINT) AS ntok")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
      .selectExpr("source", "n_docs", "n_tokens",
        "CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000) " +
          "AS BIGINT) AS mass_fp")
    val total = perSource.agg(sum("mass_fp").as("total_fp"))
    perSource.crossJoin(broadcast(total))
      .selectExpr("source", "n_docs", "n_tokens", "mass_fp",
        "mass_fp * 1000000 div total_fp AS weight_ppm")
      .orderBy("source")
  }
  /** Epochs measured by the reshuffle readout. */
  final val ShuffleEpochs = 3
  /** Deterministic per-epoch reshuffle — the reproducible loader
    * shuffle (a torn run must resume with the SAME epoch order, so
    * real loaders derive it from a seed, never from partition
    * arrival): within each source shard, epoch e orders documents by
    * the scrambled mix of (doc_id, e), and the readout emits each
    * (epoch, source)'s order fingerprint (md5 chain) plus the rank
    * displacement of the first document — proof the epochs genuinely
    * differ while each is exactly reproducible. Windows partition by
    * (epoch, source): shard-local shuffling, the loader reality, and
    * the parallelism key at any scale. */
  private[graft] def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("epoch", "source").orderBy("h", "doc_id")
    Tables.documents(s, dir)
      .selectExpr("doc_id", "source",
        s"explode(sequence(0, ${ShuffleEpochs - 1})) AS epoch")
      // the epoch must enter BEFORE the multiply: an additive term
      // after the scramble shifts every hash by a constant, which
      // preserves the order except at the rare mod wrap (caught by
      // Round9Spec — epochs came out identical)
      .selectExpr("doc_id", "source", "epoch",
        s"((doc_id + epoch * 40503L) * 2654435761L) % ${P}L AS h")
      .withColumn("rk", row_number().over(w))
      .groupBy("epoch", "source")
      .agg(count(lit(1)).as("n_docs"),
        expr("md5(array_join(transform(array_sort(" +
          "collect_list(struct(rk, doc_id))), x -> x.doc_id), ' '))")
          .as("order_md5"),
        max(when(col("rk") === 1, col("doc_id"))).as("first_doc"))
      .selectExpr("CAST(epoch AS BIGINT) AS epoch", "source", "n_docs",
        "order_md5", "first_doc")
      .orderBy("epoch", "source")
  }
  /** Rendezvous (highest-random-weight) sharding — the STABLE shard
    * assignment an incremental pipeline needs: each doc goes to the
    * shard whose (doc, shard) hash scores highest, so growing the
    * fleet from 8 to 9 shards moves ONLY the docs whose new argmax is
    * the added shard — an expected 1/9 of the corpus, and every moved
    * doc lands on the NEW shard (hash-partitioning `fp % n` would
    * reshuffle ~8/9 of everything). The gate emits the full 8→9
    * TRANSITION MATRIX, so the hash compare pins both the assignment
    * arithmetic and the minimal-disruption property itself: any row
    * with shard_8 ≠ shard_9 must have shard_9 = 8. Content-keyed
    * (the dedup fingerprint), pure map — no shuffle until the
    * matrix count. Scores need a NONLINEAR (fp, shard) mix — a linear
    * scramble makes every shard's score the same rotation of fp, which
    * skews the argmax badly (measured: 22 vs 93 docs/shard, all moves
    * from one shard) — so the score reuses the AMS sign hash's
    * quadratic mod-P mix (h²·M + h, [[amsJoinSize]]'s signExpr shape);
    * measured on 200k uniform keys: shard loads within ±7% of uniform,
    * 9.8% moved on 8→9 vs the ideal 1/9. */
  private[graft] def shardRendezvous(s: SparkSession, dir: String): DataFrame = {
    def score(k: String): String =
      s"((fp + $k * 99991L) % ${P}L * ((fp + $k * 99991L) % ${P}L) " +
        s"% ${P}L * 2654435761L + (fp + $k * 99991L) % ${P}L) % ${P}L"
    def argmax(n: Int): String =
      s"aggregate(sequence(0, ${n - 1}), " +
        "named_struct('k', -1L, 's', -1L), " +
        s"(acc, k) -> CASE WHEN ${score("k")} " +
        s"> acc.s THEN named_struct('k', CAST(k AS BIGINT), " +
        s"'s', ${score("k")}) ELSE acc END).k"
    registered(s, dir)
      .selectExpr(s"poly_hash(text) * 2654435761L % ${P}L AS fp")
      .selectExpr(s"${argmax(8)} AS shard_8", s"${argmax(9)} AS shard_9")
      .groupBy("shard_8", "shard_9")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("moved", col("shard_8") =!= col("shard_9"))
      .orderBy("shard_8", "shard_9")
  }
  /** Batch size for length-bucketed assembly. */
  final val LenBatch = 16
  /** Power-of-two CASE ladder shared verbatim by both engines —
    * integer-exact (a float log2 flips at exact powers). */
  private[graft] def pow2CaseSql(col: String): String =
    (0 to 11).map(k => s"WHEN $col <= ${1 << k} THEN ${1 << k}")
      .mkString("CASE ", " ", " ELSE 4096 END")
  /** Length-bucketed batch assembly — the padding-efficiency step of
    * a training loader (batches of similar-length sequences waste the
    * least pad): documents bucket by next-power-of-two token count,
    * batches of [[LenBatch]] assemble within (source, bucket) in
    * (ntok, doc_id) order, and each batch reports its padded-token
    * waste in exact ppm. Batches never cross sources — writer-local
    * assembly, so the rank window partitions by (source, bucket) and
    * parallelism scales with shards, never a corpus-wide rank. */
  private[graft] def lengthBucketBatches(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source", "bucket").orderBy("ntok", "doc_id")
    Tables.documents(s, dir)
      .selectExpr("doc_id", "source",
        "CAST(size(split(text, ' ')) AS BIGINT) AS ntok")
      .selectExpr("doc_id", "source", "ntok",
        s"${pow2CaseSql("ntok")} AS bucket")
      .withColumn("batch_id", ((row_number().over(w) - 1) /
        LenBatch).cast("long"))
      .groupBy("source", "bucket", "batch_id")
      .agg(count(lit(1)).as("n_docs"), max("ntok").as("max_len"),
        sum("ntok").as("sum_len"))
      .selectExpr("source", "bucket", "batch_id", "n_docs", "max_len",
        "sum_len",
        "(n_docs * max_len - sum_len) * 1000000 div (n_docs * max_len) " +
          "AS pad_ppm")
      .orderBy("source", "bucket", "batch_id")
  }
  /** The four funnel stages (docs → exact → boilerplate → short →
    * quality), shared by [[dedupFunnel]]'s stage stats and the
    * [[webdatasetExport]] composition. */
  private[graft] def funnelStages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) = {
    val spark = s
    import spark.implicits._
    val docs = registered(s, dir).selectExpr("doc_id", "text",
      "CAST(size(split(text, ' ')) AS BIGINT) AS ntok",
      s"${charFold("text")} AS h1",
      s"${charFold("reverse(text)")} AS h2",
      "length(text) AS len")
    // stage 1: exact (stages ScanCached: the funnel and the export
    // composition branch off the same chain)
    val keep1 = ScanCache.get(s, s"funnel-keep1:$dir") { docs
      .withColumn("keeper",
        min("doc_id").over(Window.partitionBy("h1", "h2", "len")))
      .filter(col("doc_id") === col("keeper"))
      .select("doc_id", "text", "ntok") }
    // stage 2: boilerplate lines over SURVIVORS
    val lines1 = keep1.selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id",
        s"""posexplode(transform(
           |  sequence(0, CAST((size(ws) - 1) div $LineWords AS INT)),
           |  j -> array_join(slice(ws, j * $LineWords + 1, $LineWords),
           |    ' '))) AS (line_no, line)""".stripMargin)
    val df1 = lines1.groupBy("line").agg(countDistinct("doc_id").as("df"))
    val keep2 = ScanCache.get(s, s"funnel-keep2:$dir") {
      lines1.join(df1, "line")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nl"),
          sum(when(col("df") < 3, 1L).otherwise(0L)).as("nk"))
        .filter(col("nk") * 2 >= col("nl"))
        .join(keep1, "doc_id")
        .select("doc_id", "text", "ntok") }
    // stage 3: short-doc filter
    val keep3 = keep2.filter(col("ntok") >= 20)
    // stage 4: NB quality (full-corpus model scores the survivors)
    val (tok, model, pri) = nbModelParts(s, dir)
    val scored = tok.join(model, Seq("w"))
      .groupBy("doc_id").agg(sum("llr").as("sllr"))
      .crossJoin(broadcast(pri))
      .filter(expr("sllr + prior_fp > 0"))
      .select("doc_id")
    val keep4 = ScanCache.get(s, s"funnel-survivors:$dir") {
      keep3.join(scored, "doc_id") }
    (docs, keep1, keep2, keep3, keep4)
  }
  private[graft] def dedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val (docs, keep1, keep2, keep3, keep4) = funnelStages(s, dir)
    def stat(name: String, in: DataFrame, out: DataFrame): DataFrame =
      in.agg(count(lit(1)).as("docs_in")).crossJoin(
        out.agg(count(lit(1)).as("docs_out"),
          coalesce(sum("ntok"), lit(0L)).as("tokens_out")))
        .selectExpr(s"'$name' AS stage", "docs_in", "docs_out",
          "tokens_out")
    stat("1_exact", docs, keep1)
      .unionAll(stat("2_boiler", keep1, keep2))
      .unionAll(stat("3_short", keep2, keep3))
      .unionAll(stat("4_quality", keep3, keep4))
      .orderBy("stage")
  }
  /** Calibration curve of the NB quality classifier — the evaluation
    * every deployed filter needs before its threshold is trusted: docs
    * bin by their fixed-point log-odds (ten one-nat bins clamped to
    * [−5, +5)), and each bin reports its EMPIRICAL reference rate in
    * exact ppm beside the count. A calibrated scorer shows ref_ppm
    * rising monotonically through the bins; the clamp happens BEFORE
    * the integer division so trunc-vs-floor never bites on negative
    * log-odds. Model-sized arithmetic over [[nbModelParts]]'s existing
    * aggregates — the corpus is touched once, by the same token join
    * the classifier already pays. */
  private[graft] def classifierCalibration(s: SparkSession, dir: String)
      : DataFrame = {
    val (tok, model, pri) = nbModelParts(s, dir)
    tok.join(model, Seq("w"))
      .groupBy("doc_id")
      .agg(first("ref").as("ref"), sum("llr").as("sllr"))
      .crossJoin(broadcast(pri))
      .selectExpr(
        "(least(greatest(sllr + prior_fp, -5000000), 4999999) " +
          "+ 5000000) div 1000000 AS bin",
        "ref")
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(expr("CASE WHEN ref THEN 1 ELSE 0 END")).as("n_ref"))
      .selectExpr("bin", "n_docs", "CAST(n_ref AS BIGINT) AS n_ref",
        "CAST(n_ref AS BIGINT) * 1000000 div n_docs AS ref_ppm")
      .orderBy("bin")
  }
  /** Document fingerprint (rolling char hash) + fingerprint-level dedup. */
  private[graft] def docFingerprint(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp")
    registered(s, dir)
      .selectExpr("doc_id", s"${charFold("text")} AS fp")
      .withColumn("keeper", min("doc_id").over(w))
      .select(col("doc_id"), col("fp"),
        (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy("doc_id")
  }
  // ---- corpus quality / safety -------------------------------------------

  /** Token n-gram string array (Spark side): grams of `n` consecutive
    * tokens joined by a space; EMPTY for documents shorter than n tokens
    * (same clamp-and-filter move as [[shingleIdx]]). */
  private[graft] def gramsExpr(tk: String, n: Int): String =
    s"transform(filter(sequence(1, greatest(size($tk) - ${n - 1}, 1)), " +
      s"i -> i <= size($tk) - ${n - 1}), " +
      s"i -> array_join(slice($tk, i, $n), ' '))"
  /** Same n-gram array in DuckDB SQL (range end is exclusive; list slice
    * is inclusive 1-based). */
  private[graft] def gramsDuck(tk: String, n: Int): String =
    s"list_transform(range(1, greatest(len($tk) - ${n - 2}, 1)), " +
      s"i -> array_to_string($tk[i:i+${n - 1}], ' '))"
  /** Gopher-style repetition quality rules (Rae et al. 2021 §A1.1): the
    * fraction of characters inside the most frequent REPEATED 2-gram
    * (flag above 0.12) and duplicated 3-grams (ANY duplicated 3-gram
    * flags — dup3_frac is reported as a diagnostic, not thresholded).
    * Both calibrated so the rules fire on this corpus (the paper's
    * dup-10-gram rule is vacuously zero on short synthetic documents —
    * 3-grams carry the same signal here). Change both implementations
    * (Spark and the oracle SQL) together.
    *
    * 100 TB shape: both statistics are computed ENTIRELY within the row
    * via higher-order functions — no explode, no shuffle, a pure map over
    * the document scan. Per row the cost is O(n log n) in the document's
    * token count (sort the gram array, then one linear run-fold), NOT the
    * naive n² count-each-gram-in-place form — a 100k-token real-world
    * document is ~10⁶ comparisons here, not ~10¹⁰. */
  private[graft] def gopherRepetition(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "length(text) AS n_chars", "split(text, ' ') AS tk")
      .selectExpr("doc_id", "n_chars", "size(tk) AS n_tokens",
        s"array_sort(${gramsExpr("tk", 2)}) AS sg2",
        s"array_sort(${gramsExpr("tk", 3)}) AS sg3")
      .selectExpr("doc_id", "n_tokens", "n_chars",
        // chars covered by the top REPEATED 2-gram (count × gram chars);
        // a document whose 2-grams are all unique scores 0 — the rule
        // measures repetition, so singletons must not contribute (a long
        // once-only gram in a short doc would otherwise trip the flag).
        // Equal grams are ADJACENT in the sorted array, so one linear
        // fold tracks the current run and the best count·len among runs
        // of length ≥ 2; max over count·len is deterministic under ties.
        "CAST(aggregate(sg2, " +
          "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), " +
          "(a, x) -> named_struct('prev', x, " +
          "'run', IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1L, 1L), " +
          "'best', greatest(a.best, IF(a.prev IS NOT NULL AND x = a.prev, " +
          "(a.run + 1L) * length(x), 0L))), " +
          "a -> a.best) AS BIGINT) AS top2_chars",
        "CAST(size(sg3) AS BIGINT) AS n_3grams",
        // a sorted gram is duplicated iff it equals a neighbor
        // (element_at is 1-based; the lambda index i is 0-based)
        "CAST(size(filter(sg3, (x, i) -> " +
          "(i > 0 AND x = element_at(sg3, i)) OR " +
          "(i < size(sg3) - 1 AND x = element_at(sg3, i + 2)))) AS BIGINT) " +
          "AS dup3_pos")
      .selectExpr("doc_id", "n_tokens", "n_chars", "top2_chars",
        "top2_chars / CAST(greatest(n_chars, 1) AS DOUBLE) AS top2_frac",
        "n_3grams", "dup3_pos",
        "dup3_pos / CAST(greatest(n_3grams, 1) AS DOUBLE) AS dup3_frac",
        "top2_chars / CAST(greatest(n_chars, 1) AS DOUBLE) > 0.12 " +
          "OR dup3_pos > 0 AS flagged")
      .orderBy("doc_id")
  /** Exact-substring window length (chars). Any substring shared between
    * two documents with length ≥ 2·EsK − 1 is guaranteed detected: the
    * lower-id document's copy then contains a fully-aligned stride-EsK
    * anchor window, which equals some stride-1 probe window of the other
    * document. */
  final val EsK = 48
  /** Boilerplate guard for the exact-substring join: an anchor window
    * present in more than this many distinct documents is excluded —
    * its candidate pairs grow quadratically in document frequency (the
    * classic hot-key blowup: a license header shared by 1 M documents is
    * 10¹² join rows), and "which documents share boilerplate" is
    * [[boilerplateNgrams]]'s job, not pair detection's. Grouped by the
    * window STRING, not its hash, so a hash collision can't push a
    * near-cap window over the edge in one engine only. */
  final val EsDocCap = 64
  /** Cross-document EXACT substring detection — the dedup signal of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"), re-expressed as a Spark hash join instead of a distributed
    * suffix array: the lower-id side contributes stride-EsK ANCHOR windows
    * (with payload), every document contributes stride-1 PROBE windows
    * projected to (doc, pos, poly_hash) ONLY, and candidates from the
    * hash equi-join are verified by re-reading the probe document and
    * comparing the actual substring — hash collisions cannot produce a
    * false pair.
    *
    * 100 TB shape: the probe side shuffles one (id, pos, hash) row per
    * character — the inherent cost of exactness at stride 1 (a suffix
    * array pays the same Θ(corpus) index); widening the probe stride to s
    * trades that volume for a 2·EsK+s−1 minimum detectable length. The
    * verify re-join touches only candidate rows, so collision verification
    * is output-sized, not corpus-sized. Anchor windows in more than
    * [[EsDocCap]] distinct documents are excluded as boilerplate before
    * the join — see the cap's scaladoc for the quadratic-hot-key rationale. */
  private[graft] def exactSubstring(s: SparkSession, dir: String): DataFrame = {
    val docs = registered(s, dir).select(col("doc_id"), col("text"))
    // persisted per session: the anchor scan feeds both the boilerplate
    // df-aggregation and the candidate join — two physical subtrees that
    // would otherwise each pay the scan + substring + hash pass
    val anchors = ScanCache.get(s, s"es-anchors:$dir") {
      docs
        .selectExpr("doc_id AS doc_a", "text AS ta")
        .selectExpr("doc_a", "ta",
          s"explode(filter(sequence(0, greatest(CAST(length(ta) / $EsK AS INT), 1)), " +
            s"i -> (i + 1) * $EsK <= length(ta))) AS ia")
        .selectExpr("doc_a", s"ia * $EsK + 1 AS pos_a",
          s"substring(ta, CAST(ia * $EsK + 1 AS INT), $EsK) AS w")
        .withColumn("h", expr("poly_hash(w)"))
    }
    val boiler = anchors.groupBy("w")
      .agg(countDistinct("doc_a").as("df"))
      .filter(col("df") > EsDocCap).select("w")
    // stride-1 probes via the ROLLING kernel: one O(len) pass per doc
    // (poly_hash_windows(s,k)[i] == poly_hash(substring(s,i+1,k)), so the
    // hash-join keys agree with the anchor side's per-window folds)
    val probes = docs
      .selectExpr("doc_id AS doc_b",
        s"posexplode(poly_hash_windows(text, $EsK)) AS (p0, h)")
      .selectExpr("doc_b", "p0 + 1 AS pos_b", "h")
    val verified = anchors.join(boiler, Seq("w"), "left_anti")
      .join(probes, Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .join(docs.selectExpr("doc_id AS doc_b", "text AS tb"), Seq("doc_b"))
      .filter(expr(s"substring(tb, CAST(pos_b AS INT), $EsK) = w"))
    verified.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_matches"),
        min(struct(col("pos_a"), col("pos_b"), col("w"))).as("f"))
      .selectExpr("doc_a", "doc_b", "n_matches",
        "CAST(f.pos_a AS BIGINT) AS pos_a", "CAST(f.pos_b AS BIGINT) AS pos_b",
        "f.w AS win")
      .orderBy("doc_a", "doc_b")
  }
  /** The whole ingest DAG as ONE plan — what "a user of the reference
    * switches their pipeline to": corpus_filter's keep verdict gates the
    * documents, survivors chunk into 64/16 training windows, and chunks
    * pack greedily into 256-token sequences per source shard. Composes
    * the three operators' exact semantics (same constants, same oracles'
    * CTEs composed on the DuckDB side).
    *
    * 100 TB shape: one fingerprint shuffle (the dup rule), one inner
    * join on doc_id (AQE picks the side), chunking stays inside the map
    * stage, and the pack offset is a per-source-shard prefix sum — no
    * global window anywhere; the output's (source, seq_id) is the
    * training shard key downstream. */
  private[graft] def prepareCorpus(s: SparkSession, dir: String): DataFrame = {
    val (win, stride, overlap, budget) = (64, 48, 16, 256)
    val kept = corpusFilter(s, dir).filter(col("keep")).select("doc_id")
    val chunks = Tables.documents(s, dir)
      .join(kept, Seq("doc_id"))
      .selectExpr("source", "doc_id", "split(text, ' ') AS tk")
      .selectExpr("source", "doc_id", "tk", "size(tk) AS n")
      .selectExpr("source", "doc_id", "tk",
        s"explode(sequence(0, greatest(CAST(ceil((n - $overlap) / $stride.0) AS INT), 1) - 1)) AS chunk_id")
      .selectExpr("source", "doc_id", "chunk_id",
        s"size(slice(tk, chunk_id * $stride + 1, $win)) AS n_tok")
    val w = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
    chunks.withColumn("end_off", sum("n_tok").over(w))
      .selectExpr("source", "doc_id", "chunk_id", "n_tok",
        "end_off - n_tok AS start_off")
      .selectExpr("source", "doc_id", "chunk_id", "n_tok", "start_off",
        s"start_off div $budget AS seq_id",
        s"(start_off + n_tok - 1) div $budget <> start_off div $budget " +
          "AS spans_boundary")
      .orderBy("source", "doc_id", "chunk_id")
  }
  /** Data mixing — the source-weighting stage of corpus assembly
    * ("webtext 60 %, code 20 %, ..."): given per-source target weights,
    * resample each source down so the kept corpus realizes the mixture.
    * Weights here derive deterministically from the source name (the
    * stand-in for a declared mixture config); the feasible total is set
    * by the SCARCEST source (T = min over sources of n/w), per-source
    * keep targets are w·T, and selection is the same seed-free
    * scrambled-hash threshold as sample_hash — reproducible across
    * re-sharding, replays and engines, no RNG.
    *
    * Everything is INTEGER arithmetic (ppm rates, floor divisions), so
    * the DuckDB twin is exact. 100 TB shape: two source-cardinality
    * aggregates broadcast back; the corpus side is one map-side
    * hash-threshold filter — no shuffle of documents, no per-source
    * sort (an exact-k variant would need a rank window per source; the
    * threshold form trades ±binomial-noise counts for a pure scan). */
  private[graft] def mixtureSample(s: SparkSession, dir: String): DataFrame = {
    val docs = registered(s, dir)
    val bySrc = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", expr(s"1 + ${charFold("source")} % 5"))
    val tot = bySrc.agg(sum("w_raw").as("sum_raw"))
    val withT = bySrc.crossJoin(broadcast(tot))
      .withColumn("cap", expr("n_docs * sum_raw div w_raw"))
    val t = withT.agg(min("cap").as("t_total"))
    // persisted per session: `rates` is referenced twice below (the
    // corpus-side filter join and the final right join); without the
    // cache each reference re-runs the per-source corpus aggregates
    val rates = ScanCache.get(s, s"mixture-rates:$dir") {
      withT.crossJoin(broadcast(t))
        .selectExpr("source", "n_docs", "w_raw", "sum_raw",
          "w_raw * t_total div sum_raw AS k_target")
        .selectExpr("source", "n_docs", "w_raw",
          "w_raw * 1000000L div sum_raw AS w_ppm", "k_target",
          "k_target * 1000000L div n_docs AS rate_ppm")
    }
    docs.select("source", "text")
      .join(broadcast(rates), Seq("source"))
      .filter(s"poly_hash(text) * 2654435761L % ${P}L % 1000000 < rate_ppm")
      .groupBy("source").agg(count(lit(1)).as("n_kept"))
      .join(rates, Seq("source"), "right")
      .selectExpr("source", "n_docs", "w_ppm", "k_target", "rate_ppm",
        "coalesce(n_kept, 0L) AS n_kept")
      .orderBy("source")
  }
  /** Number of BPE merges bpe_train learns. */
  final val BpeMerges = 6
  /** Exact greedy application of merge pair `mp` ("X Y") to the
    * space-separated symbol string `repr`: a left-to-right fold that
    * merges when the last accumulated symbol is X and the incoming one
    * is Y. try_element_at keeps the empty-accumulator probe NULL-safe
    * under ANSI mode (the IF condition then falls through to append).
    * Exposed for BpeMergeSpec; [[bpeTrain]] uses it per step. */
  private[graft] val BpeMergeExpr: String =
    "array_join(aggregate(split(repr, ' '), " +
      "cast(array() as array<string>), " +
      "(acc, s) -> IF(size(acc) > 0 " +
      "AND try_element_at(acc, -1) = split(mp, ' ')[0] " +
      "AND s = split(mp, ' ')[1], " +
      "concat(slice(acc, 1, size(acc) - 1), array(replace(mp, ' ', ''))), " +
      "concat(acc, array(s)))), ' ')"
  /** BPE vocabulary induction — tokenizer TRAINING, the step upstream of
    * token_stats_bpe's tokenization: learn the first BpeMerges byte-pair
    * merges from corpus word frequencies (Sennrich et al. 2016). Each
    * step counts adjacent symbol pairs weighted by word frequency, takes
    * the argmax (ties to the lexicographically smallest pair, so both
    * engines agree), and applies the merge to every word
    * representation.
    *
    * Merge application is EXACT greedy (Sennrich semantics): leftmost,
    * non-overlapping, one left-to-right pass — a fold over the symbol
    * list that merges when the accumulator's last symbol is X and the
    * incoming one is Y. A merged token never re-participates in the
    * same step (XY = X would need an empty Y), so the fold equals the
    * reference scan on every input, including the XYXY reduplication
    * runs ('coco', 'murmur') the earlier padded-string replace
    * under-merged and the X=Y runs ('a a a a a' → 'aa aa a') where
    * replace-to-fixpoint picks the wrong positions. The DuckDB twin
    * iterates leftmost single-occurrence replacement to fixpoint via a
    * per-step recursive CTE — repeated leftmost merge is greedy by
    * induction (each step merges the leftmost remaining adjacency,
    * exactly what the one-pass scan does first). BpeMergeSpec pins the
    * parity cases on both engines' semantics.
    *
    * 100 TB shape: the state is the WORD FREQUENCY table (vocabulary-
    * sized, not corpus-sized — one explode+groupBy over the corpus,
    * after which iterations never touch the corpus again); each step is
    * one pair-count aggregation over the vocab plus a broadcast of the
    * single winning pair. */
  /** One trained-BPE state per (session, dir): the 6-step loop runs
    * once and BOTH its outputs (merge list, per-word repr) land in the
    * ScanCache from the same call, sharing the loop's checkpointed
    * lineage — bpe_train and bpe_encode split one training pass the
    * same way the ANN family splits one vecs scan. */
  private[graft] def bpeState(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    lazy val st = bpeTrainState(Tables.documents(s, dir)
      .selectExpr("explode(split(text, ' ')) AS word")
      .filter("word <> ''")
      .groupBy("word").agg(count(lit(1)).as("c")))
    (ScanCache.get(s, s"bpe-merges:$dir")(st._1),
      ScanCache.get(s, s"bpe-repr:$dir")(st._2))
  }
  private[graft] def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeState(s, dir)._1
  /** Corpus-wide tokenizer APPLICATION — the step after [[bpeTrain]]:
    * per-document token counts under the trained vocabulary (whitespace
    * words before merging, BPE symbols after). The expensive greedy
    * merge fold runs once per unique WORD (the trained repr table is
    * vocabulary-sized); documents contribute only (doc_id, word, k)
    * count rows — pre-aggregated so the join input is distinct words
    * per document, not raw occurrences, and the Zipf head ("the" in
    * every document) arrives as ONE row per document, not hundreds.
    * The vocab join carries NO hint on purpose: the checkpointed repr
    * table reports accurate size statistics, so Catalyst broadcasts
    * while the trained vocabulary fits (it does at test scale) and
    * degrades to a shuffle join exactly when a corpus-scale vocabulary
    * outgrows the threshold — the bigram_lm situation — with AQE's
    * skew split covering the Zipf head. */
  private[graft] def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .filter("word <> ''")
    val reprN = bpeState(s, dir)._2
      .selectExpr("word", "size(split(repr, ' ')) AS n_sym")
    words.groupBy("doc_id", "word").agg(count(lit(1)).as("k"))
      .join(reprN, Seq("word"))
      .groupBy("doc_id")
      .agg(sum("k").as("n_words"),
        sum(col("k") * col("n_sym")).as("n_bpe"))
      .orderBy("doc_id")
  }
  /** Unigram-LM tokenizer (SentencePiece-style inference) — the OTHER
    * tokenizer family beside BPE: a vocabulary of scored pieces and a
    * per-word Viterbi segmentation maximizing the summed piece
    * log-probs. Vocabulary is deterministic and corpus-derived: every
    * single character plus the top-[[UnigramTopPieces]] substrings of
    * length 2..[[UnigramMaxPiece]] by occurrence count (occurrences
    * weighted by word frequency, ties cut lexicographically — a
    * TakeOrdered, never a vocab-wide sort). Scores are fixed-point
    * integer micro-nats (`round(ln(cnt/total)·10⁶, 0)` — the repo's
    * cast-stable convention), so DP sums compare exactly across
    * engines.
    *
    * 100 TB shape: counting shuffles are (piece)-keyed map-combinable
    * aggregates over the DISTINCT-WORD table (vocabulary-sized, the
    * bpe move); the vocab itself is model-sized and collected like the
    * NB gate's model; Viterbi runs once per unique word. Documents are
    * only touched by `unigram_doc_tokens`, which joins PRE-AGGREGATED
    * (doc_id, word, k) rows against the word-level DP results. */
  final val UnigramMaxPiece = 4
  /** Score charged for a character absent from the tokenizer
    * vocabulary (the `<unk>` piece) — keeps [[greedyPieces]] total on
    * out-of-corpus input instead of throwing; same-corpus callers
    * never hit it (every corpus character is in the vocabulary by
    * construction). */
  final val UnkScore = -1000000L
  final val UnigramTopPieces = 16
  private[graft] def unigramVocabDf(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"unigram-vocab:$dir") {
      val wc = Tables.documents(s, dir)
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("w").agg(count(lit(1)).as("c"))
      val chars = wc.selectExpr(
        "explode(transform(sequence(1, length(w)), i -> substring(w, i, 1))) AS p",
        "c")
        .groupBy("p").agg(sum("c").as("cnt"))
      val multi = wc.selectExpr("w", "c",
        "explode(flatten(transform(sequence(1, length(w)), i -> " +
          s"transform(sequence(2, $UnigramMaxPiece), k -> " +
          "struct(i AS i, k AS k))))) AS ik")
        .filter(expr("ik.i + ik.k - 1 <= length(w)"))
        .selectExpr("substring(w, ik.i, ik.k) AS p", "c")
        .groupBy("p").agg(sum("c").as("cnt"))
        .orderBy(col("cnt").desc, col("p")).limit(UnigramTopPieces)
      val voc = chars.unionAll(multi)
      voc.crossJoin(broadcast(voc.agg(sum("cnt").as("t"))))
        .selectExpr("p", "cnt",
          "CAST(round(ln(cnt / CAST(t AS DOUBLE)) * 1000000, 0) AS BIGINT) " +
            "AS score")
    }
  private[graft] def unigramVocab(s: SparkSession, dir: String): DataFrame =
    unigramVocabDf(s, dir).orderBy("p")
  /** Packed Viterbi DP value: P = 64·Σscore − #pieces. Scores are ≥ 1
    * apart when they differ, so maximizing P maximizes the score sum
    * first and minimizes the piece count on ties; both engines decode
    * `np = (−P) mod 64` (piece counts stay < 64 — words would need
    * ≥ 64 chars to exceed it, and the vocab always contains every
    * single character, so a word of length L segments into ≤ L
    * pieces). */
  private[graft] def viterbiPacked(w: String,
      score: collection.Map[String, Long]): Long = {
    val n = w.length
    val dp = Array.fill(n + 1)(Long.MinValue)
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      var k = 1
      val kMax = math.min(UnigramMaxPiece, i)
      while (k <= kMax) {
        if (dp(i - k) != Long.MinValue) {
          score.get(w.substring(i - k, i)).foreach { sc =>
            val cand = dp(i - k) + 64L * sc - 1L
            if (cand > dp(i)) dp(i) = cand
          }
        }
        k += 1
      }
      i += 1
    }
    dp(n)
  }
  /** Word-level DP results: (word, corpus count, best score sum,
    * piece count of the best segmentation). */
  private[graft] def unigramWordTable(s: SparkSession, dir: String)
      : DataFrame =
    ScanCache.get(s, s"unigram-words:$dir") {
      val spark = s
      import spark.implicits._
      // model-sized collect — chars + UnigramTopPieces rows, the NB-gate
      // pattern (the MODEL is collected, never the corpus)
      val voc = unigramVocabDf(s, dir).select("p", "score")
        .as[(String, Long)].collect().toMap
      Tables.documents(s, dir)
        .selectExpr("explode(split(text, ' ')) AS w")
        .filter("w <> ''")
        .groupBy("w").agg(count(lit(1)).as("c"))
        .as[(String, Long)]
        .map { case (w, c) =>
          val pk = viterbiPacked(w, voc)
          val np = java.lang.Math.floorMod(-pk, 64L)
          (w, c, (pk + np) / 64L, np)
        }
        .toDF("word", "wcnt", "best_score", "n_pieces")
    }
  private[graft] def unigramEncode(s: SparkSession, dir: String): DataFrame =
    unigramWordTable(s, dir).orderBy("word")
  /** Greedy longest-match-first segmentation (WordPiece-style
    * inference, maximal munch) over the SAME scored vocabulary —
    * the third tokenizer family beside BPE's learned merges and
    * unigram's optimal DP: at each position take the longest piece in
    * the vocabulary, fall back to the single character. [[UnigramSpec]]
    * proves greedy ⊑ optimal on the shared score. */
  private[graft] def greedyPieces(w: String,
      score: collection.Map[String, Long]): (Long, Long) = {
    var pos = 0
    var np = 0L
    var sc = 0L
    while (pos < w.length) {
      var k = math.min(UnigramMaxPiece, w.length - pos)
      while (k > 1 && !score.contains(w.substring(pos, pos + k))) k -= 1
      // the k == 1 fallback may still be out-of-vocabulary for
      // out-of-corpus input — charge the <unk> score, never throw
      sc += score.getOrElse(w.substring(pos, pos + k), UnkScore)
      np += 1
      pos += k
    }
    (np, sc)
  }
  private[graft] def wordpieceEncode(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val voc = unigramVocabDf(s, dir).select("p", "score")
      .as[(String, Long)].collect().toMap
    Tables.documents(s, dir)
      .selectExpr("explode(split(text, ' ')) AS w")
      .filter("w <> ''")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .as[(String, Long)]
      .map { case (w, c) =>
        val (np, sc) = greedyPieces(w, voc)
        (w, c, np, sc)
      }
      .toDF("word", "wcnt", "n_pieces_wp", "score_wp")
      .orderBy("word")
  }
  /** Per-document unigram token counts — the [[bpeEncode]] shape over
    * the unigram segmentation: documents contribute pre-aggregated
    * (doc_id, word, k) rows; the word-level DP table joins broadcast
    * while vocabulary-sized. */
  private[graft] def unigramDocTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .filter("word <> ''")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("k"))
      .join(unigramWordTable(s, dir), Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("k") * col("n_pieces")).as("n_tokens"),
        sum(col("k") * col("best_score")).as("score_sum"))
      .orderBy("doc_id")
  /** Per-document token counts under the GREEDY segmentation — the
    * [[unigramDocTokens]] shape for WordPiece, so the two tokenizer
    * families compare at the granularity that matters for a context
    * budget: tokens per document. */
  private[graft] def wordpieceDocTokens(s: SparkSession, dir: String)
      : DataFrame = {
    val wp = wordpieceEncode(s, dir)
      .selectExpr("word", "n_pieces_wp", "score_wp")
    Tables.documents(s, dir)
      .selectExpr("doc_id", "explode(split(text, ' ')) AS word")
      .filter("word <> ''")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("k"))
      .join(wp, Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("k") * col("n_pieces_wp")).as("n_tokens_wp"),
        sum(col("k") * col("score_wp")).as("score_sum_wp"))
      .orderBy("doc_id")
  }
  /** Training loop on a (word, c) frequency table — factored out so
    * BpeMergeSpec can drive it on synthetic corpora against a plain-Scala
    * reference-BPE model. */
  private[graft] def bpeTrainFromWords(words: DataFrame): DataFrame =
    bpeTrainState(words)._1
  /** The training loop's full state: (merge list, final per-word
    * symbolization). The repr table is what ENCODING needs — the greedy
    * merge fold runs once per unique WORD (vocabulary-sized work), never
    * per occurrence. */
  private[graft] def bpeTrainState(words: DataFrame): (DataFrame, DataFrame) = {
    // LAZY localCheckpoint per step: the training loop is inherently
    // iterative — without truncation each step re-derives the corpus
    // explode through every previous step's lineage. Lazy (not eager)
    // keeps plan construction job-free for explain-only callers while
    // still flattening the Catalyst plan; the checkpointed state is the
    // vocabulary-sized repr table plus a 1-row winner, cached on first
    // action.
    var repr = words
      .selectExpr("word", "c", "array_join(split(word, ''), ' ') AS repr")
      .localCheckpoint(false)
    var merges: DataFrame = null
    for (step <- 1 to BpeMerges) {
      val pairs = repr.selectExpr("c", "split(repr, ' ') AS sym")
        .selectExpr("c",
          "explode(transform(filter(sequence(1, greatest(size(sym) - 1, 1)), " +
            "i -> i <= size(sym) - 1), " +
            "i -> concat(element_at(sym, CAST(i AS INT)), ' ', " +
            "element_at(sym, CAST(i + 1 AS INT))))) AS pair")
        .groupBy("pair").agg(sum("c").as("pc"))
      val top = pairs.orderBy(col("pc").desc, col("pair")).limit(1)
        .withColumn("step", lit(step))
        .localCheckpoint(false)
      merges = if (merges == null) top else merges.unionByName(top)
      repr = repr.crossJoin(broadcast(top.select(col("pair").as("mp"))))
        .selectExpr("word", "c", s"$BpeMergeExpr AS repr")
        .localCheckpoint(false)
    }
    (merges.select(col("step"), col("pair"), col("pc")).orderBy("step"), repr)
  }
  /** SemDeDup cosine threshold — matches the corpus's near-duplicate
    * τ (embedding_neardup / embedding_neardup_lsh use the same 0.3), so
    * the within-cluster prune is non-vacuous on this embedding table. */
  final val SemTau = 0.3
  /** Decontamination n-gram length and the deterministic eval-set rule
    * (doc_id ≡ EvalRes mod EvalMod, bounded by EvalMaxId, plays the
    * held-out benchmark). */
  final val DecontN = 8
  final val EvalMod = 17L
  final val EvalRes = 3L
  /** Upper doc_id bound of the eval universe. Without it the residue
    * rule makes the eval set 1/17 OF THE CORPUS — a broadcast side that
    * grows linearly with the data and eventually OOMs the driver. A real
    * eval set is a FIXED benchmark; the cap models that: beyond id
    * 10 000 the eval set stops growing no matter how large the corpus
    * gets (both test scale factors sit entirely below the cap, so
    * results there are unchanged). */
  final val EvalMaxId = 10000L
  /** PII detection + redaction: emails, NANP-style phone numbers, and
    * private-range IPv4 literals, counted and replaced with typed
    * placeholder tags. The corpus is synthetic prose with no PII, so each
    * document deterministically injects its own (presence varies by
    * doc_id residue — absent-PII rows are part of the check); patterns
    * avoid regex escapes so the Spark (java.util.regex) and DuckDB (RE2)
    * forms are char-identical.
    *
    * 100 TB shape: pure per-row map over the scan — regexp_extract_all /
    * regexp_replace are codegen'd built-ins, no UDF, no shuffle. */
  private[graft] def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9]+@[a-z0-9.]+"
    val phone = "[+]1-555-[0-9]{4}"
    val ip = "10[.][0-9]{1,3}[.]0[.]1"
    Tables.documents(s, dir)
      .selectExpr("doc_id",
        "concat(text, " +
          "CASE WHEN doc_id % 3 = 0 THEN concat(' contact user', " +
          "  CAST(doc_id AS STRING), '@mail.example.com') ELSE '' END, " +
          "CASE WHEN doc_id % 4 = 1 THEN concat(' call +1-555-', " +
          "  lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) ELSE '' END, " +
          "CASE WHEN doc_id % 5 = 2 THEN concat(' from 10.', " +
          "  CAST(doc_id % 256 AS STRING), '.0.1') ELSE '' END) AS t2")
      .selectExpr("doc_id",
        s"CAST(size(regexp_extract_all(t2, '$email', 0)) AS BIGINT) AS n_emails",
        s"CAST(size(regexp_extract_all(t2, '$phone', 0)) AS BIGINT) AS n_phones",
        s"CAST(size(regexp_extract_all(t2, '$ip', 0)) AS BIGINT) AS n_ips",
        s"regexp_replace(regexp_replace(regexp_replace(t2, " +
          s"'$email', '<EMAIL>'), '$phone', '<PHONE>'), '$ip', '<IP>') " +
          "AS redacted")
      .selectExpr("doc_id", "n_emails", "n_phones", "n_ips",
        "CAST(length(redacted) AS BIGINT) AS red_len", "redacted")
      .orderBy("doc_id")
  }
  /** Reduced dimension of [[embeddingRp]]. */
  final val RpDim = 16
  /** Product-quantization geometry: M = 8 subspaces × 8 dims, K = 16
    * centroids each (4-bit codes — 8 codes = 4 bytes/vector, 64×
    * compression), PqIters fixed-point Lloyd rounds per subspace. Seeds
    * are the first K vectors under a scramble constant DIFFERENT from
    * the recall panel's (2246822519 vs 2654435761), so the measurement
    * panel never coincides with quantizer construction (the round-5
    * ADVICE trap). */
  final val PqM = 8
  final val PqSub = 8
  final val PqK = 16
  final val PqIters = 2
  /** Codebook TRAINING-SAMPLE cap: the Lloyd rounds never touch more
    * than this many vectors. At the test scale factors the corpus is
    * smaller than the cap (sample ≡ corpus, so the DuckDB twin's
    * numbers are unchanged); at 100 TB the cap is what makes PQ
    * training a constant-size job while the encode pass stays a
    * broadcast map over the full corpus. */
  final val PqTrain = 4096
  /** Containment panel size. */
  final val CtTop = 20
  /** Boilerplate shingle detection — the heavy-hitter quality filter a
    * pretraining pipeline runs before dedup: a token 3-gram shared by
    * many documents is boilerplate (headers, footers, templates); each
    * document reports its boilerplate fraction and a flag. Thresholds
    * are scaled to the synthetic corpus like the other scaled constants
    * (real web corpora use ~5% df): df ≥ max(5, 1% of docs) — the
    * measured df distribution tops out at 1.4% here — and flag at
    * fraction > 0.1 (11 genuinely template-heavy docs at sf0.01, so the
    * check validates real rows, not an empty set).
    *
    * Exact document frequency (not a sketch): two grouped aggregations —
    * shingle→df, then doc→overlap — both order-independent integer
    * counts, so the result is parallelism-invariant and exactly
    * oracle-able. The explode stays on DISTINCT per-doc shingles, so
    * shuffle volume is corpus vocabulary, not corpus length. */
  private[graft] def boilerplateNgrams(s: SparkSession, dir: String): DataFrame = {
    val th = shingleHashSets(s, dir)
    val exploded = th.selectExpr("doc_id", "explode(th) AS sh")
    val nDocs = Tables.documents(s, dir).count() // plain count-star scan
    val minDf = math.max(5L, math.ceil(nDocs * 0.01).toLong)
    val boiler = exploded.groupBy("sh")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .select("sh")
    exploded
      .join(broadcast(boiler).withColumn("hit", lit(1L)), Seq("sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("hit"), lit(0L))).as("n_boiler"))
      .selectExpr("doc_id", "n_shingles", "n_boiler",
        "n_boiler / CAST(n_shingles AS DOUBLE) AS boiler_frac",
        "n_boiler / CAST(n_shingles AS DOUBLE) > 0.1 AS flagged")
      .orderBy("doc_id")
  }
  /** Independent hash tables for the widened ANN (ann_lsh_multi). */
  final val AnnTables = 2
  /** Build-side bucket membership cap (skew bound). */
  final val AnnBucketCap = 32
  /** Max hyperplane bits per table; plane ids index t*AnnMaxBits + k so
    * planes are stable as the adaptive bit count grows. */
  final val AnnMaxBits = 24
  /** KMV sketch size — small enough that this corpus's ~31-token
    * per-source vocabularies exercise the ESTIMATION branch, not just the
    * exact small-set path. */
  final val KmvK = 16
  /** Count-min sketch geometry: d=4 rows × w=512 buckets — 2048 BIGINT
    * counters total, at ANY corpus size. Row multipliers are the public
    * xxhash/Knuth mixing primes; bucket_r(t) = h·M_r mod P mod w over the
    * scrambled token fold h. */
  final val CmsD = 4
  final val CmsW = 512
  final val CmsMul = Seq(2654435761L, 2246822519L, 3266489917L, 668265263L)
  /** Bloom-filter geometries for [[bloomDedup]]: a deliberately
    * UNDERSIZED 1024-bit filter next to a right-sized 65536-bit one
    * (8 KiB at ANY corpus size), k = 4 probes reusing the CMS row
    * multipliers over the scrambled content fingerprint. */
  final val BloomMs = Seq(1024, 65536)
  /** Cross-source overlap matrix — the contamination panel a curator
    * reads before mixing corpora: for every source pair with any shared
    * vocabulary, the EXACT token-hash Jaccard next to its KMV
    * union-sketch estimate (K smallest of the union, counted against
    * both sketches — Beyer et al.'s K-minimum-values estimator), so the
    * sketch's quality is measured, not asserted (the quantile_sketch /
    * ann_recall pattern).
    *
    * 100 TB shape: the exact intersection NEVER self-joins the corpus —
    * distinct (source, hash) rows group by hash and each hash explodes
    * only the pairs of sources containing it (bounded by S² per hash, S
    * = dozens of sources), so truth is linear in distinct hashes; the
    * per-source sketches come from the same distinct pass through the
    * BOUNDED [[graft.functions.KMinValues]] aggregator (K longs per
    * group, map-side combine) and the final pair join touches
    * source-cardinality tables only (broadcast). At real scale only
    * the exact columns retire, with the truth harness. */
  private[graft] def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val e = registered(s, dir).selectExpr("source",
      "explode(transform(split(text, ' '), " +
        s"t -> poly_hash(t) * 2654435761L % ${P}L)) AS h")
      .distinct()
    val perSrc = e.groupBy("source").agg(
      count(lit(1)).as("nd"),
      kminAgg(col("h")).as("ks"))
    val inter = e.groupBy("h")
      .agg(expr("array_sort(collect_set(source))").as("ss"))
      .selectExpr("explode(flatten(transform(ss, " +
        "a -> transform(filter(ss, b -> b > a), " +
        "b -> struct(a AS src_a, b AS src_b))))) AS p")
      .groupBy("p.src_a", "p.src_b").agg(count(lit(1)).as("common"))
    val pa = perSrc.selectExpr("source AS src_a", "nd AS nd_a", "ks AS ks_a")
    val pb = perSrc.selectExpr("source AS src_b", "nd AS nd_b", "ks AS ks_b")
    inter.join(broadcast(pa), Seq("src_a")).join(broadcast(pb), Seq("src_b"))
      .selectExpr("src_a", "src_b", "common", "nd_a", "nd_b", "ks_a", "ks_b",
        s"slice(array_sort(array_union(ks_a, ks_b)), 1, $KmvK) AS uk")
      .selectExpr("src_a", "src_b", "common", "nd_a", "nd_b", "size(uk) AS kmv_k",
        "size(filter(uk, x -> array_contains(ks_a, x) " +
          "AND array_contains(ks_b, x))) AS kmv_common")
      .selectExpr("src_a", "src_b",
        "round(CAST(common AS DOUBLE) / (nd_a + nd_b - common), 4) " +
          "AS jacc_exact",
        "kmv_common", "kmv_k",
        "round(kmv_common / CAST(kmv_k AS DOUBLE), 4) AS jacc_est")
      .orderBy("src_a", "src_b")
  }
  /** TF-IDF top terms — per-document keyword extraction, the classic
    * tf·idf ranking (Sparck Jones idf, raw tf) with the top 3 terms per
    * document; the per-doc keyword panel a corpus browser or topic
    * labeler reads.
    *
    * 100 TB shape: term frequencies are ONE (doc, word) shuffle;
    * document frequency is a second aggregation OVER THE TF TABLE (rows
    * are already distinct per doc, so df = count, no second corpus
    * pass); N rides a single-row broadcast; scoring joins tf to the
    * vocab-sized df table on the word key (shuffle join, corpus-growing,
    * not broadcast); top-k is a rank window partitioned by doc_id —
    * per-group size bounded by the doc's vocabulary, massive
    * parallelism, never a global sort. idf is rounded to 6 dp before the
    * tf multiply (the bm25 move) so the one libm call cannot drift
    * across engines; (score, term) is unique per doc so the rank is
    * fully deterministic. */
  private[graft] def tfidfTerms(s: SparkSession, dir: String): DataFrame = {
    val tf = docTermTf(s, dir)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nd = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nd))
      .selectExpr("doc_id", "term", "tf",
        "round(tf * round(ln(CAST(n_docs AS DOUBLE) / df), 6), 4) AS score")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))))
      .where("rnk <= 3")
      .orderBy("doc_id", "rnk")
  }
  /** Decomposed probe (NFC-sensitive): "café Å" with the accents as
    * COMBINING characters (e+U+0301, A+U+030A) — canonical composition
    * rewrites both to precomposed forms, shrinking the string by 2. */
  private[graft] val NfcProbe = " caf" + "é" + " Å"
  /** Unicode NFC normalization — the canonicalization pass a text
    * pipeline runs before any hashing or dedup (decomposed e+◌́ and
    * precomposed é must not count as distinct content). The corpus is
    * ASCII by construction, so NFC-sensitive sequences are INJECTED by
    * doc_id residue (the pii_scrub move — absent-case rows stay part of
    * the check) and the normalized text itself is emitted, making the
    * cross-engine comparison a full content equality, not just counts.
    *
    * 100 TB shape: a pure map over the scan — the [[graft.functions
    * .NfcNormalize]] expression runs inside whole-stage codegen with an
    * allocation-free already-normalized fast path (the common case).
    * DuckDB's nfc_normalize implements the same canonical algorithm. */
  private[graft] def textNormalize(s: SparkSession, dir: String): DataFrame =
    registered(s, dir)
      .selectExpr("doc_id",
        s"concat(text, CASE WHEN doc_id % 5 = 0 THEN '$NfcProbe' " +
          "ELSE '' END) AS txt")
      .selectExpr("doc_id", "doc_id % 5 = 0 AS injected",
        "length(txt) AS n_before", "nfc_normalize(txt) AS norm_text")
      .selectExpr("doc_id", "injected", "n_before",
        "length(norm_text) AS n_after",
        "n_before <> length(norm_text) AS changed", "norm_text")
      .orderBy("doc_id")
  /** Deflate compression ratio — the repetitive-junk signal of
    * RefinedWeb/FineWeb-class pipelines (machine-generated boilerplate
    * compresses far better than natural text; a ratio near 0 flags it).
    * No SQL twin exists (DuckDB has no compression function), so this
    * deliberately lives OUTSIDE the `SparkEntry.queries` gate — every
    * gate entry promises a DuckDB-checkable oracle, and this one
    * structurally can't. Coverage instead: TextKernelsSpec replays the
    * query against a plain-Scala recompute plus crafted
    * repetitive-vs-diverse monotonicity cases, and PlanAuditSpec pins
    * the pure-map plan. The function remains a first-class corpus
    * filter signal (COVERAGE.md).
    *
    * 100 TB shape: a pure map — [[graft.functions.DeflateLen]] runs the
    * JDK Deflater per row inside codegen, no shuffle, no state. */
  private[graft] def compressionRatio(s: SparkSession, dir: String): DataFrame =
    registered2(s, dir)
      .selectExpr("doc_id",
        "CAST(length(text) AS BIGINT) AS n_bytes",
        "CAST(deflate_len(text) AS BIGINT) AS n_deflate")
      .selectExpr("doc_id", "n_bytes", "n_deflate",
        "round(n_deflate / CAST(greatest(n_bytes, 1) AS DOUBLE), 4) " +
          "AS ratio")
      .orderBy("doc_id")
  /** documents with the deflate_len kernel registered. */
  private[graft] def registered2(s: SparkSession, dir: String): DataFrame = {
    graft.functions.DeflateLen.register(s)
    Tables.documents(s, dir)
  }
  /** Vocabulary coverage curve — the tokenizer-sizing readout (what
    * fraction of all token occurrences do the top-N vocabulary entries
    * cover?), read before choosing a BPE vocab budget.
    *
    * 100 TB shape: unigram counts are one token-explode shuffle; the
    * curve only needs the TOP-64 entries, so the global order is a
    * TakeOrderedAndProject (64 rows), never a vocab-wide sort; the
    * cumulative window then runs over those ≤64 rows and the corpus
    * total rides a single-row broadcast. Ranks beyond the vocabulary
    * simply don't appear — identically in both engines. */
  private[graft] val VocabRanks = Seq(1, 2, 4, 8, 16, 32, 64)
  private[graft] def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val uni = docTermTf(s, dir)
      .groupBy("term").agg(sum("tf").as("c"))
    val tot = uni.agg(sum("c").as("total"))
    val w = Window.orderBy(desc("c"), asc("term"))
    uni.orderBy(desc("c"), asc("term")).limit(VocabRanks.max)
      .withColumn("rk", row_number().over(w))
      .withColumn("cum", sum("c").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .where(col("rk").isin(VocabRanks.map(Integer.valueOf): _*))
      .crossJoin(broadcast(tot))
      .selectExpr("rk AS vocab_rank", "cum AS covered_tokens",
        "total AS total_tokens",
        "round(CAST(cum AS DOUBLE) / total, 4) AS coverage")
      .orderBy("vocab_rank")
  }
  /** BPE-ish pretokenizer regex (the GPT-2 pattern family, restricted to
    * constructs Java regex and RE2 treat identically — no lookarounds, no
    * \\s class): contraction suffixes, space-prefixed letter/digit runs,
    * punctuation runs. */
  private[graft] val BpePattern =
    "'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"
  /** Token counting, BPE-ish: pretokenize with the regex (vs the plain
    * whitespace split of token_stats) — the shape a tokenizer-aware
    * pipeline counts with. */
  private[graft] def tokenStatsBpe(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("toks"))
      .selectExpr("doc_id", "size(toks) AS n_tokens",
        "size(array_distinct(toks)) AS n_unique")
      .orderBy("doc_id")
  /** IVF coarse-quantizer cell floor — the ladder bottoms out here at
    * N ≤ 1024 (~sf0.001 and below). At sf0.01 (N = 5000) the ladder
    * yields 128 cells; that is where the quoted recall numbers were
    * measured. */
  final val IvfCells = 16
  /** Target posting-list size: cells scale as ~n/64 so the per-cell
    * candidate join stays CONSTANT-sized as the corpus grows — a fixed
    * cell count makes total candidates N²·post·probes/K, i.e. quadratic
    * (measured: 16 cells at N=5000 ⇒ 12.5 M cosine evaluations where
    * 128 cells ⇒ 1.6 M). Same corpus-adaptive move as [[annBits]]. */
  final val IvfBucketTarget = 64L
  final val IvfMaxCells = 4096
  /** Probed cells per query vector (multi-probe recall lever). */
  final val IvfProbes = 4
  /** Cells each vector is POSTED to (multi-assignment recall lever —
    * boundary vectors appear in both their near cells, so a probe from
    * either side finds them). Measured recall@1 vs brute-force truth at
    * sf0.01 (the `ann_recall` query, scrambled-hash 128-query panel):
    * post=1/probes=2 landed near 0.33 in earlier tuning; post=2/probes=4
    * → 0.758 — past the 0.7 bar while scanning ~half the posting volume;
    * the untrained first-K centroids, not the probe budget, are the
    * remaining recall ceiling. */
  final val IvfPost = 2
  /** Lloyd iterations for the trained quantizer. */
  final val IvfIters = 2
  /** Fixed-point scale for centroid means: per-dimension member sums are
    * Σ round(x·1e6) over LONGS, so the mean is order-independent and the
    * DuckDB twin lands on the identical centroid — a raw double sum
    * would drift with partition order and break the oracle. */
  final val IvfScale = 1000000L
  /** Query-sample size for the recall measurement: brute-force truth is
    * O(N) PER QUERY, so truth over all N queries is quadratic and the
    * measurement would outgrow the algorithms it measures. A fixed
    * 128-query panel keeps truth linear in the corpus. The panel is
    * drawn by SCRAMBLED ID HASH (the sample_hash idiom, a distributed
    * TakeOrdered — no global sort), NOT by first-K ids: ivfCellsFor
    * lands on exactly 128 at sf0.01, so a `vec_id < 128` panel would
    * coincide with the IVF quantizer's seed vectors and measure index
    * construction, not representative recall. */
  final val RecallQueries = 128
  /** Near-dup recall thresholds (cosine, in percent). */
  final val NeardupTauPcts = Seq(30, 35, 40)
  /** Language ID: char-trigram profile classifier (library kernel; the
    * synthetic corpus text is English-shaped regardless of its `lang`
    * label, so the prediction column is the deliverable, not accuracy).
    * No SQL oracle — driver records the rows-only check. */
  private[graft] def langId(s: SparkSession, dir: String): DataFrame = {
    val detect = udf((t: String) => graft.functions.TextFunctions.detectLang(t))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), detect(col("text")).as("predicted"))
      .orderBy("doc_id")
  }
  /** Language-ID confusion matrix — the classifier's MEASURED quality
    * against the corpus's ground-truth `lang` column (the ann_recall /
    * minhash_recall move applied to text classification): per
    * (true, predicted) cell the count and the exact-ppm row fraction,
    * so per-class recall sits on the diagonal. One classify pass + an
    * aggregation over the ≤ |langs|² key space.
    *
    * Measured at sf0.01: en recall 0.73, other labels near-chance with
    * mass pulled toward en — correct behavior, honestly read: the
    * synthetic corpus draws TEXT from one English-like word model for
    * every `lang` label, so there is no cross-language trigram signal
    * to find (the ann_lsh-recall situation: the measurement documents a
    * property of the data, not a defect of the classifier — which the
    * crafted-text spec in PipelineSpec shows detecting real language
    * profiles correctly). */
  private[graft] def langConfusion(s: SparkSession, dir: String): DataFrame = {
    val detect = udf((t: String) => graft.functions.TextFunctions.detectLang(t))
    val cm = Tables.documents(s, dir)
      .select(col("lang"), detect(col("text")).as("predicted"))
      .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
    cm.withColumn("n_true", sum("n").over(
        Window.partitionBy("lang")))
      .selectExpr("lang", "predicted", "n", "n_true",
        "n * CAST(1000000 AS BIGINT) div n_true AS frac_ppm")
      .orderBy("lang", "predicted")
  }
  /** Text → media-payload bytes for the multimodal fixtures. The engine
    * slices and hashes BYTES while the DuckDB oracle slices characters
    * (substr) — identical only for ASCII, so the assumption is enforced
    * here at the query boundary rather than left coincidental. */
  /** ASCII-safe media fixture source: multimodal payloads are built by
    * byte-slicing text while the oracles mirror them with per-CHARACTER
    * arithmetic, so both sides restrict to rows where chars and bytes
    * coincide (Spark: `length = octet_length`; DuckDB `length =
    * strlen`). On ASCII corpora the filter keeps every row; a future
    * data rotation to non-ASCII text narrows the fixture set on BOTH
    * engines identically instead of throwing mid-stage. */
  /** ASCII, NON-EMPTY documents — the multimodal fixture base. The
    * `length > 0` guard keeps both engines' narrowing identical: a
    * zero-length payload would zero-pad on the Spark side while the
    * oracle's `% len` sampling turns NULL (advisor-flagged parity
    * hazard), so empty docs are excluded from the media corpus
    * outright. */
  private[graft] def asciiDocs(s: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[(Long, String)] = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir)
      .filter(expr("length(text) = octet_length(text) AND length(text) > 0"))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      // spread the single-row-group driver parquet before the per-doc
      // fixture encode/parse work every consumer does (the
      // vecs/cdcChunked move): without this exchange a narrow
      // `.map{codec}` chain (xlsx/docx/pdf/tar builders...) runs
      // entirely in the scan's ONE task regardless of cores. A real
      // multi-file corpus arrives pre-split and this ships two narrow
      // columns once — far below the per-doc codec work it spreads.
      // Measured: xlsx_extract 1.42 → 0.16 s exec at sf0.1/local[32].
      .repartition(col("doc_id"))
  }
  private[graft] def asciiBytes(id: Long, t: String): Array[Byte] = {
    val b = t.getBytes("UTF-8")
    require(b.length == t.length,
      s"multimodal text fixture doc_id=$id is non-ASCII: byte slicing " +
        "would diverge from the character-based oracle")
    b
  }
  /** How many of the 64 aHash bits may differ for a candidate pair to
    * surface in the near-dup panel (random signatures center on 32,
    * σ = 4 — the panel reports the left tail). */
  final val AhashPanelTop = 20
  /** Exact-truth radius for the recall readout: 8 bands of 8 bits make
    * the truth candidate set COMPLETE for Hamming ≤ 7 by pigeonhole
    * (7 differing bits cannot touch all 8 bands). */
  final val AhashRecallRadius = 7
  /** Per-host politeness scheduling (Crawl-delay) — the last crawler
    * op beside the frontier: each host's fetches must be ≥ D ms
    * apart, so request i (in desired-time order) schedules at
    * `s_i = max(t_i, s_{i−1} + D)`. The recurrence has the closed
    * form `s_i = D·i + prefixmax(t_j − D·j)`, which turns the
    * sequential dependency into ONE running-max window per host —
    * exact integers, no recursion, and the window partitions by host
    * (the politeness key IS the parallelism key; no host's schedule
    * depends on another's). */
  final val CrawlDelayMs = 1000L
  private[graft] def funnelCtesSql: String =
    s"""WITH docs AS (
        |  SELECT doc_id, text,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok,
        |    ${charFoldDuck("text")} AS h1,
        |    ${charFoldDuck("reverse(text)")} AS h2,
        |    length(text) AS len
        |  FROM documents),
        |k1 AS MATERIALIZED (
        |  SELECT doc_id, text, ntok FROM (
        |    SELECT *, min(doc_id) OVER (PARTITION BY h1, h2, len) AS kp
        |    FROM docs) WHERE doc_id = kp),
        |l1 AS MATERIALIZED (
        |  SELECT doc_id, array_to_string(
        |    ws[(u.j * 3 + 1):(u.j * 3 + 3)], ' ') AS line
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM k1) d,
        |  LATERAL unnest(range(0, (len(ws) - 1) // 3 + 1)) AS u(j)),
        |f1 AS (SELECT line, count(DISTINCT doc_id) AS df
        |       FROM l1 GROUP BY line),
        |k2 AS MATERIALIZED (
        |  SELECT k1.doc_id, k1.text, k1.ntok FROM k1 JOIN (
        |    SELECT l1.doc_id FROM l1 JOIN f1 USING (line)
        |    GROUP BY l1.doc_id
        |    HAVING CAST(sum(CASE WHEN f1.df < 3 THEN 1 ELSE 0 END)
        |      AS BIGINT) * 2 >= count(*)) sv USING (doc_id)),
        |k3 AS MATERIALIZED (SELECT * FROM k2 WHERE ntok >= 20),
        |dq AS (SELECT doc_id, string_split(text, ' ') AS tk
        |       FROM documents),
        |tq AS (SELECT doc_id, unnest(tk) AS w FROM dq),
        |dr AS (SELECT doc_id,
        |    CAST(substring(source, 4) AS INT) % 4 = 0 AS ref
        |  FROM documents),
        |cq AS (
        |  SELECT w,
        |    CAST(sum(CASE WHEN dr.ref THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN dr.ref THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM tq JOIN dr USING (doc_id) GROUP BY w),
        |tt AS (
        |  SELECT CAST(sum(cp) AS BIGINT) AS tp,
        |    CAST(sum(cn) AS BIGINT) AS tn, count(*) AS vocab FROM cq),
        |pq AS (
        |  SELECT CAST(round(ln(
        |      (sum(CASE WHEN ref THEN 1 ELSE 0 END) + CAST(1 AS DOUBLE))
        |      / (sum(CASE WHEN ref THEN 0 ELSE 1 END) + CAST(1 AS DOUBLE)))
        |    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS prior_fp FROM dr),
        |mq AS (
        |  SELECT w,
        |    CAST(round(ln((cp + CAST(1 AS DOUBLE))
        |        / (tp + CAST(vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |    - CAST(round(ln((cn + CAST(1 AS DOUBLE))
        |        / (tn + CAST(vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS llr
        |  FROM cq CROSS JOIN tt),
        |pos AS MATERIALIZED (
        |  SELECT tq.doc_id FROM tq JOIN mq ON tq.w = mq.w
        |  CROSS JOIN pq GROUP BY tq.doc_id, pq.prior_fp
        |  HAVING CAST(sum(mq.llr) AS BIGINT) + pq.prior_fp > 0),
        |k4 AS (SELECT k3.* FROM k3 JOIN pos USING (doc_id))""".stripMargin
  /** HTML → text extraction (operators/HtmlText): documents are
    * embedded — entity-escaped — in a full HTML page with a title, a
    * style block, a script whose STRING LITERALS contain close tags,
    * a quoted attribute containing '>', a comment containing markup
    * and heading/paragraph structure; the extractor's state machine
    * must drop script/style content and comments, treat tags as word
    * boundaries, decode the entities back and collapse whitespace to
    * recover exactly `Doc {id} Header {id%10} {text}` — which the
    * oracle rebuilds with one `\s+` collapse. A tag-scan, raw-text,
    * entity or collapse bug breaks the string hash. */
  private[graft] def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val html =
          s"""<html><head><title>Doc $id</title><style type="text/css">p { margin: 0; }</style><script type="text/javascript">if (1 < 2) { var s = "</p>"; }</script></head><body data-note="a > b"><h1>Header ${id % 10}</h1><!-- hidden <b>note</b> --><p>${graft.operators.HtmlText.escape(t)}</p></body></html>"""
        val x = graft.operators.HtmlText.extractText(html)
        (id, x, x.length, x.count(_ == ' ') + 1)
      }
      .toDF("doc_id", "extracted", "n_chars", "n_words")
      .orderBy("doc_id")
  }
  /** Shared oracle CTE block for the unigram tokenizer family: the
    * deterministic vocabulary (chars + top-16 scored pieces) and the
    * per-word Viterbi DP as a recursive CTE — positions advance one
    * per iteration, the dp vector rides along as a list, and the four
    * bounded-lookback candidates (piece length 1..4) compare through
    * the same packed `64·score − pieces` value the Spark side
    * maximizes. An absent piece coalesces to a −2⁶² sentinel; single
    * characters are always in the vocabulary, so every position stays
    * reachable and the sentinel never wins. */
  private[graft] def unigramCtes: String =
    """WITH RECURSIVE
      |wc AS (
      |  SELECT w, count(*) AS c FROM (
      |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY w),
      |ch AS (
      |  SELECT substr(w, CAST(u.i AS INT), 1) AS p,
      |    CAST(sum(c) AS BIGINT) AS cnt
      |  FROM wc, LATERAL unnest(range(1, length(w) + 1)) AS u(i)
      |  GROUP BY 1),
      |mu AS (
      |  SELECT p, cnt FROM (
      |    SELECT substr(w, CAST(u.i AS INT), CAST(v.k AS INT)) AS p,
      |      CAST(sum(c) AS BIGINT) AS cnt
      |    FROM wc, LATERAL unnest(range(1, length(w) + 1)) AS u(i),
      |      LATERAL unnest(range(2, 5)) AS v(k)
      |    WHERE u.i + v.k - 1 <= length(w) GROUP BY 1)
      |  ORDER BY cnt DESC, p LIMIT 16),
      |voc AS (SELECT * FROM ch UNION ALL SELECT * FROM mu),
      |tt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM voc),
      |sv AS (
      |  SELECT p, cnt,
      |    CAST(round(ln(cnt / t) * 1000000, 0) AS BIGINT) AS score
      |  FROM voc, tt),
      |dp AS (
      |  SELECT w, c, 0 AS i, [CAST(0 AS BIGINT)] AS ps FROM wc
      |  UNION ALL
      |  SELECT w, c, i + 1, list_append(ps, greatest(
      |    coalesce((SELECT ps[i + 1] + 64 * score - 1 FROM sv
      |      WHERE p = substr(w, i + 1, 1)), -4611686018427387904),
      |    coalesce(CASE WHEN i >= 1 THEN (SELECT ps[i] + 64 * score - 1
      |      FROM sv WHERE p = substr(w, i, 2)) END, -4611686018427387904),
      |    coalesce(CASE WHEN i >= 2 THEN (SELECT ps[i - 1] + 64 * score - 1
      |      FROM sv WHERE p = substr(w, i - 1, 3)) END, -4611686018427387904),
      |    coalesce(CASE WHEN i >= 3 THEN (SELECT ps[i - 2] + 64 * score - 1
      |      FROM sv WHERE p = substr(w, i - 2, 4)) END, -4611686018427387904)))
      |  FROM dp WHERE i < length(w)),
      |res AS (
      |  SELECT w, c, ps[CAST(length(w) AS INT) + 1] AS pk
      |  FROM dp WHERE i = length(w))""".stripMargin
  // ---- oracles ---------------------------------------------------------

  /** The trigram language classifier transliterated to SQL from the
    * SAME profile data (functions.TextFunctions.Profiles): integer rank
    * scores, argmax folded in sorted-language order with the > 0 /
    * strictly-greater tie rule of detectLang. Shared by the lang_id and
    * lang_confusion oracles. */
  private[graft] lazy val langIdProfiles =
    graft.functions.TextFunctions.Profiles.toSeq.sortBy(_._1)
  private[graft] lazy val langIdArgmax: String =
    langIdProfiles.foldLeft(("'und'", "0")) {
      case ((bestExpr, valExpr), (lang, _)) =>
        (s"CASE WHEN s_$lang > $valExpr THEN '$lang' ELSE $bestExpr END",
          s"greatest($valExpr, s_$lang)")
    }._1
  private[graft] lazy val langIdSqlCtes: String = {
    val scoreCols = langIdProfiles.map { case (lang, p) =>
      val terms = p.zipWithIndex.map { case (g, r) =>
        s"CASE WHEN list_contains(grams, '${g.replace("'", "''")}') " +
          s"THEN ${p.size - r} ELSE 0 END"
      }.mkString(" + ")
      s"($terms) AS s_$lang"
    }.mkString(",\n    ")
    s"""WITH p AS (
       |  SELECT doc_id, lang, text,
       |    ' ' || lower(text) || ' ' AS pad
       |  FROM documents),
       |g AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_concat(
       |      list_transform(range(0, greatest(length(pad) - 2, 0)),
       |        i -> substr(pad, CAST(i AS INT) + 1, 3)),
       |      string_split(text, ''))) AS grams
       |  FROM p),
       |sc AS (
       |  SELECT doc_id, lang,
       |    $scoreCols
       |  FROM g)""".stripMargin
  }
  /** Corpus-filter verdict CTEs through `r(doc_id, reason)` — shared by
    * the corpus_filter and prepare_corpus oracles. */
  private[graft] def corpusFilterCtes: String =
    s"""WITH d AS (
       |  SELECT doc_id, lang, ${charFoldDuck("text")} AS fp,
       |    length(string_split(text, ' ')) AS n_tokens,
       |    length(text) AS n_chars,
       |    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
       |    length(list_filter(string_split(text, ' '),
       |      t -> t IN ('the', 'a'))) AS n_stop
       |  FROM documents),
       |k AS (
       |  SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keeper FROM d),
       |r AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id <> keeper THEN 'duplicate'
       |      WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'lang'
       |      WHEN n_tokens < 20 THEN 'too_short'
       |      WHEN n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) > 0.1
       |        THEN 'punct_heavy'
       |      WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15 THEN 'stopwordy'
       |      ELSE 'keep' END AS reason
       |  FROM k)""".stripMargin
  /** One BPE step in SQL: pair counts over r{t−1}, argmax with the
    * lex-smallest tiebreak, EXACT greedy merge — the twin of one
    * [[bpeTrain]] loop iteration. The merge iterates leftmost
    * single-occurrence replacement to fixpoint (recursive CTE x$t):
    * repeated leftmost merge equals the reference's one-pass greedy
    * scan (each iteration merges the leftmost remaining adjacency —
    * precisely what the scan does first — and the inserted token XY can
    * never form a new (X, Y) adjacency since XY ≠ X and XY ≠ Y). The
    * remainder substring starts AT the matched trailing space so
    * delimiters are preserved; each merge shrinks the string by one
    * char, so the recursion terminates. */
  private[graft] def bpeStepSql(t: Int): String = {
    val prev = s"r${t - 1}"
    s"""p$t AS (
       |  SELECT pair, sum(c) AS pc FROM (
       |    SELECT c, sym[i] || ' ' || sym[i+1] AS pair
       |    FROM (SELECT c, string_split(repr, ' ') AS sym FROM $prev),
       |      LATERAL unnest(range(1, greatest(len(sym), 1))) AS u(i))
       |  GROUP BY pair),
       |m$t AS (SELECT $t AS step, pair, pc FROM p$t
       |  ORDER BY pc DESC, pair LIMIT 1),
       |x$t AS (
       |  SELECT word, c, ' ' || repr || ' ' AS s, false AS done FROM $prev
       |  UNION ALL
       |  SELECT word, c,
       |    CASE WHEN p = 0 THEN s
       |      ELSE substr(s, 1, p - 1) || ' ' || replace(mp, ' ', '') ||
       |        substr(s, p + length(mp) + 1) END,
       |    p = 0
       |  FROM (
       |    SELECT word, c, s, strpos(s, ' ' || mp || ' ') AS p, mp
       |    FROM x$t, (SELECT pair AS mp FROM m$t) WHERE NOT done) z$t),
       |r$t AS (SELECT word, c, trim(s) AS repr FROM x$t WHERE done)""".stripMargin
  }

  /** This part's oracle SQL entries (the `oracleSql` slice). */
  private[graft] def textOracleSql: Map[String, String] = Map(
    "mixture_sample" ->
      s"""WITH b AS (
         |  SELECT source, count(*) AS n_docs,
         |    1 + ${charFoldDuck("source")} % 5 AS w_raw
         |  FROM documents GROUP BY source),
         |tt AS (SELECT CAST(sum(w_raw) AS BIGINT) AS sum_raw FROM b),
         |wt AS (
         |  SELECT b.*, tt.sum_raw,
         |    n_docs * tt.sum_raw // w_raw AS cap
         |  FROM b, tt),
         |t AS (SELECT min(cap) AS t_total FROM wt),
         |rates AS (
         |  SELECT source, n_docs, w_raw,
         |    w_raw * 1000000 // sum_raw AS w_ppm,
         |    w_raw * t_total // sum_raw AS k_target,
         |    (w_raw * t_total // sum_raw) * 1000000 // n_docs AS rate_ppm
         |  FROM wt, t),
         |kept AS (
         |  SELECT d.source, count(*) AS n_kept
         |  FROM documents d JOIN rates r ON d.source = r.source
         |  WHERE ${charFoldDuck("text")} * 2654435761 % $P % 1000000
         |    < r.rate_ppm
         |  GROUP BY d.source)
         |SELECT r.source, r.n_docs, r.w_ppm, r.k_target, r.rate_ppm,
         |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept
         |FROM rates r LEFT JOIN kept k ON r.source = k.source
         |ORDER BY r.source""".stripMargin,
    "bpe_train" ->
      s"""WITH RECURSIVE w AS (
         |  SELECT t AS word, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE t <> '' GROUP BY t),
         |r0 AS (
         |  SELECT word, c,
         |    array_to_string(string_split(word, ''), ' ') AS repr
         |  FROM w),
         |${(1 to BpeMerges).map(bpeStepSql).mkString(",\n")}
         |SELECT step, pair, CAST(pc AS BIGINT) AS pc FROM (
         |  ${(1 to BpeMerges).map(t => s"SELECT * FROM m$t")
              .mkString(" UNION ALL ")})
         |ORDER BY step""".stripMargin,
    "bpe_encode" ->
      s"""WITH RECURSIVE w AS (
         |  SELECT t AS word, count(*) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
         |  WHERE t <> '' GROUP BY t),
         |r0 AS (
         |  SELECT word, c,
         |    array_to_string(string_split(word, ''), ' ') AS repr
         |  FROM w),
         |${(1 to BpeMerges).map(bpeStepSql).mkString(",\n")},
         |dw AS (
         |  SELECT doc_id, word, count(*) AS k FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |    FROM documents)
         |  WHERE word <> '' GROUP BY doc_id, word)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_words,
         |  CAST(sum(k * len(string_split(repr, ' '))) AS BIGINT) AS n_bpe
         |FROM dw JOIN r$BpeMerges USING (word)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "gopher_repetition" ->
      s"""WITH t AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |    string_split(text, ' ') AS tk FROM documents),
         |g AS (
         |  SELECT doc_id, n_chars, len(tk) AS n_tokens,
         |    ${gramsDuck("tk", 2)} AS g2,
         |    ${gramsDuck("tk", 3)} AS g3
         |  FROM t),
         |m AS (
         |  SELECT doc_id, n_tokens, n_chars,
         |    CAST(coalesce(list_max(list_transform(g2,
         |      g -> CASE WHEN len(list_filter(g2, x -> x = g)) >= 2
         |        THEN len(list_filter(g2, x -> x = g)) * length(g)
         |        ELSE 0 END)), 0)
         |      AS BIGINT) AS top2_chars,
         |    CAST(len(g3) AS BIGINT) AS n_3grams,
         |    CAST(len(list_filter(g3,
         |      g -> len(list_filter(g3, x -> x = g)) >= 2)) AS BIGINT)
         |      AS dup3_pos
         |  FROM g)
         |SELECT doc_id, n_tokens, n_chars, top2_chars,
         |  top2_chars / CAST(greatest(n_chars, 1) AS DOUBLE) AS top2_frac,
         |  n_3grams, dup3_pos,
         |  dup3_pos / CAST(greatest(n_3grams, 1) AS DOUBLE) AS dup3_frac,
         |  top2_chars / CAST(greatest(n_chars, 1) AS DOUBLE) > 0.12
         |    OR dup3_pos > 0 AS flagged
         |FROM m ORDER BY doc_id""".stripMargin,
    "exact_substring" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |a AS (
         |  SELECT doc_id AS doc_a, CAST(i * $EsK + 1 AS BIGINT) AS pos_a,
         |    substr(text, CAST(i * $EsK + 1 AS INT), $EsK) AS w
         |  FROM d, LATERAL unnest(range(0,
         |    greatest((length(text) - $EsK) // $EsK + 1, 0))) AS u(i)
         |  WHERE length(text) >= $EsK),
         |boil AS (
         |  SELECT w FROM (
         |    SELECT w, count(DISTINCT doc_a) AS df FROM a GROUP BY w)
         |  WHERE df > $EsDocCap),
         |a2 AS (
         |  SELECT a.* FROM a LEFT JOIN boil ON a.w = boil.w
         |  WHERE boil.w IS NULL),
         |p AS (
         |  SELECT doc_id AS doc_b, CAST(i AS BIGINT) AS pos_b,
         |    substr(text, CAST(i AS INT), $EsK) AS w
         |  FROM d, LATERAL unnest(range(1,
         |    greatest(length(text) - $EsK + 2, 1))) AS u(i)
         |  WHERE length(text) >= $EsK),
         |mm AS (
         |  SELECT a2.doc_a, p.doc_b, a2.pos_a, p.pos_b, a2.w
         |  FROM a2 JOIN p ON a2.w = p.w AND a2.doc_a < p.doc_b),
         |gg AS (
         |  SELECT doc_a, doc_b, count(*) AS n_matches
         |  FROM mm GROUP BY doc_a, doc_b),
         |f AS (
         |  SELECT doc_a, doc_b, pos_a, pos_b, w,
         |    row_number() OVER (PARTITION BY doc_a, doc_b
         |      ORDER BY pos_a, pos_b, w) AS rk
         |  FROM mm)
         |SELECT gg.doc_a, gg.doc_b, gg.n_matches,
         |  f.pos_a, f.pos_b, f.w AS win
         |FROM gg JOIN f ON gg.doc_a = f.doc_a AND gg.doc_b = f.doc_b
         |  AND f.rk = 1
         |ORDER BY gg.doc_a, gg.doc_b""".stripMargin,
    "pii_scrub" ->
      """WITH t AS (
        |  SELECT doc_id, concat(text,
        |    CASE WHEN doc_id % 3 = 0 THEN concat(' contact user',
        |      CAST(doc_id AS VARCHAR), '@mail.example.com') ELSE '' END,
        |    CASE WHEN doc_id % 4 = 1 THEN concat(' call +1-555-',
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) ELSE '' END,
        |    CASE WHEN doc_id % 5 = 2 THEN concat(' from 10.',
        |      CAST(doc_id % 256 AS VARCHAR), '.0.1') ELSE '' END) AS t2
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, t2,
        |    regexp_replace(regexp_replace(regexp_replace(t2,
        |      '[a-z0-9]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |      '[+]1-555-[0-9]{4}', '<PHONE>', 'g'),
        |      '10[.][0-9]{1,3}[.]0[.]1', '<IP>', 'g') AS redacted
        |  FROM t)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2, '[a-z0-9]+@[a-z0-9.]+'))
        |    AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t2, '[+]1-555-[0-9]{4}'))
        |    AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t2, '10[.][0-9]{1,3}[.]0[.]1'))
        |    AS BIGINT) AS n_ips,
        |  CAST(length(redacted) AS BIGINT) AS red_len, redacted
        |FROM r ORDER BY doc_id""".stripMargin,
    "span_corrupt" -> {
      // every 5th 3-token span masked; input carries numbered
      // sentinels, target carries sentinel-prefixed masked spans
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (
        |  SELECT doc_id, ws, u.g
        |  FROM d, LATERAL unnest(range(0, (len(ws) - 1) // 3 + 1)) AS u(g)),
        |parts AS (
        |  SELECT doc_id, g,
        |    CASE WHEN g % 5 = 0 THEN '<extra_id_' || (g // 5) || '>'
        |      ELSE array_to_string(ws[(g * 3 + 1):(g * 3 + 3)], ' ')
        |      END AS inp,
        |    CASE WHEN g % 5 = 0 THEN '<extra_id_' || (g // 5) || '> '
        |      || array_to_string(ws[(g * 3 + 1):(g * 3 + 3)], ' ')
        |      END AS tgt,
        |    CASE WHEN g % 5 = 0 THEN len(ws[(g * 3 + 1):(g * 3 + 3)])
        |      ELSE 0 END AS msk
        |  FROM g),
        |agg AS (
        |  SELECT doc_id, CAST(sum(msk) AS BIGINT) AS n_masked,
        |    CAST(sum(CASE WHEN g % 5 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_spans,
        |    md5(string_agg(inp, ' ' ORDER BY g)) AS input_md5,
        |    md5(coalesce(string_agg(tgt, ' ' ORDER BY g), ''))
        |      AS target_md5
        |  FROM parts GROUP BY doc_id)
        |SELECT d.doc_id, len(d.ws) AS n_tokens, agg.n_masked,
        |  agg.n_spans, agg.input_md5, agg.target_md5
        |FROM d JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "fim_transform" -> {
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |f AS (
        |  SELECT doc_id, ws, len(ws) AS n, len(ws) // 3 AS p1,
        |    (2 * len(ws)) // 3 AS p2 FROM d)
        |SELECT doc_id, n AS n_tokens, p1 AS prefix_len,
        |  p2 - p1 AS middle_len,
        |  md5('<fim_pre> ' || array_to_string(ws[1:p1], ' ')
        |    || ' <fim_suf> ' || array_to_string(ws[(p2 + 1):n], ' ')
        |    || ' <fim_mid> ' || array_to_string(ws[(p1 + 1):p2], ' '))
        |    AS psm_md5,
        |  md5('<fim_suf> ' || array_to_string(ws[(p2 + 1):n], ' ')
        |    || ' <fim_pre> ' || array_to_string(ws[1:p1], ' ')
        |    || ' <fim_mid> ' || array_to_string(ws[(p1 + 1):p2], ' '))
        |    AS spm_md5
        |FROM f ORDER BY doc_id""".stripMargin
    },
    "mlm_mask" -> {
      // every 7th token; the per-doc mask counter cycles 8-1-1 between
      // [MASK], a sorted-vocab replacement at (pos+doc_id) mod V, and
      // left-unchanged; labels = originals at masked positions
      s"""WITH voc AS MATERIALIZED (
        |  SELECT list(w ORDER BY w) AS vs FROM (
        |    SELECT w FROM (
        |      SELECT w, count(*) AS c FROM (
        |        SELECT unnest(string_split(text, ' ')) AS w
        |        FROM documents) WHERE w <> '' GROUP BY w)
        |    ORDER BY c DESC, w LIMIT ${MlmVocabCap})),
        |d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |tk AS (
        |  SELECT doc_id, u.pos, ws[CAST(u.pos AS INT)] AS w
        |  FROM d, LATERAL unnest(range(1, len(ws) + 1)) AS u(pos)),
        |o AS (
        |  SELECT doc_id, pos, w,
        |    CASE WHEN pos % 7 <> 0 THEN w
        |      WHEN (pos // 7) % 10 < 8 THEN '[MASK]'
        |      WHEN (pos // 7) % 10 = 8 THEN (SELECT
        |        vs[CAST((pos + doc_id) % len(vs) + 1 AS INT)] FROM voc)
        |      ELSE w END AS ow,
        |    pos % 7 = 0 AS msk,
        |    CASE WHEN pos % 7 = 0 AND (pos // 7) % 10 < 8
        |      THEN 1 ELSE 0 END AS c_mask,
        |    CASE WHEN pos % 7 = 0 AND (pos // 7) % 10 = 8
        |      THEN 1 ELSE 0 END AS c_rep,
        |    CASE WHEN pos % 7 = 0 AND (pos // 7) % 10 = 9
        |      THEN 1 ELSE 0 END AS c_same
        |  FROM tk)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(c_mask + c_rep + c_same) AS BIGINT) AS n_masked,
        |  CAST(sum(c_mask) AS BIGINT) AS n_mask_tok,
        |  CAST(sum(c_rep) AS BIGINT) AS n_replaced,
        |  CAST(sum(c_same) AS BIGINT) AS n_unchanged,
        |  md5(string_agg(ow, ' ' ORDER BY pos)) AS input_md5,
        |  md5(coalesce(string_agg(CASE WHEN msk THEN w END, ' '
        |    ORDER BY pos), '')) AS labels_md5
        |FROM o GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "wordpiece_encode" -> s"""$unigramCtes,
      |wp AS (
      |  SELECT w, c, 1 AS pos, CAST(0 AS BIGINT) AS np,
      |    CAST(0 AS BIGINT) AS sc
      |  FROM wc
      |  UNION ALL
      |  SELECT w, c, pos + k, np + 1,
      |    sc + (SELECT score FROM sv WHERE p = substr(w, pos, k))
      |  FROM (
      |    SELECT w, c, pos, np, sc,
      |      CASE
      |        WHEN EXISTS (SELECT 1 FROM sv WHERE p = substr(w, pos, 4)
      |          AND length(p) > 1) THEN least(4, length(w) - pos + 1)
      |        WHEN EXISTS (SELECT 1 FROM sv WHERE p = substr(w, pos, 3)
      |          AND length(p) > 1) THEN least(3, length(w) - pos + 1)
      |        WHEN EXISTS (SELECT 1 FROM sv WHERE p = substr(w, pos, 2)
      |          AND length(p) > 1) THEN least(2, length(w) - pos + 1)
      |        ELSE 1 END AS k
      |    FROM wp WHERE pos <= length(w))),
      |done AS (SELECT w, c, np, sc FROM wp WHERE pos = length(w) + 1)
      |SELECT w AS word, c AS wcnt, np AS n_pieces_wp, sc AS score_wp
      |FROM done ORDER BY word""".stripMargin,
    "wordpiece_doc_tokens" -> s"""$unigramCtes,
      |wp AS (
      |  SELECT w, c, 1 AS pos, CAST(0 AS BIGINT) AS np,
      |    CAST(0 AS BIGINT) AS sc
      |  FROM wc
      |  UNION ALL
      |  SELECT w, c, pos + k, np + 1,
      |    sc + (SELECT score FROM sv WHERE p = substr(w, pos, k))
      |  FROM (
      |    SELECT w, c, pos, np, sc,
      |      CASE
      |        WHEN EXISTS (SELECT 1 FROM sv WHERE p = substr(w, pos, 4)
      |          AND length(p) > 1) THEN least(4, length(w) - pos + 1)
      |        WHEN EXISTS (SELECT 1 FROM sv WHERE p = substr(w, pos, 3)
      |          AND length(p) > 1) THEN least(3, length(w) - pos + 1)
      |        WHEN EXISTS (SELECT 1 FROM sv WHERE p = substr(w, pos, 2)
      |          AND length(p) > 1) THEN least(2, length(w) - pos + 1)
      |        ELSE 1 END AS k
      |    FROM wp WHERE pos <= length(w))),
      |done AS (SELECT w, np, sc FROM wp WHERE pos = length(w) + 1),
      |dw AS (
      |  SELECT doc_id, w, count(*) AS k FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w)
      |SELECT doc_id,
      |  CAST(sum(dw.k * done.np) AS BIGINT) AS n_tokens_wp,
      |  CAST(sum(dw.k * done.sc) AS BIGINT) AS score_sum_wp
      |FROM dw JOIN done ON dw.w = done.w
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "unigram_vocab" -> s"$unigramCtes SELECT p, cnt, score FROM sv ORDER BY p",
    "unigram_encode" -> s"""$unigramCtes
      |SELECT w AS word, c AS wcnt,
      |  (pk + (-pk) % 64) // 64 AS best_score,
      |  (-pk) % 64 AS n_pieces
      |FROM res ORDER BY word""".stripMargin,
    "unigram_doc_tokens" -> s"""$unigramCtes,
      |dw AS (
      |  SELECT doc_id, w, count(*) AS k FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |    FROM documents) WHERE w <> '' GROUP BY doc_id, w),
      |enc AS (
      |  SELECT w, (-pk) % 64 AS np,
      |    (pk + (-pk) % 64) // 64 AS s FROM res)
      |SELECT doc_id,
      |  CAST(sum(k * np) AS BIGINT) AS n_tokens,
      |  CAST(sum(k * s) AS BIGINT) AS score_sum
      |FROM dw JOIN enc USING (w)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "html_extract" -> {
      // the fixture page reduces to 'Doc {id} Header {id%10} {text}'
      // under extraction; one \s+ collapse + trim rebuilds it exactly
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0),
        |e AS (SELECT doc_id,
        |  trim(regexp_replace(
        |    'Doc ' || doc_id || ' Header ' || (doc_id % 10) || ' ' || text,
        |    '\s+', ' ', 'g')) AS extracted
        |  FROM d)
        |SELECT doc_id, extracted,
        |  CAST(length(extracted) AS INT) AS n_chars,
        |  CAST(length(extracted)
        |    - length(replace(extracted, ' ', '')) + 1 AS INT) AS n_words
        |FROM e ORDER BY doc_id""".stripMargin
    },
    "boilerplate_ngrams" ->
      s"""$shCte,
         |ex AS (SELECT doc_id, unnest(th) AS sh FROM th),
         |df AS (SELECT sh, count(*) AS df FROM ex GROUP BY sh),
         |bo AS (SELECT sh FROM df
         |  WHERE df >= greatest(5,
         |    ceil((SELECT count(*) FROM documents) * 0.01))),
         |agg AS (
         |  SELECT ex.doc_id AS doc_id, count(*) AS n_shingles,
         |    CAST(sum(CASE WHEN bo.sh IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_boiler
         |  FROM ex LEFT JOIN bo ON ex.sh = bo.sh
         |  GROUP BY ex.doc_id)
         |SELECT doc_id, n_shingles, n_boiler,
         |  n_boiler / CAST(n_shingles AS DOUBLE) AS boiler_frac,
         |  n_boiler / CAST(n_shingles AS DOUBLE) > 0.1 AS flagged
         |FROM agg ORDER BY doc_id""".stripMargin,
    "sample_balanced" ->
      s"""WITH h AS (
         |  SELECT doc_id, source,
         |    ${charFoldDuck("text")} * 2654435761 % 1000000007 AS h
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY source
         |    ORDER BY h, doc_id) AS rk
         |  FROM h)
         |SELECT source, rk, doc_id, h FROM r
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "inverted_index" ->
      s"""WITH tf AS (
         |  SELECT term, doc_id, count(*) AS tf FROM (
         |    SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |    FROM documents)
         |  GROUP BY 1, 2),
         |st AS (
         |  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
         |  FROM tf GROUP BY 1),
         |rk AS (
         |  SELECT term, doc_id, tf, CAST(row_number() OVER (
         |    PARTITION BY term ORDER BY tf DESC, doc_id) AS BIGINT) AS rank
         |  FROM tf)
         |SELECT r.term, s.df, s.total_tf, r.rank, r.doc_id, r.tf
         |FROM rk r JOIN st s USING (term)
         |WHERE r.rank <= $IdxPostings
         |ORDER BY term, rank""".stripMargin,
    "source_kl" ->
      s"""WITH tk AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |top AS (
         |  SELECT tok, count(*) AS c FROM tk GROUP BY 1
         |  ORDER BY c DESC, tok LIMIT $KlVocab),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS ct FROM top),
         |probed AS (
         |  SELECT source, tok, count(*) AS cs FROM tk
         |  WHERE tok IN (SELECT tok FROM top) GROUP BY 1, 2),
         |grid AS (
         |  SELECT s.source, t.tok, t.c,
         |    CAST(coalesce(p.cs, 0) AS BIGINT) AS cs
         |  FROM (SELECT DISTINCT source FROM tk) s
         |  CROSS JOIN top t
         |  LEFT JOIN probed p ON p.source = s.source AND p.tok = t.tok),
         |ns AS (SELECT source, CAST(sum(cs) AS BIGINT) AS n_s
         |  FROM grid GROUP BY 1),
         |ctr AS (
         |  SELECT g.source, n.n_s,
         |    CAST(round((g.cs + 1) / (n.n_s + $KlVocab.0) *
         |      (round(ln((g.cs + 1) / (n.n_s + $KlVocab.0)), 6) -
         |       round(ln(g.c / CAST(t.ct AS DOUBLE)), 6))
         |      * 1000000000) AS BIGINT) AS contrib
         |  FROM grid g JOIN ns n USING (source), tot t)
         |SELECT source, n_s, CAST(sum(contrib) AS BIGINT) AS kl_e9
         |FROM ctr GROUP BY 1, 2 ORDER BY source""".stripMargin,
    "dedup_incremental" ->
      """WITH b AS (SELECT max(source) AS batch_src FROM documents),
        |n AS (
        |  SELECT doc_id, text FROM documents, b WHERE source = b.batch_src),
        |st AS (
        |  SELECT doc_id, text FROM documents, b WHERE source <> b.batch_src),
        |m AS (
        |  SELECT n.doc_id, min(st.doc_id) AS dup_of
        |  FROM n JOIN st ON n.text = st.text
        |  GROUP BY n.doc_id)
        |SELECT n.doc_id, m.dup_of IS NOT NULL AS is_dup,
        |  coalesce(m.dup_of, -1) AS dup_of
        |FROM n LEFT JOIN m ON m.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,
    "token_pmi" ->
      s"""WITH tk AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |df AS (
         |  SELECT tok, count(*) AS df FROM (
         |    SELECT DISTINCT doc_id, unnest(toks) AS tok FROM tk)
         |  GROUP BY 1),
         |top AS (
         |  SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok) AS i
         |  FROM df ORDER BY df DESC, tok LIMIT $PmiTop),
         |pres AS (
         |  SELECT t.doc_id, p.tok, p.i, p.df
         |  FROM tk t JOIN top p ON list_contains(t.toks, p.tok)),
         |n AS (SELECT count(*) AS n_docs FROM tk),
         |pair AS (
         |  SELECT a.tok AS tok_a, b.tok AS tok_b,
         |    a.df AS n_a, b.df AS n_b, count(*) AS n_ab
         |  FROM pres a JOIN pres b
         |    ON a.doc_id = b.doc_id AND a.i < b.i
         |  GROUP BY 1, 2, 3, 4)
         |SELECT tok_a, tok_b, n_a, n_b, n_ab,
         |  round(ln(CAST(n.n_docs AS DOUBLE) * n_ab / (n_a * n_b)), 6)
         |    AS pmi
         |FROM pair, n ORDER BY tok_a, tok_b""".stripMargin,
    "sample_weighted" ->
      s"""SELECT doc_id,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |  (${charFoldDuck("text")} * 2654435761 % $P)
         |    // CAST(len(string_split(text, ' ')) AS BIGINT) AS pri
         |FROM documents
         |ORDER BY pri, doc_id LIMIT $WsK""".stripMargin,
    "sample_hash" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN ${charFoldDuck("text")} * 2654435761
         |    % 1000000007 % 1000 < 100 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN ${charFoldDuck("text")} * 2654435761
         |    % 1000000007 % 1000 < 100 THEN 1 ELSE 0 END) AS BIGINT)
         |    / CAST(count(*) AS BIGINT) AS rate
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "bigram_lm_heldout" ->
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    ${charFoldDuck("text")} * 2654435761 % $P % 1000 AS bucket
         |  FROM documents),
         |tr AS (SELECT doc_id, tk FROM d WHERE bucket < 800),
         |va AS (SELECT doc_id, tk FROM d
         |  WHERE bucket >= 800 AND bucket < 900),
         |bgt AS (
         |  SELECT doc_id, tk[CAST(i AS INT)] AS w1,
         |    tk[CAST(i + 1 AS INT)] AS w2
         |  FROM tr, UNNEST(range(1, greatest(length(tk), 1))) r(i)),
         |bgv AS (
         |  SELECT doc_id, tk[CAST(i AS INT)] AS w1,
         |    tk[CAST(i + 1 AS INT)] AS w2
         |  FROM va, UNNEST(range(1, greatest(length(tk), 1))) r(i)),
         |uni AS (
         |  SELECT w, count(*) AS c1
         |  FROM (SELECT unnest(tk) AS w FROM tr) GROUP BY w),
         |v AS (SELECT count(*) AS vocab FROM uni),
         |bi AS (SELECT w1, w2, count(*) AS c2 FROM bgt GROUP BY w1, w2),
         |lp AS (
         |  SELECT bgv.doc_id,
         |    CAST(round(ln((coalesce(bi.c2, 0) + CAST(1 AS DOUBLE))
         |      / (coalesce(uni.c1, 0) + CAST(v.vocab AS DOUBLE)))
         |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS lp
         |  FROM bgv
         |  LEFT JOIN bi ON bgv.w1 = bi.w1 AND bgv.w2 = bi.w2
         |  LEFT JOIN uni ON bgv.w1 = uni.w
         |  CROSS JOIN v)
         |SELECT doc_id, count(*) AS n_bigrams,
         |  round(CAST(CAST(sum(lp) AS BIGINT) AS DOUBLE) / count(*)
         |    / CAST(1000000 AS DOUBLE), 4) AS avg_logp
         |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "quality_classifier" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    CAST(substring(source, 4) AS INT) % 4 = 0 AS ref
        |  FROM documents),
        |tok AS (SELECT doc_id, ref, unnest(tk) AS w FROM d),
        |cnt AS (
        |  SELECT w,
        |    CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM tok GROUP BY w),
        |tot AS (
        |  SELECT CAST(sum(cp) AS BIGINT) AS tp,
        |    CAST(sum(cn) AS BIGINT) AS tn, count(*) AS vocab
        |  FROM cnt),
        |pri AS (
        |  SELECT CAST(round(ln(
        |      (sum(CASE WHEN ref THEN 1 ELSE 0 END) + CAST(1 AS DOUBLE))
        |      / (sum(CASE WHEN ref THEN 0 ELSE 1 END) + CAST(1 AS DOUBLE)))
        |    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS prior_fp
        |  FROM d),
        |m AS (
        |  SELECT w,
        |    CAST(round(ln((cp + CAST(1 AS DOUBLE))
        |        / (tp + CAST(vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |    - CAST(round(ln((cn + CAST(1 AS DOUBLE))
        |        / (tn + CAST(vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS llr
        |  FROM cnt CROSS JOIN tot),
        |sc AS (
        |  SELECT tok.doc_id, count(*) AS n_tokens,
        |    CAST(sum(m.llr) AS BIGINT) AS sllr
        |  FROM tok JOIN m ON tok.w = m.w GROUP BY tok.doc_id)
        |SELECT doc_id, n_tokens,
        |  round(CAST(sllr + pri.prior_fp AS DOUBLE)
        |    / CAST(100 AS DOUBLE)) / CAST(10000 AS DOUBLE) AS score,
        |  sllr + pri.prior_fp > 0 AS pred_ref
        |FROM sc CROSS JOIN pri ORDER BY doc_id""".stripMargin,
    "mixture_weights" -> {
      // α=0.5 scaling: mass = round(sqrt(tokens)·1e6) BIGINT before
      // any summation, weights in exact ppm off the BIGINT total
      """WITH p AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |      AS n_tokens
        |  FROM documents GROUP BY source),
        |m AS (
        |  SELECT *, CAST(round(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
        |    AS BIGINT) AS mass_fp FROM p),
        |t AS (SELECT CAST(sum(mass_fp) AS BIGINT) AS total_fp FROM m)
        |SELECT source, n_docs, n_tokens, mass_fp,
        |  mass_fp * 1000000 // total_fp AS weight_ppm
        |FROM m, t ORDER BY source""".stripMargin
    },
    "shard_rendezvous" -> {
      // same strict-> fold as the Spark aggregate: first (lowest-k)
      // max wins ties; the same quadratic mod-P score (h²·M + h)
      def am(n: Int): String =
        s"""list_reduce(list_prepend([CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)],
           |  list_transform(range(0, $n), k ->
           |    [k, ((fp + k * 99991) % $P * ((fp + k * 99991) % $P)
           |      % $P * 2654435761 + (fp + k * 99991) % $P) % $P])),
           |  (acc, e) -> CASE WHEN e[2] > acc[2] THEN e ELSE acc END)[1]"""
          .stripMargin
      s"""WITH f AS (
         |  SELECT ${charFoldDuck("text")} * 2654435761 % $P AS fp
         |  FROM documents),
         |a AS (SELECT ${am(8)} AS shard_8, ${am(9)} AS shard_9 FROM f)
         |SELECT shard_8, shard_9, count(*) AS n_docs,
         |  shard_8 <> shard_9 AS moved
         |FROM a GROUP BY shard_8, shard_9
         |ORDER BY shard_8, shard_9""".stripMargin
    },
    "epoch_shuffle" -> {
      s"""WITH d AS (
        |  SELECT doc_id, source, u.e AS epoch
        |  FROM documents, LATERAL unnest(range(0, $ShuffleEpochs))
        |    AS u(e)),
        |h AS (
        |  SELECT *, ((doc_id + epoch * 40503) * 2654435761) % $P AS h
        |  FROM d),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY epoch, source
        |    ORDER BY h, doc_id) AS rk FROM h)
        |SELECT epoch, source, count(*) AS n_docs,
        |  md5(string_agg(doc_id, ' ' ORDER BY rk)) AS order_md5,
        |  CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
        |    AS first_doc
        |FROM r GROUP BY epoch, source
        |ORDER BY epoch, source""".stripMargin
    },
    "length_bucket_batches" -> {
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, ntok,
        |    ${pow2CaseSql("ntok")} AS bucket
        |  FROM d),
        |r AS (
        |  SELECT *, (row_number() OVER (PARTITION BY source, bucket
        |    ORDER BY ntok, doc_id) - 1) // $LenBatch AS batch_id
        |  FROM b)
        |SELECT source, bucket, batch_id, count(*) AS n_docs,
        |  CAST(max(ntok) AS BIGINT) AS max_len,
        |  CAST(sum(ntok) AS BIGINT) AS sum_len,
        |  CAST((count(*) * max(ntok) - sum(ntok)) * 1000000
        |    // (count(*) * max(ntok)) AS BIGINT) AS pad_ppm
        |FROM r GROUP BY source, bucket, batch_id
        |ORDER BY source, bucket, batch_id""".stripMargin
    },
    "dedup_funnel" ->
      s"""$funnelCtesSql
        |SELECT '1_exact' AS stage,
        |  (SELECT count(*) FROM docs) AS docs_in,
        |  (SELECT count(*) FROM k1) AS docs_out,
        |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM k1)
        |    AS tokens_out
        |UNION ALL SELECT '2_boiler',
        |  (SELECT count(*) FROM k1), (SELECT count(*) FROM k2),
        |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM k2)
        |UNION ALL SELECT '3_short',
        |  (SELECT count(*) FROM k2), (SELECT count(*) FROM k3),
        |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM k3)
        |UNION ALL SELECT '4_quality',
        |  (SELECT count(*) FROM k3), (SELECT count(*) FROM k4),
        |  (SELECT CAST(coalesce(sum(ntok), 0) AS BIGINT) FROM k4)
        |ORDER BY stage""".stripMargin,
    "classifier_calibration" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    CAST(substring(source, 4) AS INT) % 4 = 0 AS ref
        |  FROM documents),
        |tok AS (SELECT doc_id, ref, unnest(tk) AS w FROM d),
        |cnt AS (
        |  SELECT w,
        |    CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN ref THEN 0 ELSE 1 END) AS BIGINT) AS cn
        |  FROM tok GROUP BY w),
        |tot AS (
        |  SELECT CAST(sum(cp) AS BIGINT) AS tp,
        |    CAST(sum(cn) AS BIGINT) AS tn, count(*) AS vocab
        |  FROM cnt),
        |pri AS (
        |  SELECT CAST(round(ln(
        |      (sum(CASE WHEN ref THEN 1 ELSE 0 END) + CAST(1 AS DOUBLE))
        |      / (sum(CASE WHEN ref THEN 0 ELSE 1 END) + CAST(1 AS DOUBLE)))
        |    * CAST(1000000 AS DOUBLE)) AS BIGINT) AS prior_fp
        |  FROM d),
        |m AS (
        |  SELECT w,
        |    CAST(round(ln((cp + CAST(1 AS DOUBLE))
        |        / (tp + CAST(vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT)
        |    - CAST(round(ln((cn + CAST(1 AS DOUBLE))
        |        / (tn + CAST(vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS llr
        |  FROM cnt CROSS JOIN tot),
        |sc AS (
        |  SELECT tok.doc_id, bool_or(tok.ref) AS ref,
        |    CAST(sum(m.llr) AS BIGINT) AS sllr
        |  FROM tok JOIN m ON tok.w = m.w GROUP BY tok.doc_id),
        |bn AS (
        |  SELECT (least(greatest(sllr + pri.prior_fp, -5000000), 4999999)
        |    + 5000000) // 1000000 AS bin, ref
        |  FROM sc CROSS JOIN pri)
        |SELECT bin, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |  CAST(sum(CASE WHEN ref THEN 1 ELSE 0 END) AS BIGINT)
        |    * 1000000 // count(*) AS ref_ppm
        |FROM bn GROUP BY bin ORDER BY bin""".stripMargin,
    "corpus_report" ->
      s"""WITH d AS (
         |  SELECT doc_id, source, lang,
         |    length(string_split(text, ' ')) AS n_tokens,
         |    length(text) AS n_chars,
         |    length(list_filter(string_split(text, ' '),
         |      t -> t IN ('the', 'a'))) AS n_stop,
         |    ${charFoldDuck("text")} AS h1,
         |    ${charFoldDuck("reverse(text)")} AS h2
         |  FROM documents),
         |e AS (
         |  SELECT source, lang, n_tokens, n_chars,
         |    doc_id <> min(doc_id) OVER (PARTITION BY h1, h2, n_chars)
         |      AS is_dup,
         |    CASE WHEN n_tokens < 20 THEN 'short'
         |      WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15
         |        THEN 'stopwordy'
         |      ELSE 'good' END AS q
         |  FROM d)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(CASE WHEN q = 'good' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_good,
         |  CAST(sum(CASE WHEN q = 'short' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_short,
         |  CAST(sum(CASE WHEN q = 'stopwordy' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_stopwordy,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dups,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
         |    / CAST(count(*) AS BIGINT) AS dup_rate
         |FROM e GROUP BY source ORDER BY source""".stripMargin,
    "corpus_split" ->
      s"""WITH d AS (
         |  SELECT doc_id, source,
         |    CAST(${charFoldDuck("text")} * 2654435761 % $P % 1000
         |      AS BIGINT) AS bucket
         |  FROM documents)
         |SELECT doc_id, source, bucket,
         |  CASE WHEN bucket < 800 THEN 'train'
         |    WHEN bucket < 900 THEN 'val' ELSE 'test' END AS split
         |FROM d ORDER BY doc_id""".stripMargin,
    "quantile_sketch" ->
      s"""WITH v AS (
         |  SELECT CAST(length(string_split(text, ' ')) AS BIGINT) AS x
         |  FROM documents),
         |b AS (
         |  SELECT min(x) AS mn, max(x) AS mx,
         |    CAST(count(*) AS BIGINT) AS n, list_sort(list(x)) AS srt
         |  FROM v),
         |h AS (
         |  SELECT (x - mn) * $QsBins // (mx - mn + 1) AS bin, count(*) AS c
         |  FROM v, b GROUP BY 1),
         |cm AS (
         |  SELECT bin, sum(c) OVER (ORDER BY bin) AS cum FROM h),
         |q(q_ppm) AS (VALUES (CAST(500000 AS BIGINT)), (900000), (990000)),
         |k AS (
         |  SELECT q_ppm, (q_ppm * n + 999999) // 1000000 AS kidx FROM q, b),
         |e AS (
         |  SELECT q_ppm, kidx, min(bin) AS qbin
         |  FROM k JOIN cm ON cm.cum >= k.kidx GROUP BY 1, 2)
         |SELECT CAST(q_ppm AS BIGINT) AS q_ppm,
         |  CAST(mn + ((qbin + 1) * (mx - mn + 1) + ${QsBins - 1})
         |    // $QsBins - 1 AS BIGINT) AS est,
         |  CAST(srt[CAST(kidx AS INT)] AS BIGINT) AS exact,
         |  CAST(mn + ((qbin + 1) * (mx - mn + 1) + ${QsBins - 1})
         |    // $QsBins - 1 - srt[CAST(kidx AS INT)] AS BIGINT) AS err
         |FROM e, b ORDER BY q_ppm""".stripMargin,
    "dedup_exact" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keeper,
        |  doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""$langIdSqlCtes
         |SELECT doc_id, lang, $langIdArgmax AS predicted
         |FROM sc ORDER BY doc_id""".stripMargin,
    "lang_confusion" ->
      s"""$langIdSqlCtes,
         |pred AS (
         |  SELECT lang, $langIdArgmax AS predicted FROM sc),
         |cm AS (
         |  SELECT lang, predicted, count(*) AS n FROM pred GROUP BY 1, 2),
         |tot AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_true
         |  FROM cm GROUP BY 1)
         |SELECT cm.lang, cm.predicted, cm.n, tot.n_true,
         |  cm.n * 1000000 // tot.n_true AS frac_ppm
         |FROM cm JOIN tot USING (lang)
         |ORDER BY lang, predicted""".stripMargin,
    "token_stats" ->
      """SELECT doc_id,
        |  length(string_split(text, ' ')) AS n_tokens,
        |  length(list_distinct(string_split(text, ' '))) AS n_unique,
        |  length(text) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_quality_full" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    length(string_split(text, ' ')) AS n_tokens,
        |    length(text) AS n_chars,
        |    length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_punct,
        |    length(list_filter(string_split(text, ' '),
        |      t -> t IN ('the', 'a'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_chars,
        |  n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) AS punct_ratio,
        |  n_stop / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  (n_chars - n_tokens + 1) / CAST(n_tokens AS DOUBLE)
        |    AS mean_tok_len,
        |  CASE WHEN n_tokens < 20 THEN 'short'
        |       WHEN n_punct / CAST(greatest(n_chars, 1) AS DOUBLE) > 0.1
        |         THEN 'punct_heavy'
        |       WHEN n_stop / CAST(n_tokens AS DOUBLE) > 0.15
        |         THEN 'stopwordy'
        |       ELSE 'keep' END AS label
        |FROM q ORDER BY doc_id""".stripMargin,
    "winnow_fingerprint" ->
      s"""WITH kg AS (
         |  SELECT doc_id,
         |    list_transform(range(1, greatest(length(text) - 6, 2)),
         |      i -> ${charFoldDuck("substr(text, CAST(i AS INT), 8)")})
         |      AS kg
         |  FROM documents),
         |fp AS (
         |  SELECT doc_id,
         |    list_distinct(list_transform(
         |      range(1, greatest(length(kg) - 2, 2)),
         |      j -> list_min(kg[CAST(j AS INT):CAST(j + 3 AS INT)])))
         |      AS fps
         |  FROM kg)
         |SELECT doc_id, length(fps) AS n_fps,
         |  list_min(fps) AS min_fp, list_max(fps) AS max_fp
         |FROM fp ORDER BY doc_id""".stripMargin,
    "bm25" -> {
      val tf = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"length(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n|    ")
      val df = Bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n|    ")
      val idf = Bm25Terms.indices.map(i =>
        s"round(ln(CAST(1 AS DOUBLE) + (n_docs - df$i + CAST(0.5 AS DOUBLE)) / " +
          s"(df$i + CAST(0.5 AS DOUBLE))), 6) AS idf$i").mkString(",\n|    ")
      val score = Bm25Terms.indices.map(i =>
        s"idf$i * (tf$i * (CAST(1.2 AS DOUBLE) + 1)) / " +
          s"(tf$i + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))")
        .mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    length(string_split(text, ' ')) AS dl
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, dl,
         |    $tf
         |  FROM d),
         |raw AS (
         |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |    $df
         |  FROM t),
         |st AS (
         |  SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl,
         |    $idf
         |  FROM raw),
         |scored AS (
         |  SELECT doc_id, dl AS n_tokens,
         |    round($score, 4) AS score
         |  FROM t, st)
         |SELECT doc_id, n_tokens, score FROM scored
         |WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    },
    "rrf_fusion" -> {
      val tf = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"length(list_filter(tk, x -> x = '$t')) AS tf$i" }.mkString(",\n|    ")
      val df = Bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(",\n|    ")
      val bmIdf = Bm25Terms.indices.map(i =>
        s"round(ln(CAST(1 AS DOUBLE) + (n_docs - df$i + CAST(0.5 AS DOUBLE)) / " +
          s"(df$i + CAST(0.5 AS DOUBLE))), 6) AS idf$i").mkString(",\n|    ")
      val bmScore = Bm25Terms.indices.map(i =>
        s"idf$i * (tf$i * (CAST(1.2 AS DOUBLE) + 1)) / " +
          s"(tf$i + CAST(1.2 AS DOUBLE) * (1 - CAST(0.75 AS DOUBLE) + CAST(0.75 AS DOUBLE) * dl / avgdl))")
        .mkString(" + ")
      val tfIdf = Bm25Terms.indices.map(i =>
        s"round(ln(CAST(n_docs AS DOUBLE) / df$i), 6) AS jdf$i").mkString(",\n|    ")
      val tfScore = Bm25Terms.indices.map(i => s"tf$i * jdf$i").mkString(" + ")
      s"""WITH d AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    length(string_split(text, ' ')) AS dl
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, dl,
         |    $tf
         |  FROM d),
         |raw AS (
         |  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl,
         |    $df
         |  FROM t),
         |st AS (
         |  SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl,
         |    $bmIdf,
         |    $tfIdf
         |  FROM raw),
         |bm AS (
         |  SELECT doc_id, rank_bm FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS rank_bm
         |    FROM (SELECT doc_id, round($bmScore, 4) AS score FROM t, st
         |          WHERE round($bmScore, 4) > 0
         |          ORDER BY score DESC, doc_id LIMIT 20))),
         |tfr AS (
         |  SELECT doc_id, rank_tf FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id)
         |      AS rank_tf
         |    FROM (SELECT doc_id, round($tfScore, 4) AS score FROM t, st
         |          WHERE round($tfScore, 4) > 0
         |          ORDER BY score DESC, doc_id LIMIT 20)))
         |SELECT coalesce(bm.doc_id, tfr.doc_id) AS doc_id,
         |  coalesce(bm.rank_bm, 0) AS rank_bm,
         |  coalesce(tfr.rank_tf, 0) AS rank_tf,
         |  coalesce($RrfScale // ($RrfK + bm.rank_bm), 0)
         |    + coalesce($RrfScale // ($RrfK + tfr.rank_tf), 0) AS rrf_fp
         |FROM bm FULL OUTER JOIN tfr ON bm.doc_id = tfr.doc_id
         |ORDER BY rrf_fp DESC, doc_id""".stripMargin
    },
    "bigram_lm" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |bg AS (
        |  SELECT doc_id, tk[CAST(i AS INT)] AS w1,
        |    tk[CAST(i + 1 AS INT)] AS w2
        |  FROM d, UNNEST(range(1, greatest(length(tk), 1))) r(i)),
        |uni AS (
        |  SELECT w, count(*) AS c1
        |  FROM (SELECT unnest(tk) AS w FROM d) GROUP BY w),
        |v AS (SELECT count(*) AS vocab FROM uni),
        |lp AS (
        |  SELECT bg.doc_id,
        |    CAST(round(ln((bi.c2 + CAST(1 AS DOUBLE))
        |      / (uni.c1 + CAST(v.vocab AS DOUBLE)))
        |      * CAST(1000000 AS DOUBLE)) AS BIGINT) AS lp
        |  FROM bg
        |  JOIN (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2) bi
        |    ON bg.w1 = bi.w1 AND bg.w2 = bi.w2
        |  JOIN uni ON bg.w1 = uni.w
        |  CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  round(CAST(CAST(sum(lp) AS BIGINT) AS DOUBLE) / count(*)
        |    / CAST(1000000 AS DOUBLE), 4) AS avg_logp
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk,
        |    length(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tk,
        |    UNNEST(range(0, greatest(CAST(ceil((n - 16) / 48.0) AS BIGINT), 1)))
        |      AS chunk_id
        |  FROM d)
        |SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |  length(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64)) AS n_tok,
        |  array_to_string(list_slice(tk, chunk_id * 48 + 1, chunk_id * 48 + 64), ' ')
        |    AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,
    "seq_pack" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    length(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS start_off
        |  FROM d)
        |SELECT source, doc_id, n_tokens, start_off,
        |  start_off // 256 AS seq_id,
        |  (start_off + n_tokens - 1) // 256 <> start_off // 256 AS spans_boundary
        |FROM o ORDER BY source, doc_id""".stripMargin,
    "corpus_filter" ->
      s"""$corpusFilterCtes
         |SELECT doc_id, reason = 'keep' AS keep, reason
         |FROM r ORDER BY doc_id""".stripMargin,
    "prepare_corpus" ->
      s"""$corpusFilterCtes,
         |kept AS (
         |  SELECT d2.doc_id, d2.source, string_split(d2.text, ' ') AS tk
         |  FROM documents d2 JOIN r ON d2.doc_id = r.doc_id
         |  WHERE r.reason = 'keep'),
         |ch AS (
         |  SELECT source, doc_id, CAST(i AS INT) AS chunk_id,
         |    CAST(len(tk[CAST(i * 48 + 1 AS INT) : CAST(i * 48 + 64 AS INT)])
         |      AS INT) AS n_tok
         |  FROM kept, LATERAL unnest(range(0,
         |    greatest(CAST(ceil((len(tk) - 16) / 48.0) AS INT), 1))) AS u(i)),
         |p AS (
         |  SELECT source, doc_id, chunk_id, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY source
         |      ORDER BY doc_id, chunk_id ROWS UNBOUNDED PRECEDING)
         |      AS BIGINT) - n_tok AS start_off
         |  FROM ch)
         |SELECT source, doc_id, chunk_id, n_tok, start_off,
         |  start_off // 256 AS seq_id,
         |  (start_off + n_tok - 1) // 256 <> start_off // 256
         |    AS spans_boundary
         |FROM p ORDER BY source, doc_id, chunk_id""".stripMargin,
    "source_overlap" ->
      s"""WITH e AS (
         |  SELECT DISTINCT source, h FROM (
         |    SELECT source, unnest(list_transform(string_split(text, ' '),
         |      t -> ${charFoldDuck("t")} * 2654435761 % $P)) AS h
         |    FROM documents)),
         |ps AS (
         |  SELECT source, count(*) AS nd,
         |    (list_sort(list(h)))[1:$KmvK] AS ks
         |  FROM e GROUP BY source),
         |it AS (
         |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS common
         |  FROM e a JOIN e b ON a.h = b.h AND a.source < b.source
         |  GROUP BY 1, 2),
         |kv AS (
         |  SELECT it.src_a, it.src_b, it.common, pa.nd AS nd_a,
         |    pb.nd AS nd_b, pa.ks AS ks_a, pb.ks AS ks_b,
         |    (list_sort(list_distinct(list_concat(pa.ks, pb.ks))))[1:$KmvK]
         |      AS uk
         |  FROM it JOIN ps pa ON it.src_a = pa.source
         |          JOIN ps pb ON it.src_b = pb.source),
         |k2 AS (
         |  SELECT src_a, src_b, common, nd_a, nd_b, length(uk) AS kmv_k,
         |    length(list_filter(uk, x -> list_contains(ks_a, x)
         |      AND list_contains(ks_b, x))) AS kmv_common
         |  FROM kv)
         |SELECT src_a, src_b,
         |  round(CAST(common AS DOUBLE) / (nd_a + nd_b - common), 4)
         |    AS jacc_exact,
         |  kmv_common, kmv_k,
         |  round(kmv_common / CAST(kmv_k AS DOUBLE), 4) AS jacc_est
         |FROM k2 ORDER BY src_a, src_b""".stripMargin,
    "text_normalize" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    text || CASE WHEN doc_id % 5 = 0 THEN '$NfcProbe'
         |      ELSE '' END AS txt
         |  FROM documents)
         |SELECT doc_id, doc_id % 5 = 0 AS injected,
         |  length(txt) AS n_before,
         |  length(nfc_normalize(txt)) AS n_after,
         |  length(txt) <> length(nfc_normalize(txt)) AS changed,
         |  nfc_normalize(txt) AS norm_text
         |FROM t ORDER BY doc_id""".stripMargin,
    "vocab_coverage" ->
      """WITH uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  GROUP BY w),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
        |top AS (SELECT w, c FROM uni ORDER BY c DESC, w LIMIT 64),
        |r AS (
        |  SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rk,
        |    CAST(sum(c) OVER (ORDER BY c DESC, w
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM top)
        |SELECT rk AS vocab_rank, cum AS covered_tokens,
        |  total AS total_tokens,
        |  round(CAST(cum AS DOUBLE) / total, 4) AS coverage
        |FROM r CROSS JOIN tot
        |WHERE rk IN (1, 2, 4, 8, 16, 32, 64) ORDER BY rk""".stripMargin,
    "tfidf_terms" ->
      """WITH tf AS (
        |  SELECT doc_id, w, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY doc_id, w),
        |df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT tf.doc_id, tf.w AS term, tf.tf,
        |    round(tf.tf * round(ln(CAST(nd.n_docs AS DOUBLE) / df.df), 6), 4)
        |      AS score
        |  FROM tf JOIN df ON tf.w = df.w CROSS JOIN nd)
        |SELECT doc_id, term, tf, score, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rnk
        |  FROM sc)
        |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin,
    "token_stats_bpe" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_extract_all(text, '${BpePattern.replace("'", "''")}')
         |      AS toks
         |  FROM documents)
         |SELECT doc_id, length(toks) AS n_tokens,
         |  length(list_distinct(toks)) AS n_unique
         |FROM t ORDER BY doc_id""".stripMargin,
    "char_entropy" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n, string_split(text, '') AS chs
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, n,
        |    list_transform(list_distinct(chs), ch ->
        |      len(list_filter(chs, c -> c = ch))) AS cnts
        |  FROM t)
        |SELECT doc_id, n, len(cnts) AS n_distinct,
        |  round(CAST(list_sum(list_transform(cnts, c -> c *
        |    CAST(round(ln(n / CAST(c AS DOUBLE)) * 1000000, 0) AS BIGINT)))
        |    AS DOUBLE) / n / 1000000.0, 4) AS entropy
        |FROM h ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id,
        |  length(string_split(text, ' ')) AS n_tokens,
        |  length(list_filter(string_split(text, ' '),
        |    t -> t IN ('the', 'a'))) / CAST(length(string_split(text, ' '))
        |    AS DOUBLE) AS stop_ratio,
        |  CASE WHEN length(string_split(text, ' ')) < 20 THEN 'short'
        |    WHEN length(list_filter(string_split(text, ' '),
        |      t -> t IN ('the', 'a'))) / CAST(length(string_split(text, ' '))
        |      AS DOUBLE) > 0.15 THEN 'stopwordy'
        |    ELSE 'good' END AS quality
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_fingerprint" ->
      s"""WITH f AS (
         |  SELECT doc_id, ${charFoldDuck("text")} AS fp FROM documents)
         |SELECT doc_id, fp,
         |  doc_id <> min(doc_id) OVER (PARTITION BY fp) AS is_dup
         |FROM f ORDER BY doc_id""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mp
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM mp),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN e ON r.node = e.src
         |  WHERE r.lbl < e.dst),
         |c AS (
         |  SELECT node AS doc_id, min(lbl) AS cluster
         |  FROM reach GROUP BY node),
         |q AS (
         |  SELECT doc_id, length(string_split(text, ' ')) AS n_tokens
         |  FROM documents),
         |j AS (
         |  SELECT q.doc_id, q.n_tokens, c.cluster
         |  FROM q JOIN c ON q.doc_id = c.doc_id)
         |SELECT doc_id, cluster, n_tokens,
         |  first_value(doc_id) OVER (PARTITION BY cluster
         |    ORDER BY n_tokens DESC, doc_id) AS best_doc,
         |  doc_id = first_value(doc_id) OVER (PARTITION BY cluster
         |    ORDER BY n_tokens DESC, doc_id) AS keep
         |FROM j ORDER BY doc_id""".stripMargin,
    "dedup_clusters" ->
      s"""WITH RECURSIVE ${minhashPairsCtes.stripPrefix("WITH ")},
         |e AS (
         |  SELECT doc_a AS src, doc_b AS dst FROM mp
         |  UNION ALL
         |  SELECT doc_b AS src, doc_a AS dst FROM mp),
         |reach(node, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM reach r JOIN e ON r.node = e.src
         |  WHERE r.lbl < e.dst)
         |SELECT node AS doc_id, min(lbl) AS keeper,
         |  min(lbl) <> node AS is_dup
         |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
  )
}
