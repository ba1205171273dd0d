package graft

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Self-enforcing plan audits: the scale-shape claims in SCALE.md as
  * assertions over the physical plan, so a refactor that silently
  * reintroduces a cartesian product, drops a broadcast, or widens a scan
  * fails CI instead of surviving until someone re-reads an explain.
  *
  * Asserts on `queryExecution.executedPlan` with AQE disabled — the
  * static physical plan AFTER EnsureRequirements has inserted exchanges
  * (half the audits are about exactly those); AQE re-planning only ever
  * REPLACES an exchange with something cheaper, so this is the worst
  * case. */
class PlanAuditSpec extends AnyFunSuite with LocalSpark {

  private val dir = "/root/testdata/sf0.001"

  // AQE off (see above; AdaptiveSparkPlanExec also hides its children
  // from collect) and a fixed 10 MB broadcast threshold, for each test
  override def withFixture(test: NoArgTest) =
    withConf("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (10L << 20).toString) {
      super.withFixture(test)
    }

  // executedPlan, not sparkPlan: EnsureRequirements has inserted the
  // exchanges by then, which is what half these audits are about
  private def physical(name: String) =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan
  private def plan(name: String): String = physical(name).toString

  /** Collect over the plan INCLUDING cached subtrees. A ScanCache'd
    * (persisted) subtree renders as an `InMemoryTableScan` whose real
    * plan hangs off `InMemoryRelation.cachedPlan` — invisible to a
    * plain `collect`. That blind spot is exactly how the r10 verdict's
    * PQ seed window survived the global-window sweep: the offender sat
    * inside the pq-books cache boundary. The scale sweeps below must
    * therefore recurse through cache (and AQE re-plan) boundaries. */
  private def deepCollect[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T])
      : Seq[T] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val nested = p.collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
      case a: AdaptiveSparkPlanExec => a.executedPlan
    }
    p.collect(pf) ++ nested.flatMap(deepCollect(_)(pf))
  }

  /** Quadratic baselines, deliberately retained as oracle-only variants —
    * every other query must be free of unbounded cross products. */
  private val quadraticBaselines =
    Set("embedding_neardup", "ann_lsh", "pair_uptime")

  /** Queries whose only nested-loop join is a broadcast of a SINGLE-ROW
    * corpus-stats aggregate (a legal scalar broadcast, not a blowup). */
  private val scalarBroadcasts =
    Set("bm25", "kmv_distinct", "timebase", "ann_recall", "sample_balanced",
      "dedup_clusters", "dedup_keep_best", "boilerplate_ngrams",
      "bigram_lm", "bigram_lm_heldout",
      "bpe_train", "mixture_sample", "quality_classifier",
      // classifier_calibration: the same two single-row broadcasts as
      // quality_classifier (vocab totals + the prior)
      "classifier_calibration", "tfidf_terms",
      // token_pmi (r9): the only remaining nested-loop is the
      // broadcast single-row n_docs crossJoin — the 16-row panel
      // probe itself is a broadcast hash equi-join on the term key
      "token_pmi",
      // dedup_funnel: each stage row assembles from single-row
      // docs_in/docs_out count aggregates (the data_quality shape),
      // plus the NB scalar broadcasts
      "dedup_funnel",
      // webdataset_export: composes the funnel → inherits exactly its
      // single-row NB prior broadcast; everything downstream is one
      // shard-keyed groupByKey
      "webdataset_export",
      "q25_funnel", "vocab_coverage", "pagerank", "bfs_hops",
      // lpa_modularity: the single-row edge-count aggregate broadcasts
      // into the community-dimension readout
      "lpa_modularity",
      // rrf_fusion: its two rankers each crossJoin the broadcast
      // single-row corpus-stats aggregate (the bm25 shape); the fusion
      // itself is a SortMergeJoin on doc_id over two ≤20-row lists
      "rrf_fusion",
      // q30_bloom_join: the Bloom bitset is BY DESIGN a broadcast
      // single-row scalar (1 KiB, constant in build cardinality) — the
      // actual join is an equi-join after the prune
      "q30_bloom_join",
      // bloom_dedup: the same single-row bitset broadcast (both
      // geometries ride ONE 1-row frame); truth is an equi-join on
      // the fingerprint
      "bloom_dedup",
      // dedup_incremental: the batch-source marker is a broadcast
      // single-row max(source) aggregate; the dedup join itself is an
      // equi-join on the compound fingerprint
      "dedup_incremental",
      // user_rfm: the corpus max-day anchor is a broadcast single-row
      // max aggregate; scoring windows run over the user dimension
      "user_rfm",
      // data_quality: each check row assembles from two single-row
      // count aggregates (n_checked × n_violations)
      "data_quality",
      // ams_join_size: the readout crossJoins four single-row frames
      // (two 48-counter sketches + the two exact truths)
      "ams_join_size",
      // unigram_vocab: the piece table crossJoins the broadcast
      // single-row Σcnt total for the log-prob scores (the bm25 shape)
      "unigram_vocab",
      // mixture_weights: the source-dimension masses crossJoin the
      // broadcast single-row total for the ppm normalization
      "mixture_weights")

  /** Queries that broadcast a small FIXED-CARDINALITY dimension against
    * the fact side with no equi-key (every row must meet every dimension
    * member by the operator's semantics): ann_ivf/embedding_topk score
    * against K centroids / Q query vectors, distance_matrix IS the S×S
    * matrix, cluster_log_detectors fans a station dimension over days.
    * The build side is bounded by the dimension, never by the corpus. */
  private val boundedDimBroadcasts =
    Set("ann_ivf", "ann_ivf_trained", "embedding_topk", "distance_matrix",
      "cluster_log_detectors", "semdedup",
      // ann_ivfpq: the coarse-quantizer rank pass broadcasts the SAME
      // K-centroid dimension as ann_ivf_trained; everything downstream
      // is equi-keyed (cell candidates, (j, k) LUT probes)
      "ann_ivfpq",
      // embedding_rp: the whole query is the FIXED 16-vector panel
      // (filter vec_id < 16 precedes the pair join) — 120 pairs at any
      // corpus size; quantile_sketch: its nested loops join the 3-row
      // quantile spec against the ≤64-row sketch / single-row bounds —
      // domain-sized, never corpus-sized (pinned below)
      "embedding_rp", "quantile_sketch",
      // knn_label_acc: the ann_recall truth shape — the 128-query
      // panel broadcasts against the corpus, then the 128-row truth
      // carries the broadcast into the corpus-sized label joins
      "knn_label_acc",
      // embedding_neardup_recall: the same 128-query panel truth
      // probe plus the 3-row τ-ladder dimension broadcast
      "embedding_neardup_recall",
      // embedding_q8 / embedding_pq: the 16-vector panel pair join
      // (120 pairs at any corpus size) plus broadcast quantizer state
      // (single-row [lo, hi] grid / the 128-row codebook)
      "embedding_q8", "embedding_pq",
      // token_pmi left this set in r9: the panel probe is now a
      // broadcast HASH equi-join on the term key — an NLJ reappearing
      // in its plan should fail the sweep
      // source_kl: the source dimension crossJoins the broadcast
      // 64-token panel to build the smoothing grid (sources × 64)
      "source_kl")

  test("no headline query contains an unbounded cartesian product") {
    import org.apache.spark.sql.execution.joins.{
      BroadcastNestedLoopJoinExec, CartesianProductExec}
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(quadraticBaselines)
      .filterNot(scalarBroadcasts)
      .filterNot(boundedDimBroadcasts)
      .filter { n =>
        deepCollect(physical(n)) {
          case j: CartesianProductExec => j
          case j: BroadcastNestedLoopJoinExec => j
        }.nonEmpty
      }
    assert(offenders.isEmpty,
      s"cartesian/nested-loop joins appeared in: $offenders")
  }

  test("embedding_pq's PQ reconstruction decodes ONLY the 16-vector panel") {
    // the r9 verdict's one scale-killer: a full-corpus PQ decode feeding
    // a 120-pair readout. The decode aggregate (the flatten-collect of
    // per-subspace centroids) must sit above a vec_id < 16 filter on its
    // PROBE side — codebook training (the broadcast build side) stays
    // corpus-wide by design, so broadcast subtrees are excluded.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    // the decode agg: collect_list of (subspace, centroid) structs keyed
    // by vec_id (the flatten/array_sort fold is projected away in the
    // physical rendering; codebook training's collect_list is keyed by
    // (j, k) and so does not match)
    val recoAggs = physical("embedding_pq").collect {
      case n if n.nodeName.contains("Aggregate") && {
        val s = n.simpleString(Int.MaxValue)
        s.contains("collect_list(struct(j, j#") && s.contains("keys=[vec_id#")
      } => n
    }
    assert(recoAggs.nonEmpty, "PQ reconstruction aggregate not found")
    def probeSide(n: SparkPlan): Seq[SparkPlan] = n match {
      case _: BroadcastExchangeExec => Seq.empty
      case _ => n +: n.children.flatMap(probeSide)
    }
    for (agg <- recoAggs) {
      val filters = probeSide(agg).collect {
        case f: FilterExec if f.condition.toString.contains("< 16") => f
      }
      assert(filters.nonEmpty,
        "PQ decode subtree must filter to the measurement panel " +
          "before the assignment join — full-corpus reconstruction " +
          "is the 100 TB scale-killer this pin fences")
    }
  }

  test("enriched_events joins the registry by broadcast, never sort-merge") {
    val p = plan("enriched_events")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("dimension chain of q2_join_nation broadcasts") {
    val p = plan("q2_join_nation")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("top-k queries use TakeOrdered, not a global sort") {
    for (n <- Seq("q3_topk_orders", "bm25", "ngram_jaccard",
        "vocab_coverage")) {
      val p = plan(n)
      assert(p.contains("TakeOrderedAndProject"), s"$n should take-order")
    }
  }

  test("q34 prunes the hive-partitioned layout to one type directory") {
    // the one-type predicate must land in PartitionFilters (directory
    // pruning — no I/O on the other four types), not merely
    // PushedFilters (row-group pruning after the read)
    val p = plan("q34_partition_prune")
    val pf = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(pf.contains("event_type"),
      s"event_type predicate missing from PartitionFilters:\n$p")
    assert(!pf.contains("PartitionFilters: []"),
      s"empty PartitionFilters — the layout is not pruning:\n$p")
  }

  test("orc_roundtrip pushes its predicate into the ORC scan") {
    val scans = plan("orc_roundtrip").linesIterator
      .filter(_.contains("PushedFilters")).toSeq
    assert(scans.exists(l => l.contains("PushedFilters: [") &&
        !l.contains("PushedFilters: []") && l.contains("lang")),
      s"lang predicate did not reach the ORC reader")
  }

  test("warc_parse_files reads real archive FILES via the binaryFile source") {
    // the production WARC input shape: the scan is a binaryFile file
    // scan (one task per archive file), not a parquet-derived fixture
    val p = plan("warc_parse_files")
    assert(p.toLowerCase.contains("binaryfile"),
      "warc_parse_files should scan .warc.gz files through binaryFile")
  }

  test("filters reach the parquet scan (predicate pushdown)") {
    // q3's order-status literal and enriched_events' gate predicates
    // must reach their scans as PushedFilters
    for (n <- Seq("q3_topk_orders", "enriched_events")) {
      val scans = plan(n).linesIterator
        .filter(_.contains("PushedFilters")).toSeq
      assert(scans.exists(l =>
          l.contains("PushedFilters: [") && !l.contains("PushedFilters: []")),
        s"$n scan lost its pushed filters:\n${scans.mkString("\n")}")
    }
  }

  test("scans are column-pruned to what the query needs") {
    // token_stats touches only doc_id + text of a 5-column table
    val p = plan("token_stats")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text"))
    assert(!read.contains("lang") && !read.contains("source"),
      s"token_stats reads more than it projects: $read")
  }

  test("dedup_exact shuffles fingerprints; text only after the gsize gate") {
    // main path shuffles the 32-byte compound fingerprint; document text
    // may enter a shuffle ONLY on the multi-member branch, downstream of
    // the gsize > 1 filter (true dups + collisions — tiny at scale)
    val shuffles = physical("dedup_exact").collect {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.nonEmpty)
    val textShuffles = shuffles.filter(_.output.exists(_.name == "text"))
    assert(textShuffles.size < shuffles.size,
      "every shuffle carries text — the fingerprint path is gone")
    for (e <- textShuffles) {
      val gated = e.child.collect {
        case f: FilterExec if f.condition.toString.contains("gsize") => f
      }
      assert(gated.nonEmpty,
        s"text shuffle not gated by the multi-member filter:\n$e")
    }
  }

  test("seq_pack windows per source shard — no global-order exchange") {
    val p = plan("seq_pack")
    assert(!p.contains("Exchange SinglePartition"),
      "packing collapsed to a single partition")
  }

  test("gopher_repetition and pii_scrub are pure map passes") {
    // both compute per-row; the only exchange allowed is the
    // presentation sort's range partitioning. compression_ratio lives
    // outside the gate map (no DuckDB twin) but keeps its plan audit.
    val mapPasses = Seq("gopher_repetition", "pii_scrub", "text_normalize")
      .map(n => n -> physical(n)) :+
      ("compression_ratio" ->
        Pipeline.compressionRatio(spark, dir).queryExecution.executedPlan)
    for ((n, phys) <- mapPasses) {
      val p = phys.toString
      val bad = p.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Exchange rangepartitioning"))
      assert(bad == 0, s"unexpected shuffle in $n:\n$p")
    }
  }

  test("decontaminate probes the eval gram set by broadcast") {
    val p = plan("decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "eval set fell out of the broadcast — corpus grams would shuffle")
  }

  test("exact_substring ships bare (id, pos, hash) probes into the join") {
    // the corpus-volume probe side must enter its shuffle WITHOUT the
    // document text; text may only rejoin for candidate verification
    val shuffles = physical("exact_substring").collect {
      case e: ShuffleExchangeExec => e
    }
    val probeShuffles = shuffles.filter(_.output.exists(_.name == "pos_b"))
    assert(probeShuffles.nonEmpty, "probe side lost its shuffle audit hook")
    assert(probeShuffles.forall(!_.output.exists(a =>
        a.name == "tb" || a.name == "text")),
      "probe shuffle carries document text — stride-1 volume × text size")
  }

  test("doc_chunks is scan → explode with no mid-plan shuffle") {
    val p = plan("doc_chunks")
    // exactly the presentation-sort exchange, nothing upstream of Generate
    val n = p.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Exchange rangepartitioning"))
    assert(n == 0, s"unexpected shuffle in doc_chunks:\n$p")
  }

  test("corpus_split is a pure map pass — the split needs no shuffle") {
    val p = plan("corpus_split")
    val bad = p.linesIterator.count(l => l.contains("Exchange") &&
      !l.contains("Exchange rangepartitioning"))
    assert(bad == 0, s"unexpected shuffle in corpus_split:\n$p")
    assert(!p.contains("Join"), "the split joined something")
  }

  test("quantile_sketch touches the corpus at most once") {
    // the single-pass claim: ONE parquet scan builds the (persisted)
    // value histogram; bounds, bins, estimates and exact all read the
    // cached domain-sized result (0 live scans once cached)
    val scans = physical("quantile_sketch").collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.length <= 1,
      s"quantile_sketch scanned the corpus ${scans.length} times")
  }

  test("bpe_encode joins the vocab against PRE-AGGREGATED doc-words") {
    // the Zipf-head claim: the document side enters the vocab join via
    // its own (doc_id, word) aggregate — one row per distinct word per
    // doc — never as raw occurrence rows. (The join itself is unhinted:
    // the checkpointed vocab reports real stats, so Catalyst broadcasts
    // while it fits and shuffles when a corpus-scale vocab outgrows it.)
    val p = plan("bpe_encode")
    val i = p.indexOf("Join")
    assert(i >= 0, "vocab join missing")
    assert(p.substring(i).contains("HashAggregate(keys=[doc_id"),
      "doc side reaches the vocab join without its per-doc aggregate")
  }

  test("char_entropy and image_ahash are pure map passes") {
    // both compute per-row from the document scan; the allowed
    // exchanges are the presentation sort's range partitioning and the
    // ONE deliberate asciiDocs doc_id spread (REPARTITION_BY_COL — the
    // r14 single-row-group parallelization; a pre-split corpus ships
    // each row once through it and nothing else moves)
    for (n <- Seq("char_entropy", "image_ahash")) {
      val p = plan(n)
      val bad = p.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Exchange rangepartitioning") &&
        !l.contains("REPARTITION_BY_COL"))
      assert(bad == 0, s"unexpected shuffle in $n:\n$p")
      assert(!p.contains("Join"), s"$n joined something")
    }
  }

  test("round-8 media/text queries are pure map passes") {
    // fixture-encode → decode → fold, all per-row from the document
    // scan; the allowed exchanges are the presentation sort's range
    // partitioning and the ONE deliberate asciiDocs doc_id spread
    // (REPARTITION_BY_COL, see above) — a join or ENSURE_REQUIREMENTS
    // hash shuffle here means the decode path stopped being
    // embarrassingly parallel
    for (n <- Seq("html_extract", "audio_resample",
      "multimodal_decode_tiff_packbits", "multimodal_decode_webp",
      "span_corrupt", "fim_transform", "url_surt")) {
      val p = plan(n)
      val bad = p.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Exchange rangepartitioning") &&
        !l.contains("REPARTITION_BY_COL"))
      assert(bad == 0, s"unexpected shuffle in $n:\n$p")
      assert(!p.contains("Join"), s"$n joined something")
    }
  }

  test("heavy codec passes spread the scan once, then stay map-only") {
    // the driver parquet is a single row group → one input split; the
    // per-row JPEG encode/decode chains (the three most CPU-expensive
    // fixtures) pay ONE doc_id hash exchange of the tiny text table to
    // parallelize, then must remain join-free map passes
    for (n <- Seq("video_frame_sample", "multimodal_decode_jpeg_pixels",
      "multimodal_decode_jpeg_progressive")) {
      val p = plan(n)
      val hashed = p.linesIterator.count(l => l.contains("Exchange") &&
        !l.contains("Exchange rangepartitioning"))
      assert(hashed == 1, s"$n should spread exactly once:\n$p")
      assert(!p.contains("Join"), s"$n joined something")
    }
  }

  test("line_dedup keeper aggregates in hash mode — no corpus sort") {
    // the packed-decimal keeper key exists exactly so the per-line min
    // stays a HashAggregate with map-side combine; a SortAggregate here
    // means the exploded line stream is being sorted per partition
    val p = plan("line_dedup")
    assert(!p.contains("SortAggregate"),
      s"line_dedup fell back to sort aggregation:\n$p")
    assert(p.contains("Generate"), "map-side chunk explode disappeared")
  }

  test("warc_parse shuffles once for archive assembly, then only sorts") {
    // parse side must stay a flatMap: one hash exchange (the 16-record
    // groupByKey) + the presentation sort's range partitioning
    for (n <- Seq("warc_parse", "warc_parse_gzip")) {
      val hashed = physical(n).collect {
        case e: ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
      }
      assert(hashed.length <= 1,
        s"$n hash-shuffled ${hashed.length} times — archive assembly " +
          "needs exactly one grouping exchange")
      assert(!plan(n).contains("Join"), s"$n joined something")
    }
  }

  test("skew_report shuffles only per-key counts, never raw rows twice") {
    // per candidate key: one hash-partitioned count aggregate (with a
    // map-side partial), then single-row reductions — 2 keys → at most
    // 2 count-exchange pairs plus the final single-partition gathers
    val shuffles = physical("skew_report").collect {
      case e: ShuffleExchangeExec => e
    }
    val hashed = shuffles.filter(_.outputPartitioning.toString
      .contains("hashpartitioning"))
    assert(hashed.length <= 2,
      s"skew_report hash-shuffled ${hashed.length} times — keyed counts " +
        "should shuffle once per candidate key")
  }

  /** Queries whose plans legitimately contain an UNPARTITIONED window.
    * Every entry is one of:
    *  - a LIMIT-capped / domain-sized frame (≤ ~120 rows at any corpus
    *    size): quantile_sketch (64-bin histogram), rrf_fusion (two
    *    ≤20-row rank lists), token_pmi (top-120 panel), vocab_coverage
    *    (top-64 TakeOrdered result);
    *  - plausibility_ring: the reference's single global last-100 ring
    *    (src/supervision/state.cpp:127-130) — inherent semantics,
    *    adjudicated r7; SCALE.md documents the partition-bucketed
    *    alternative;
    *  - q31_zorder_layout: the deterministic bench-scale stand-in for
    *    repartitionByRange file layout (scaladoc'd at the query). */
  private val cappedGlobalWindows = Set(
    "quantile_sketch", "rrf_fusion", "token_pmi", "vocab_coverage",
    "plausibility_ring", "q31_zorder_layout")

  /** The Sessionize BOUNDARY chain-merge (Sessionize.scala:62-73) is a
    * deliberate single-partition pass over the first/last-session set —
    * 2 rows per time bucket, never the event stream. Its two windows
    * (`partitionBy(lit(1))`, which Catalyst folds to an EMPTY partition
    * spec) order by exactly (_smin, _bucket, _sess); exempt by that
    * SHAPE rather than by query name, because the deep sweep now sees
    * them through the shared clusterAgg cache in a dozen downstream
    * queries — a name allowlist that wide would let any NEW global
    * window into the whole coincidence family unnoticed. */
  private def isSessionizeBoundary(
      w: org.apache.spark.sql.execution.window.WindowExec): Boolean =
    w.orderSpec.map(_.child match {
      case a: org.apache.spark.sql.catalyst.expressions.Attribute => a.name
      case _ => ""
    }) == Seq("_smin", "_bucket", "_sess")

  test("no headline plan windows an uncapped frame on a single partition") {
    // the r7 verdict's named scale-killer class (user_rfm's ntile over
    // the whole user dimension) — any NEW unpartitioned WindowExec
    // outside the justified set above fails here instead of surviving
    // to a 100× corpus
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(cappedGlobalWindows)
      .filter { n =>
        deepCollect(physical(n)) {
          case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty && !isSessionizeBoundary(w) => w
        }.nonEmpty
      }
    assert(offenders.isEmpty,
      s"unpartitioned corpus-frame windows appeared in: $offenders — " +
        "partition the window or justify a capped frame in the allowlist")
  }

  test("the window/cartesian sweeps see INSIDE cached subtrees") {
    // self-test for deepCollect: the r10 PQ seed window hid behind a
    // persist() boundary because plain collect stops at the
    // InMemoryTableScan. Build a cached DF whose cached plan contains
    // an unpartitioned WindowExec and assert the sweep's collector
    // finds it — if deepCollect regresses to plain collect, this fails.
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.row_number
    val df = spark.range(100).toDF("id")
      .withColumn("rk", row_number().over(Window.orderBy("id")))
      .persist()
    try {
      df.count() // materialize so the scan renders as InMemoryTableScan
      val seen = deepCollect(df.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(seen.nonEmpty,
        "deepCollect failed to recurse into InMemoryRelation.cachedPlan " +
          "— cached subtrees can smuggle global windows past the sweep")
    } finally { df.unpersist() }
  }

  test("q33_skew_salted joins on (key, salt) — the salt reaches the join") {
    val p = plan("q33_skew_salted")
    val i = p.indexOf("Join")
    assert(i >= 0, "salted join missing")
    assert(p.substring(i, math.min(p.length, i + 400)).contains("_salt"),
      "the salt column fell out of the join keys — hot keys re-collapse " +
        "onto single tasks")
  }
}
