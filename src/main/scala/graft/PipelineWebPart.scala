package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** web-crawl: URLs, robots, sitemaps, WARC, CDC and line dedup — the Web slice of the [[Pipeline]]
  * catalog (round-13 split: pure moves out of the former
  * single-file Pipeline.scala; composed back via
  * `object Pipeline extends ...`). */
private[graft] trait PipelineWebPart extends Serializable { this: Pipeline.type =>
  /** URL canonicalization (operators/UrlNorm): every document gets a
    * deliberately messy URL — uppercase scheme/host, explicit default
    * or non-default port, ./ and ../ dot-segments, a %61 escape of an
    * unreserved char, unsorted query with a utm_ tracking param, a
    * fragment — and the normalizer must produce the exact canonical
    * form the oracle constructs analytically: scheme/host lowercased,
    * :80 dropped but :8080 kept, dot-segments removed, %61→a, params
    * sorted with utm_ dropped, fragment gone. The web-dedup key op. */
  private[graft] def urlNormalize(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val port = if (id % 2 == 0) ":80" else ":8080"
        val messy = s"HTTP://WWW.Ex${id % 7}.COM$port/Dir${t.length % 5}" +
          s"/./skip/../p%61ge?utm_campaign=c&b=${t.length % 9}&a=1#top"
        (id, graft.operators.UrlNorm.normalize(messy),
          graft.operators.UrlNorm.hostKey(messy))
      }
      .toDF("doc_id", "norm_url", "host_key")
      .orderBy("doc_id")
  }
  /** Per-site quota readout over the canonical keys: URL dedup's
    * aggregation shape — group by registered-domain key, count pages
    * and distinct canonical URLs. One hash shuffle on the (tiny) host
    * dimension; the canonicalization itself stays map-side. */
  private[graft] def urlHostCounts(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val port = if (id % 2 == 0) ":80" else ":8080"
        val messy = s"HTTP://WWW.Ex${id % 7}.COM$port/Dir${t.length % 5}" +
          s"/./skip/../p%61ge?utm_campaign=c&b=${t.length % 9}&a=1#top"
        (graft.operators.UrlNorm.hostKey(messy),
          graft.operators.UrlNorm.normalize(messy))
      }
      .toDF("host_key", "norm_url")
      .groupBy("host_key")
      .agg(count("*").as("n_urls"),
        countDistinct("norm_url").as("n_unique"))
      .orderBy("host_key")
  }
  /** SURT ordering keys (operators/UrlNorm.surtKey) over the same
    * messy-URL fixture as [[urlNormalize]]: host labels reversed and
    * comma-joined so sorting clusters each domain's pages contiguously
    * — the CDX web-archive index convention. The query ORDERS BY the
    * SURT itself (the key's whole point); the oracle constructs every
    * key analytically and applies the same ordering. */
  private[graft] def urlSurt(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val port = if (id % 2 == 0) ":80" else ":8080"
        val messy = s"HTTP://WWW.Ex${id % 7}.COM$port/Dir${t.length % 5}" +
          s"/./skip/../p%61ge?utm_campaign=c&b=${t.length % 9}&a=1#top"
        (id, graft.operators.UrlNorm.surtKey(messy))
      }
      .toDF("doc_id", "surt")
      .orderBy("surt", "doc_id")
  }
  /** robots.txt decisions (operators/Robots, RFC 9309): every doc
    * carries a crawl policy with a `*` group and a GraftBot group
    * (comments, stacked user-agents, a wildcard+anchor Allow), and the
    * evaluator must pick the right group and apply
    * most-specific-wins — the oracle enumerates the closed-form
    * outcome per path class. Exercises: group selection shadowing the
    * `*` rules, longest-match with `*`/`$` patterns, Allow-beats-
    * Disallow on specificity. */
  private[graft] def robotsDecisions(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir).selectExpr("doc_id", "length(text) AS len")
      .as[(Long, Long)]
      .map { case (id, len) =>
        val robots =
          s"""# crawl policy for ex${id % 7}
             |User-agent: *
             |Disallow: /Dir2
             |Disallow: /Dir4
             |
             |User-agent: GraftBot
             |Disallow: /Dir1
             |Disallow: /Dir3
             |Allow: /Dir3/pa*e$$""".stripMargin
        val groups = graft.operators.Robots.parse(robots)
        val path = s"/Dir${len % 5}/page"
        (id, path,
          graft.operators.Robots.allowed(groups, "graftbot/1.0", path),
          graft.operators.Robots.allowed(groups, "otherbot", path))
      }
      .toDF("doc_id", "path", "graft_allowed", "other_allowed")
      .orderBy("doc_id")
  }
  /** Content-defined chunking (Rabin-style CDC) — the storage-dedup /
    * delta-sync operator: chunk boundaries land where the rolling
    * 8-byte window hash ([[functions.PolyHashWindows]], the
    * exact-substring kernel) is divisible by 64, so INSERTIONS SHIFT
    * BYTES BUT NOT BOUNDARIES beyond the touched chunk — the property
    * fixed-size blocking lacks and the reason every dedup store (and
    * rsync) chunks this way. Basic Rabin form: no min/max clamp
    * (FastCDC's clamps add a sequential dependency; the pure
    * divisibility rule keeps both engines closed-form). Boundary
    * detection, chunk slicing and per-chunk fingerprints are ALL
    * map-side higher-order array ops — zero shuffle for the per-doc
    * readout. */
  /** The CDC chunk rule in plain Scala (shared with [[cdcDelta]] and
    * CdcSpec): cuts where the 8-byte rolling hash divides 64. */
  private[graft] def cdcChunksOf(t: String): Seq[String] = {
    // whole pipeline in BYTE space: the rolling-hash windows index
    // UTF-8 bytes, so the slices must too (a char-indexed substring
    // would mis-cut any non-ASCII input). Chunks come back as
    // ISO-8859-1 strings — the lossless byte↔char mapping — so the
    // multiset matching and length arithmetic stay byte-exact;
    // identical to the old char path on the ASCII corpus.
    val bytes = t.getBytes("UTF-8")
    val hs = functions.PolyHashWindows.windows(bytes, 8)
    val cuts = hs.zipWithIndex.collect {
      case (h, i) if h % 64 == 0 => i + 8 }
    val bs = (0 +: cuts.toSeq :+ bytes.length).distinct
    bs.sliding(2)
      .map(p => new String(bytes, p(0), p(1) - p(0), "ISO-8859-1")).toSeq
  }
  /** CDC DELTA — the incremental-sync readout the chunking exists
    * for: version 2 of every third document gains a 4-byte HEAD
    * insertion (the worst case for fixed-size blocking), and the
    * delta counts, per doc, how many v2 chunks already exist in v1
    * (multiset match) and how many bytes actually need transferring.
    * Unchanged docs transfer zero; edited docs transfer ONLY their
    * head chunk(s) — the shift-invariance property measured
    * corpus-wide, not just asserted on a fixture. Pure map pass. */
  private[graft] def cdcDelta(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    graft.functions.PolyHashWindows.register(s)
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val t2 = if (id % 3 == 0) "upd " + t else t
        val c1 = cdcChunksOf(t).groupBy(identity)
          .map { case (c, xs) => (c, xs.size) }
        val c2 = cdcChunksOf(t2)
        val counts = scala.collection.mutable.Map[String, Int]()
        var shared = 0L
        var transfer = 0L
        c2.foreach { c =>
          val used = counts.getOrElse(c, 0)
          if (used < c1.getOrElse(c, 0)) { shared += 1; counts(c) = used + 1 }
          else transfer += c.length
        }
        (id, id % 3 == 0, c2.size.toLong, shared, transfer)
      }
      .toDF("doc_id", "changed", "n_chunks_v2", "shared_chunks",
        "transfer_bytes")
      .orderBy("doc_id")
  }
  private[graft] def cdcChunked(s: SparkSession, dir: String): DataFrame =
    ScanCache.get(s, s"cdc-chunked:$dir") {
    graft.functions.PolyHashWindows.register(s)
    // spread the single-row-group driver parquet before the per-char
    // array work (the vecs move): one tiny exchange parallelizes the
    // whole chunking pass; a real multi-file corpus arrives pre-split
    // and this is a no-op cost. Persisted: cdc_chunks and cdc_dedup
    // both branch off this chunk table
    asciiDocs(s, dir).toDF("doc_id", "text")
      .repartition(col("doc_id"))
      .withColumn("hw", expr("poly_hash_windows(text, 8)"))
      .selectExpr("doc_id", "text",
        """array_distinct(concat(array(CAST(0 AS BIGINT)),
          |  filter(transform(hw,
          |    (h, i) -> IF(h % 64 = 0, CAST(i + 8 AS BIGINT), NULL)),
          |    x -> x IS NOT NULL),
          |  array(CAST(length(text) AS BIGINT)))) AS bs""".stripMargin)
      .selectExpr("doc_id",
        """transform(sequence(0, size(bs) - 2), j -> substring(text,
          |  CAST(element_at(bs, j + 1) + 1 AS INT),
          |  CAST(element_at(bs, j + 2) - element_at(bs, j + 1) AS INT)))
          |  AS chunks""".stripMargin)
  }
  private[graft] def cdcChunks(s: SparkSession, dir: String): DataFrame =
    cdcChunked(s, dir)
      .selectExpr("doc_id",
        "CAST(size(chunks) AS BIGINT) AS n_chunks",
        "CAST(aggregate(chunks, 0, (a, c) -> a + length(c)) AS BIGINT) " +
          "AS total_bytes",
        "md5(array_join(transform(chunks, c -> md5(c)), ' ')) " +
          "AS chunks_md5")
      .orderBy("doc_id")
  /** Corpus-wide CDC dedup summary — the storage readout: total vs
    * distinct chunks and bytes. One map-combinable shuffle on the
    * chunk dimension. */
  private[graft] def cdcDedup(s: SparkSession, dir: String): DataFrame =
    cdcChunked(s, dir)
      .selectExpr("explode(chunks) AS chunk")
      .groupBy("chunk").agg(count(lit(1)).as("copies"))
      .selectExpr("chunk", "copies")
      .agg(sum("copies").as("total_chunks"),
        count(lit(1)).as("unique_chunks"),
        sum(expr("copies * length(chunk)")).as("total_bytes"),
        sum(expr("length(chunk)")).as("unique_bytes"))
      .selectExpr("total_chunks", "unique_chunks",
        "CAST(total_bytes AS BIGINT) AS total_bytes",
        "CAST(unique_bytes AS BIGINT) AS unique_bytes")
  /** Crawl frontier — the crawler-side composition of the web family:
    * every document "discovers" three messy URLs (two canonicalize to
    * the SAME target — the dup the frontier must catch, including
    * cross-document collisions — and one to a sibling page), each URL
    * canonicalizes (UrlNorm), passes the robots gate
    * (operators/Robots, the robots_decisions policy) and dedups by
    * FIRST discovery under the total order (doc_id, variant); fetch =
    * allowed ∧ first-seen. The oracle constructs canonical forms and
    * robots outcomes analytically and replays the keeper walk.
    *
    * 100 TB shape: canonicalization and robots are map-side; the only
    * shuffle is the first-seen keeper aggregate on the canonical-URL
    * dimension (the line_dedup packed-decimal move — hash-mode,
    * map-combinable, hot URLs cannot skew it). */
  private[graft] def crawlFrontier(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val urls = asciiDocs(s, dir)
      .flatMap { case (id, t) =>
        val port = if (id % 2 == 0) ":80" else ":8080"
        val k = id % 7
        val m = t.length % 5
        val q = t.length % 9
        Seq(
          (id, 0L, s"HTTP://WWW.Ex$k.COM$port/Dir$m" +
            s"/./skip/../p%61ge?utm_campaign=c&b=$q&a=1#top"),
          (id, 1L, s"http://www.ex$k.com$port/Dir$m/page?a=1&b=$q&utm_source=z"),
          (id, 2L, s"http://www.ex$k.com$port/Dir$m/page2?a=1&b=$q"))
      }
      .map { case (id, v, messy) =>
        val canon = graft.operators.UrlNorm.normalize(messy)
        val path = canon.substring(canon.indexOf('/', 8))
          .takeWhile(c => c != '?' && c != '#')
        val robots = graft.operators.Robots.parse(
          s"""User-agent: *
             |Disallow: /Dir2
             |Disallow: /Dir4
             |User-agent: GraftBot
             |Disallow: /Dir1
             |Disallow: /Dir3
             |Allow: /Dir3/pa*e$$""".stripMargin)
        (id, v, canon,
          graft.operators.Robots.allowed(robots, "graftbot/1.0", path))
      }
      .toDF("doc_id", "variant", "canon", "allowed")
    val keeper = urls
      .selectExpr("canon",
        "CAST(doc_id AS DECIMAL(28,0)) * 4 + variant AS pk")
      .groupBy("canon").agg(min("pk").as("pk"))
    urls.join(keeper, "canon")
      .selectExpr("doc_id", "variant", "canon", "allowed",
        "CAST(doc_id AS DECIMAL(28,0)) * 4 + variant <> pk AS is_dup",
        "allowed AND CAST(doc_id AS DECIMAL(28,0)) * 4 + variant = pk " +
          "AS fetch")
      .orderBy("doc_id", "variant")
  }
  /** THE COMPOSED CRAWLER LOOP — frontier ∘ politeness as one query:
    * discovered URLs canonicalize, pass robots, dedup by first
    * discovery (the [[crawlFrontier]] stage), and the surviving
    * fetches schedule under the per-host Crawl-delay closed form
    * (the [[politeSchedule]] window). The oracle recomputes the whole
    * chain. Shuffles: the frontier's canonical-URL keeper + one
    * host-partitioned window — nothing beyond the parts composed. */
  private[graft] def crawlSchedule(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("host_key")
      .orderBy("t_ms", "doc_id", "variant")
    crawlFrontier(s, dir).filter(col("fetch"))
      .selectExpr("doc_id", "variant",
        "concat('ex', doc_id % 7, '.com') AS host_key",
        "(doc_id div 7) * 800 + variant * 50 AS t_ms")
      .withColumn("rn", row_number().over(w) - lit(1))
      .withColumn("x", col("t_ms") - lit(CrawlDelayMs) * col("rn"))
      .withColumn("sched_ms",
        lit(CrawlDelayMs) * col("rn") + max("x").over(w))
      .selectExpr("doc_id", "variant", "host_key", "t_ms", "sched_ms")
      .orderBy("doc_id", "variant")
  }
  /** THE CRAWLER LOOP WITH DISCOVERY — sitemap ∘ frontier ∘
    * politeness, the three-stage composition a crawler actually runs:
    * every document carries a 3-entry sitemap (one messy loc that
    * canonicalizes onto its sibling — the dup the frontier must
    * catch — plus a sibling-directory loc), discovery parses the
    * urlset ([[operators.Sitemap]]), each loc canonicalizes
    * (UrlNorm), passes the robots gate, dedups by first discovery,
    * and the surviving fetches schedule under the per-host
    * Crawl-delay closed form. The oracle replays the entire chain
    * analytically.
    *
    * 100 TB shape: discovery + canonicalization + robots are one
    * map-side flatMap; then exactly the [[crawlSchedule]] shuffles —
    * the canonical-URL keeper aggregate and one host-partitioned
    * window. Nothing beyond the parts composed. */
  private[graft] def crawlLoopSitemap(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val urls = Tables.documents(s, dir)
      .selectExpr("doc_id", "length(text) AS len")
      .as[(Long, Long)]
      .flatMap { case (id, len) =>
        val k = id % 7
        val m = len % 5
        val m2 = (m + 1) % 5
        val q = len % 9
        val xml =
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
             |<url><loc>http://ex$k.com/Dir$m/page?b=$q&amp;a=1</loc></url>
             |<url><loc>HTTP://Ex$k.COM:80/Dir$m/./page?a=1&amp;b=$q</loc></url>
             |<url><loc>http://ex$k.com/Dir$m2/page?a=1&amp;b=$q</loc></url>
             |</urlset>""".stripMargin
        graft.operators.Sitemap.parseUrlset(xml).zipWithIndex.map {
          case (u, i) =>
            val canon = graft.operators.UrlNorm.normalize(u.loc)
            val path = canon.substring(canon.indexOf('/', 8))
              .takeWhile(c => c != '?' && c != '#')
            val robots = graft.operators.Robots.parse(
              s"""User-agent: *
                 |Disallow: /Dir2
                 |Disallow: /Dir4
                 |User-agent: GraftBot
                 |Disallow: /Dir1
                 |Disallow: /Dir3
                 |Allow: /Dir3/pa*e$$""".stripMargin)
            (id, i.toLong, canon,
              graft.operators.Robots.allowed(robots, "graftbot/1.0", path))
        }
      }
      .toDF("doc_id", "pos", "canon", "allowed")
    val keeper = urls
      .selectExpr("canon",
        "CAST(doc_id AS DECIMAL(28,0)) * 4 + pos AS pk")
      .groupBy("canon").agg(min("pk").as("pk"))
    val w = Window.partitionBy("host_key").orderBy("t_ms", "doc_id", "pos")
    urls.join(keeper, "canon")
      .filter(col("allowed") &&
        expr("CAST(doc_id AS DECIMAL(28,0)) * 4 + pos = pk"))
      .selectExpr("doc_id", "pos", "canon",
        "concat('ex', doc_id % 7, '.com') AS host_key",
        "(doc_id div 7) * 800 + pos * 50 AS t_ms")
      .withColumn("rn", row_number().over(w) - lit(1))
      .withColumn("x", col("t_ms") - lit(CrawlDelayMs) * col("rn"))
      .withColumn("sched_ms",
        lit(CrawlDelayMs) * col("rn") + max("x").over(w))
      .selectExpr("doc_id", "pos", "host_key", "canon", "t_ms", "sched_ms")
      .orderBy("doc_id", "pos")
  }
  /** Sitemap parsing (operators/Sitemap): every doc carries a 3-entry
    * urlset — one loc with an `&amp;`-escaped query (the decode the
    * protocol requires), one with lastmod + priority, one bare — and
    * the parser must extract loc/lastmod/changefreq/priority with the
    * spec defaults (priority absent → 0.5). The oracle rebuilds every
    * field analytically; priorities parse with integer arithmetic so
    * ppm values are engine-exact. */
  private[graft] def sitemapParse(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir).selectExpr("doc_id", "length(text) AS len")
      .as[(Long, Long)]
      .flatMap { case (id, len) =>
        val k = id % 7
        val d = 1 + (len % 28)
        val pr = (len % 10).toInt
        val xml =
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
             |<url><loc>http://ex$k.com/p?a=1&amp;b=$len</loc></url>
             |<url><loc>http://ex$k.com/q</loc><lastmod>2026-01-${"%02d".format(d)}</lastmod><priority>0.$pr</priority></url>
             |<url><loc>http://ex$k.com/r</loc><changefreq>daily</changefreq></url>
             |</urlset>""".stripMargin
        graft.operators.Sitemap.parseUrlset(xml).zipWithIndex.map {
          case (u, i) =>
            (id, i.toLong, u.loc, u.lastmod, u.changefreq, u.priorityPpm)
        }
      }
      .toDF("doc_id", "pos", "loc", "lastmod", "changefreq",
        "priority_ppm")
      .orderBy("doc_id", "pos")
  }
  private[graft] def politeSchedule(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("host_key")
      .orderBy("t_ms", "doc_id")
    Tables.documents(s, dir)
      .selectExpr("doc_id",
        "concat('ex', doc_id % 7, '.com') AS host_key",
        "(doc_id div 7) * 800 + (length(text) % 400) AS t_ms")
      .withColumn("rn", row_number().over(w) - lit(1))
      .withColumn("x", col("t_ms") - lit(CrawlDelayMs) * col("rn"))
      .withColumn("sched_ms",
        lit(CrawlDelayMs) * col("rn") + max("x").over(w))
      .selectExpr("doc_id", "host_key", "t_ms", "sched_ms",
        "sched_ms - t_ms AS delay_ms")
      .orderBy("doc_id")
  }
  /** The line dimension for C4/RefinedWeb-style line-level dedup: the
    * corpus has no newlines, so "lines" are deterministic 3-word
    * chunks of each document (the fixture defines the boundary; the
    * dedup machinery is what's under test). Chunking is pure map-side
    * array slicing — `sequence` over chunk indices + `slice` — no
    * explode-regroup shuffle. */
  private[graft] val LineWords = 3
  private[graft] def docLines(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("doc_id",
        s"""posexplode(transform(
           |  sequence(0, CAST((size(ws) - 1) div $LineWords AS INT)),
           |  j -> array_join(slice(ws, j * $LineWords + 1, $LineWords),
           |    ' '))) AS (line_no, line)""".stripMargin)
  /** C4-style GLOBAL exact line dedup: every distinct line survives
    * only at its first occurrence under the total order
    * (doc_id, line_no); all later copies are dropped, and each doc is
    * reconstructed from its surviving lines in order. The keeper is a
    * `min(struct(doc_id, line_no))` aggregate per distinct line — the
    * keeper ROW IS the kept instance, so no re-join of the line text
    * back onto the corpus is needed. Output per doc: line counts and
    * the md5 of the reconstructed text, which the oracle recomputes
    * from its own first-occurrence walk — any keeper-policy or
    * reconstruction-order bug flips the hash.
    *
    * 100 TB shape: one map-combinable min-aggregate shuffled on the
    * line dimension (hot boilerplate lines partial-combine to one row
    * per map task — no skew), one doc_id shuffle for reconstruction,
    * and a broadcast-size NOTHING: the corpus text is shuffled once as
    * (line, keeper) pairs, never re-attached. The per-doc left join is
    * doc-dimension sized on both sides. */
  private[graft] def lineDedup(s: SparkSession, dir: String): DataFrame = {
    val lines = docLines(s, dir)
    // keeper key packed as doc_id·10¹⁰ + line_no in DECIMAL(38,0):
    // min over a struct falls back to SortAggregate (per-partition
    // corpus sort of the exploded lines), while a fixed-width decimal
    // min stays in hash aggregation with map-side combine. Safe for
    // any i64 doc_id (≤ 9.2·10¹⁸ · 10¹⁰ < 10³⁸) and any document
    // under 10¹⁰ lines (a 3-word line is ≥ ~6 bytes — that is a
    // ≥ 60 GB single document before the bound bites).
    val kept = lines
      .selectExpr("line",
        "CAST(doc_id AS DECIMAL(28,0)) * 10000000000 + line_no AS pk")
      .groupBy("line").agg(min("pk").as("pk"))
      .selectExpr("CAST(pk div 10000000000 AS BIGINT) AS doc_id",
        "CAST(pk % 10000000000 AS BIGINT) AS line_no", "line")
    val keptAgg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(concat_ws("\n", expr(
        "transform(array_sort(collect_list(struct(line_no, line))), " +
          "x -> x.line)"))).as("out_md5"))
    Tables.documents(s, dir)
      .selectExpr("doc_id",
        s"((size(split(text, ' ')) - 1) div $LineWords) + 1 AS n_lines")
      .join(keptAgg, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_lines",
        "coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept",
        "coalesce(out_md5, md5('')) AS out_md5")
      .orderBy("doc_id")
  }
  /** RefinedWeb-style boilerplate line removal: any line appearing in
    * ≥ 3 DISTINCT documents is boilerplate and is removed from EVERY
    * document (unlike [[lineDedup]], which keeps the first copy).
    * Per doc: total lines, removed count, md5 of the remaining text.
    *
    * 100 TB shape: the line-frequency table is a map-side
    * partial-distinct aggregate on the line dimension; re-attaching
    * the verdict is a self-join on the SAME line key, so the shuffle
    * partitioning is reused, then one doc_id shuffle reconstructs.
    * Only (line, doc-frequency) pairs cross the wire twice — the doc
    * frequency table is distinct-line sized, not corpus sized. */
  private[graft] def lineBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val lines = docLines(s, dir)
    val freq = lines.groupBy("line")
      .agg(countDistinct("doc_id").as("df"))
    lines.join(freq, "line")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("df") >= 3, 1L).otherwise(0L)).as("n_removed"),
        md5(concat_ws("\n", expr(
          "transform(array_sort(collect_list(" +
            "CASE WHEN df < 3 THEN struct(line_no, line) END)), " +
            "x -> x.line)"))).as("out_md5"))
      .orderBy("doc_id")
  }
  /** THE COMPOSED WEB-INGEST DAG — the whole round-8 web family as
    * one query, the DetectorApp move for the web side:
    * documents wrap into full HTML pages (the html_extract fixture,
    * entity-escaped, script/style/comment traps), pack into 16-record
    * per-record-gzip WARC archives (the Common Crawl layout), then the
    * pipeline runs archives → record walk → HTML text extraction →
    * token gate → GLOBAL line-level dedup, ending in a per-document
    * keep verdict: `n_tokens ≥ 24 AND n_kept·2 ≥ n_lines`. The oracle
    * recomputes the whole chain analytically (the wrap+extract pair
    * must be exactly invertible — any WARC framing, gzip, entity,
    * collapse or keeper bug flips a verdict).
    *
    * 100 TB shape: build side pays the one archive-assembly shuffle;
    * from archives on, it is the warc_parse flatMap + the line_dedup
    * shuffle pair — nothing new beyond the parts it composes. */
  private[graft] def webIngestDag(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    // persisted: the WARC-build → parse → extract chain feeds BOTH the
    // keeper aggregate and the per-doc stats branch — without the
    // cache the whole gzip/extract chain would compute twice
    val extracted = ScanCache.get(s, s"web-ingest-extracted:$dir") {
      webIngestExtracted(s, dir) }
    webIngestVerdicts(extracted)
  }
  private[graft] def webIngestExtracted(s: SparkSession, dir: String)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val html =
          s"""<html><head><title>Doc $id</title><style type="text/css">p { margin: 0; }</style><script type="text/javascript">if (1 < 2) { var s = "</p>"; }</script></head><body data-note="a > b"><h1>Header ${id % 10}</h1><!-- hidden <b>note</b> --><p>${graft.operators.HtmlText.escape(t)}</p></body></html>"""
        (id / 16, id, graft.operators.Warc.buildRecord(
          id, s"http://ex${id % 7}.com/doc/$id", html.getBytes("UTF-8")))
      }
      .groupByKey(_._1)
      .flatMapGroups { (_: Long, it: Iterator[(Long, Long, Array[Byte])]) =>
        val archive = graft.operators.Warc.buildArchive(
          it.toSeq.sortBy(_._2).map(_._3), gzip = true)
        graft.operators.Warc.parseArchiveBodies(archive).map {
          case (uri, body) =>
            (uri.substring(uri.lastIndexOf('/') + 1).toLong,
              graft.operators.HtmlText.extractText(body))
        }
      }
      .toDF("doc_id", "xt")
  }
  private[graft] def webIngestVerdicts(extracted: DataFrame): DataFrame = {
    val lines = extracted
      .selectExpr("doc_id", "split(xt, ' ') AS ws")
      .selectExpr("doc_id", "CAST(size(ws) AS BIGINT) AS n_tokens",
        s"""posexplode(transform(
           |  sequence(0, CAST((size(ws) - 1) div $LineWords AS INT)),
           |  j -> array_join(slice(ws, j * $LineWords + 1, $LineWords),
           |    ' '))) AS (line_no, line)""".stripMargin)
    val kept = lines
      .selectExpr("line",
        "CAST(doc_id AS DECIMAL(28,0)) * 10000000000 + line_no AS pk")
      .groupBy("line").agg(min("pk").as("pk"))
      .selectExpr("CAST(pk div 10000000000 AS BIGINT) AS doc_id")
      .groupBy("doc_id").agg(count(lit(1)).as("n_kept"))
    lines.groupBy("doc_id")
      .agg(first("n_tokens").as("n_tokens"), count(lit(1)).as("n_lines"))
      .join(kept, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_tokens", "n_lines",
        "coalesce(n_kept, CAST(0 AS BIGINT)) AS n_kept",
        "n_tokens >= 24 AND coalesce(n_kept, CAST(0 AS BIGINT)) * 2 " +
          ">= n_lines AS keep")
      .orderBy("doc_id")
  }
  /** Content sniffing over every container this library encodes: each
    * document encodes into one of ten REAL containers by id rotation —
    * plus one deliberately MISLABELED class (raw text declared as
    * image/png) — and [[operators.Multimodal.sniffKind]] must dispatch
    * on magic bytes alone. The oracle predicts the sniffed type (and
    * the mismatch flag) purely from `doc_id % 11`. The
    * trust-the-bytes-not-the-label gate of a multimodal pipeline;
    * pure map pass. */
  private[graft] def contentSniff(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    asciiDocs(s, dir)
      .map { case (id, t) =>
        val b = asciiBytes(id, t)
        val w = 1 + (t.length % 16)
        val h = 1 + ((t.length / 16) % 16)
        val M = graft.operators.Multimodal
        val (declared, bytes) = (id % 22) match {
          case 0 => ("image/bmp", M.encodeBmp(w, h, b))
          case 1 => ("image/png", M.encodePng(w, h, b))
          case 2 => ("image/gif", M.encodeGif(w, h, b))
          case 3 => ("image/jpeg", M.encodeJpegHeader(w, h, b))
          case 4 => ("image/tiff", M.encodeTiff(w, h, id % 2 == 0, b))
          case 5 => ("audio/wav", M.encodeWavPcm8(8000, b))
          case 6 => ("image/webp", M.encodeWebp("VP8 ", w, h, b))
          case 7 => ("video/mp4", M.encodeMp4(w, h, 1000, 400, b))
          case 8 => ("audio/mpeg", M.encodeMp3(2, b))
          case 9 => ("application/warc", graft.operators.Warc
            .buildRecord(id, s"http://ex.com/$id", b))
          // mislabeled raw text; the 0x20 prefix matches no container
          // magic, so the sniff verdict cannot depend on whether the
          // fixture text happens to start with 'BM', 'RIFF', 'ID3', …
          case 10 => ("image/png", 0x20.toByte +: b)
          case 11 => ("application/avro", graft.operators.Avro.build(
            "doc", Seq(graft.operators.Avro.Field(
              "text", "string", nullable = false)),
            Seq(Seq(Some(t))), "deflate"))
          case 12 => ("application/zip", graft.operators.Zip
            .buildArchive(Seq((s"$id.txt", b, true))))
          case 13 => ("application/x-lz4",
            graft.operators.Lz4.frameCompress(b))
          case 14 => ("application/x-snappy-framed",
            graft.operators.SnappyCodec.frameCompress(b))
          case 15 => ("audio/flac", graft.operators.Flac.encode(
            8000, b.map(v => ((v & 0xff) - 128) * 256)))
          case 16 => ("application/ogg", graft.operators.Ogg.build(
            1L, Seq(b), Seq(0L)))
          case 17 => ("application/vnd.apache.arrow.file",
            buildArrowShard(Seq((id, t))))
          case 18 => ("application/x-xz",
            graft.operators.Xz.encodeStore(b))
          case 19 => ("application/x-npy", graft.operators.Npy
            .build("u1", Seq(b.length), b))
          case 20 => ("application/x-gguf", graft.operators.Gguf
            .build(Seq("doc.id" -> graft.operators.Gguf.GvI64(id)),
              Seq(graft.operators.Gguf.GTensor("text",
                Seq(b.length.toLong), "I8", b))))
          case _ => ("application/vnd.sqlite3",
            graft.operators.Sqlite.build("doc", Seq("text"),
              Seq((1L, Seq[Any](t)))))
        }
        val sniffed = M.sniffKind(bytes)
        (id, declared, sniffed, declared == sniffed)
      }
      .toDF("media_id", "declared", "sniffed", "label_ok")
      .orderBy("media_id")
  }
  /** WARC (ISO 28500) build + parse — the Common Crawl ingestion path.
    * Documents become WARC/1.0 response records (HTTP 200 envelope,
    * exact Content-Length framing), 16 records concatenate into each
    * archive in doc_id order, and [[operators.Warc.parseArchive]]
    * walks the archives back out: header block, Content-Length payload
    * read, HTTP status + body extraction, `\r\n\r\n` separator. The
    * oracle predicts every output — record position within the
    * archive, the WARC Content-Length (63-byte envelope + digits +
    * body), body byte length and body md5 — purely from `documents`,
    * so any framing, walk-order or payload-boundary bug flips a row.
    *
    * 100 TB shape: in production the archives are the INPUT — the
    * parse side is a flatMap over binary file rows, embarrassingly
    * parallel, payloads fingerprinted in place and never shuffled.
    * The build side here adds the one archive-keyed shuffle that
    * archive ASSEMBLY inherently needs (16-record groups). */
  private[graft] def warcParse(s: SparkSession, dir: String, gzip: Boolean)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir).select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, t) =>
        (id / 16, id, graft.operators.Warc.buildRecord(
          id, s"http://ex${id % 7}.com/doc/$id", t.getBytes("UTF-8")))
      }
      .groupByKey(_._1)
      .flatMapGroups { (aid: Long, it: Iterator[(Long, Long, Array[Byte])]) =>
        val archive = graft.operators.Warc.buildArchive(
          it.toSeq.sortBy(_._2).map(_._3), gzip)
        graft.operators.Warc.parseArchive(archive).zipWithIndex.map {
          case (r, i) =>
            (r.uri.substring(r.uri.lastIndexOf('/') + 1).toLong,
              aid, i.toLong, r.uri, r.warcType, r.contentLength,
              r.httpStatus, r.bodyLen, r.bodyMd5)
        }
      }
      .toDF("doc_id", "arch_id", "rec_pos", "uri", "warc_type",
        "content_length", "http_status", "body_len", "body_md5")
      .orderBy("doc_id")
  }
  private[graft] def warcParsePlain(s: SparkSession, dir: String): DataFrame =
    warcParse(s, dir, gzip = false)
  /** CDX index build over the real WARC archives — the web-archive
    * LOOKUP artifact (what wayback-style replay and per-domain scans
    * seek through): per record, the SURT ordering key, archive id,
    * byte offset and length of the WHOLE record within the archive,
    * payload digest and HTTP status. Offsets come from the record
    * WALK (`WarcRecord.recOff`/`recLen`), so a framing bug anywhere —
    * header arithmetic, envelope parse, separator handling — shifts
    * every subsequent offset in the archive and fails the hash
    * against the oracle's closed-form envelope sums. Ordered by SURT,
    * the convention that makes a domain's records one contiguous
    * range. Same scale shape as warc_parse: archives build and parse
    * inside one flatMapGroups pass, only index rows shuffle. */
  private[graft] def warcCdx(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir).select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, t) =>
        (id / 16, id, graft.operators.Warc.buildRecord(
          id, s"http://ex${id % 7}.com/doc/$id", t.getBytes("UTF-8")))
      }
      .groupByKey(_._1)
      .flatMapGroups { (aid: Long, it: Iterator[(Long, Long, Array[Byte])]) =>
        val archive = graft.operators.Warc.buildArchive(
          it.toSeq.sortBy(_._2).map(_._3), gzip = false)
        graft.operators.Warc.parseArchive(archive).map { r =>
          (graft.operators.UrlNorm.surtKey(r.uri), aid,
            r.recOff.toLong, r.recLen.toLong, r.bodyMd5,
            r.httpStatus)
        }
      }
      .toDF("surt", "arch_id", "rec_off", "rec_len", "digest",
        "http_status")
      .orderBy("surt", "arch_id")
  }
  /** Once-per-corpus materialization of REAL `.warc.gz` archive files
    * (one file per id-div-16 group, the warc_parse_gzip layout) under
    * the JVM temp dir; returns the directory. Files are written from
    * the EXECUTORS (mapGroups side effect — the production writer
    * shape; on a cluster the same code writes to any mounted shared
    * store), never collected to the driver. The directory is keyed by
    * the corpus dir plus a recursive (length + mtime) signature of
    * documents.parquet, so a driver-side testdata regeneration
    * invalidates the fixture; a _SUCCESS marker makes the build
    * idempotent across queries and sessions. */
  private[graft] def warcFixtureDir(s: SparkSession, dir: String): String = {
    val spark = s
    import spark.implicits._
    def sig(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(sig).sum
      else f.length() + f.lastModified()
    val ident = s"$dir:${sig(new java.io.File(s"$dir/documents.parquet"))}"
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)
    val root = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_warc_$key")
    val marker = new java.io.File(root, "_SUCCESS")
    if (!marker.exists()) Pipeline.synchronized {
      if (!marker.exists()) {
        root.mkdirs()
        val outPath = root.getAbsolutePath
        Tables.documents(s, dir).select("doc_id", "text")
          .as[(Long, String)]
          .map { case (id, t) =>
            (id / 16, id, graft.operators.Warc.buildRecord(
              id, s"http://ex${id % 7}.com/doc/$id", t.getBytes("UTF-8")))
          }
          .groupByKey(_._1)
          .mapGroups { (aid: Long, it: Iterator[(Long, Long, Array[Byte])]) =>
            val archive = graft.operators.Warc.buildArchive(
              it.toSeq.sortBy(_._2).map(_._3), gzip = true)
            java.nio.file.Files.write(java.nio.file.Paths.get(
              outPath, f"arch-$aid%06d.warc.gz"), archive)
            aid
          }
          .count()
        java.nio.file.Files.write(marker.toPath, Array.emptyByteArray)
      }
    }
    root.getAbsolutePath
  }
  /** MediaWiki dump ingest (r12): the canonical public text-corpus
    * source — per-shard `pages-articles-multistream.xml.bz2` blobs
    * (OUR bzip2 writes several concatenated streams per shard, the
    * real dumps' layout) parsed back by the strict export-schema
    * scanner: page id/title/ns, redirect targets, the revision's
    * wikitext with XML entities decoded. Every fact from PARSED
    * pages; the revision's own <id> must not leak into the page id
    * (the first-id rule). One shard-keyed shuffle + flatMap decode —
    * the WARC shape. */
  private[graft] def wikidumpParse(s: SparkSession, dir: String)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir)
      .filter(expr(
        "length(text) = octet_length(text) AND length(text) > 0"))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id / 8, id, t) }
      .groupByKey(_._1)
      .mapGroups { (sid: Long, it: Iterator[(Long, Long, String)]) =>
        val docs = it.toSeq.sortBy(_._2)
        val pages = docs.map { case (_, id, t) =>
          graft.operators.WikiDump.Page(id, s"Doc $id",
            (id % 3).toInt,
            if (id % 13 == 9) Some("Doc 0") else None, t)
        }
        (sid, graft.operators.WikiDump
          .buildMultistream(pages, groupPages = 3))
      }
      .flatMap { case (sid, blob) =>
        val pages = graft.operators.WikiDump.parseBz2(blob)
          .getOrElse(sys.error(s"wikidump shard $sid unparseable"))
        pages.iterator.map { pg =>
          (pg.id, sid, pg.ns.toLong, pg.redirect.isDefined,
            pg.title,
            pg.text.length.toLong,
            pg.text.split(' ').count(_.nonEmpty).toLong)
        }
      }
      .toDF("doc_id", "shard_id", "ns", "is_redirect", "title",
        "n_chars", "n_words")
      .orderBy("doc_id")
  }
  /** Feed ingestion (operators/Feed): per 8-doc chunk one rendered
    * feed document — RSS 2.0 on even chunks, Atom on odd — whose
    * items carry the doc text (XML-escaped) as description/summary,
    * a guid/id, an RFC 822 / RFC 3339 timestamp offset by doc_id,
    * an enclosure on every 3rd doc and a category; parsed back by
    * the attribute-aware scanner and every fact re-derived from the
    * PARSED entries — escaping, both date grammars, rel-link
    * selection and the guid rule must all be value-transparent.
    * The crawl family's discovery input beside sitemaps. */
  private[graft] def feedParse(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    import graft.operators.Feed
    val base = 1055217600L
    def esc(t: String): String = t.replace("&", "&amp;")
      .replace("<", "&lt;").replace(">", "&gt;")
    asciiDocs(s, dir)
      .map { case (id, t) => (id / 8, id, t) }
      .groupByKey(_._1)
      .mapGroups { (cid: Long, it: Iterator[(Long, Long, String)]) =>
        val docs = it.toSeq.sortBy(_._2)
        val xml = if (cid % 2 == 0) {
          val items = docs.map { case (_, id, t) =>
            val when = java.time.format.DateTimeFormatter
              .RFC_1123_DATE_TIME.format(java.time.ZonedDateTime
                .ofInstant(java.time.Instant.ofEpochSecond(base + id),
                  java.time.ZoneOffset.UTC))
            val enc = if (id % 3 == 0)
              s"""<enclosure url="https://ex.com/$id.mp3" """ +
                s"""length="${id * 10 + 1}" type="audio/mpeg"/>"""
            else ""
            s"""<item><title>doc $id</title>""" +
              s"""<link>https://ex.com/$id</link>""" +
              s"""<guid>urn:doc:$id</guid>""" +
              s"""<pubDate>$when</pubDate>""" +
              s"""<description>${esc(t)}</description>""" +
              enc + s"""<category>c${id % 5}</category></item>"""
          }
          s"""<?xml version="1.0"?><rss version="2.0"><channel>""" +
            s"""<title>chunk $cid</title>${items.mkString}""" +
            "</channel></rss>"
        } else {
          val entries = docs.map { case (_, id, t) =>
            val when = java.time.Instant.ofEpochSecond(base + id)
              .toString
            val enc = if (id % 3 == 0)
              s"""<link rel="enclosure" href="https://ex.com/$id.mp3" """ +
                s"""length="${id * 10 + 1}" type="audio/mpeg"/>"""
            else ""
            s"""<entry><title>doc $id</title>""" +
              s"""<link rel="alternate" href="https://ex.com/$id"/>""" +
              enc +
              s"""<id>urn:doc:$id</id>""" +
              s"""<published>$when</published>""" +
              s"""<summary>${esc(t)}</summary>""" +
              s"""<category term="c${id % 5}"/></entry>"""
          }
          s"""<?xml version="1.0"?>""" +
            s"""<feed xmlns="http://www.w3.org/2005/Atom">""" +
            s"""<title>chunk $cid</title>${entries.mkString}</feed>"""
        }
        (cid, xml)
      }
      .flatMap { case (cid, xml) =>
        val f = Feed.parse(xml).getOrElse(
          sys.error(s"feed rejected chunk $cid"))
        require(f.title == s"chunk $cid" &&
          f.kind == (if (cid % 2 == 0) "rss" else "atom"))
        f.entries.map { e =>
          val id = e.id.stripPrefix("urn:doc:").toLong
          require(e.title == s"doc $id" &&
            e.link == s"https://ex.com/$id")
          val d = java.security.MessageDigest.getInstance("MD5")
          (id, f.kind, e.epochS - base,
            d.digest(e.summary.getBytes("UTF-8"))
              .map("%02x".format(_)).mkString,
            if (e.enclosureUrl.nonEmpty) e.enclosureBytes else -1L,
            e.categories.mkString(","))
        }
      }
      .toDF("doc_id", "feed_type", "ts_off", "text_md5",
        "enclosure_bytes", "cats")
      .orderBy("doc_id")
  }
  /** WET + WAT derivative ingestion (operators/Warc +
    * [[graft.operators.JsonMini]]): Common Crawl publishes each
    * crawl THREE ways — the raw `.warc`, the extracted-text `.wet`
    * (WARC `conversion` records, text body, no HTTP envelope) and
    * the metadata `.wat` (WARC `metadata` records, JSON envelope).
    * Per 16-doc chunk both derivative archives are built (gzip
    * members on even chunks), walked back by the SAME record walker
    * as the raw path (status −1 marks no-HTTP-envelope bodies), the
    * WAT JSON parsed by the shared reader, and the two record
    * streams JOIN on the target URI — text facts from WET, title +
    * link count from WAT. Any framing, non-HTTP body-offset or JSON
    * fault flips a fact. */
  private[graft] def wetWatExtract(s: SparkSession, dir: String)
      : DataFrame = {
    val spark = s
    import spark.implicits._
    import graft.operators.{JsonMini, Warc}
    asciiDocs(s, dir)
      .map { case (id, t) => (id / 16, id, t) }
      .groupByKey(_._1)
      .mapGroups { (cid: Long, it: Iterator[(Long, Long, String)]) =>
        val docs = it.toSeq.sortBy(_._2)
        val gz = cid % 2 == 0
        val wet = Warc.buildArchive(docs.map { case (_, id, t) =>
          Warc.buildConversionRecord(id, s"http://ex.com/$id", t)
        }, gzip = gz)
        val wat = Warc.buildArchive(docs.map { case (_, id, t) =>
          val links = (0L until id % 4).map(k =>
            s"""{"url":${JsonMini.quote(s"http://ex.com/$id/$k")}}""")
            .mkString("[", ",", "]")
          val json =
            s"""{"Envelope":{"Payload-Metadata":{"HTML-Metadata":""" +
              s"""{"Head":{"Title":${JsonMini.quote(s"doc $id")}},""" +
              s""""Links":$links}}}}"""
          Warc.buildMetadataRecord(id, s"http://ex.com/$id", json)
        }, gzip = gz)
        (cid, wet, wat)
      }
      .flatMap { case (cid, wetBytes, watBytes) =>
        val wet = Warc.parseArchiveBodies(wetBytes)
        val watRecs = Warc.parseArchive(watBytes)
        require(watRecs.forall(r => r.warcType == "metadata" &&
          r.httpStatus == -1), s"wat framing broke in chunk $cid")
        val wat = Warc.parseArchiveBodies(watBytes).toMap
        wet.map { case (uri, text) =>
          val id = uri.stripPrefix("http://ex.com/").toLong
          val json = wat.getOrElse(uri,
            sys.error(s"no wat record for $uri"))
          val env = JsonMini.parse(json).flatMap(JsonMini.obj)
            .getOrElse(sys.error(s"wat json rejected for $uri"))
          val htmlMd = JsonMini.obj(env("Envelope")).get
          val payload = JsonMini.obj(htmlMd("Payload-Metadata")).get
          val html = JsonMini.obj(payload("HTML-Metadata")).get
          val title = JsonMini.str(JsonMini.obj(html("Head")).get
            .apply("Title")).get
          val nLinks = JsonMini.arr(html("Links")).get.length
          val d = java.security.MessageDigest.getInstance("MD5")
          (id, text.length.toLong,
            d.digest(text.getBytes("UTF-8")).map("%02x".format(_))
              .mkString,
            title, nLinks)
        }
      }
      .toDF("doc_id", "text_len", "text_md5", "title", "n_links")
      .orderBy("doc_id")
  }
  /** The PRODUCTION WARC input path, end-to-end: real `.warc.gz` files
    * on disk → `spark.read.format("binaryFile")` → [[operators.Warc
    * .parseArchive]] flatMap. Identical output contract (and oracle) to
    * warc_parse_gzip — proving the file layer is transparent — but here
    * the archives are genuine FILES, the Common Crawl shape: one task
    * per archive file, payloads parsed and fingerprinted in place,
    * never shuffled. */
  private[graft] def warcParseFiles(s: SparkSession, dir: String): DataFrame = {
    val files = warcFixtureDir(s, dir)
    // binaryFile packs all the small archives into one input split
    // (size-based packing); spread by path so the gunzip+md5 walk
    // parallelizes — on a real crawl the archives are ≥ 1 GB each and
    // arrive one-per-split, making this a no-op cost
    parseWarcFileRows(
      s.read.format("binaryFile").option("pathGlobFilter", "*.warc.gz").load(files)
        .repartition(col("path")))
      .orderBy("doc_id")
  }
  /** The archive-file parse stage shared by the batch query and its
    * file-streaming twin (WarcFileStreamSpec): (path, content) binary
    * rows → per-record facts, one flatMap, archives never shuffled.
    * Works unchanged on a `readStream` input — the streaming source
    * shares the plan. */
  private[graft] def parseWarcFileRows(files: DataFrame): DataFrame = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val name = path.substring(path.lastIndexOf('/') + 1)
        val aid = name.stripPrefix("arch-").stripSuffix(".warc.gz").toLong
        graft.operators.Warc.parseArchive(bytes).zipWithIndex.map {
          case (r, i) =>
            (r.uri.substring(r.uri.lastIndexOf('/') + 1).toLong,
              aid, i.toLong, r.uri, r.warcType, r.contentLength,
              r.httpStatus, r.bodyLen, r.bodyMd5)
        }
      }
      .toDF("doc_id", "arch_id", "rec_pos", "uri", "warc_type",
        "content_length", "http_status", "body_len", "body_md5")
  }
  /** The `.warc.gz` layout: every record its own gzip member, members
    * concatenated — identical parsed output proves the decompression
    * layer is transparent to the record walk. */
  private[graft] def warcParseGzip(s: SparkSession, dir: String): DataFrame =
    warcParse(s, dir, gzip = true)
  /** The `.warc.zst` twin (Common Crawl's newer transport): each
    * record zstd-framed by zstd-jni (level 9 — real entropy coding),
    * frames concatenated, OUR RFC 8878 decoder unwraps inside the
    * record walk. Identical oracle — the transport must be invisible
    * to every record fact. */
  private[graft] def warcParseZst(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    Tables.documents(s, dir).select("doc_id", "text")
      .as[(Long, String)]
      .map { case (id, t) =>
        (id / 16, id, com.github.luben.zstd.Zstd.compress(
          graft.operators.Warc.buildRecord(
            id, s"http://ex${id % 7}.com/doc/$id", t.getBytes("UTF-8")),
          9))
      }
      .groupByKey(_._1)
      .flatMapGroups { (aid: Long, it: Iterator[(Long, Long, Array[Byte])]) =>
        val out = new java.io.ByteArrayOutputStream()
        it.toSeq.sortBy(_._2).foreach(r => out.write(r._3))
        graft.operators.Warc.parseArchive(out.toByteArray)
          .zipWithIndex.map { case (r, i) =>
            (r.uri.substring(r.uri.lastIndexOf('/') + 1).toLong,
              aid, i.toLong, r.uri, r.warcType, r.contentLength,
              r.httpStatus, r.bodyLen, r.bodyMd5)
          }
      }
      .toDF("doc_id", "arch_id", "rec_pos", "uri", "warc_type",
        "content_length", "http_status", "body_len", "body_md5")
      .orderBy("doc_id")
  }
  /** CDC chunk-extraction CTE chain for oracle SQL: chunks of column
    * `col` of CTE `d`, emitted as `{p}ch(doc_id, j, chunk)`. The
    * rolling-hash, cut and slicing conventions of the cdc_chunks
    * oracle, parameterized for multi-version deltas. */
  private[graft] def cdcChunkSql(col: String, p: String): String =
    s"""${p}w AS (
       |  SELECT doc_id, u.i,
       |    ${charFoldDuck(s"substr($col, CAST(u.i + 1 AS INT), 8)")} AS h
       |  FROM d, LATERAL unnest(range(0,
       |    greatest(length($col) - 7, 0))) AS u(i)),
       |${p}c AS (SELECT doc_id, i + 8 AS cut FROM ${p}w WHERE h % 64 = 0),
       |${p}b AS (
       |  SELECT d.doc_id, d.$col AS t,
       |    list_sort(list_distinct(list_append(list_prepend(
       |      CAST(0 AS BIGINT),
       |      coalesce(list(${p}c.cut ORDER BY ${p}c.cut), [])),
       |      CAST(length(d.$col) AS BIGINT)))) AS bs
       |  FROM d LEFT JOIN ${p}c USING (doc_id)
       |  GROUP BY d.doc_id, d.$col),
       |${p}ch AS (
       |  SELECT doc_id, u.j,
       |    substr(t, CAST(bs[CAST(u.j + 1 AS INT)] + 1 AS INT),
       |      CAST(bs[CAST(u.j + 2 AS INT)] - bs[CAST(u.j + 1 AS INT)]
       |        AS INT)) AS chunk
       |  FROM ${p}b, LATERAL unnest(range(0, len(bs) - 1)) AS u(j))"""
      .stripMargin

  /** This part's oracle SQL entries (the `oracleSql` slice). */
  private[graft] def webOracleSql: Map[String, String] = Map(
    "url_normalize" -> {
      // the canonical form constructed analytically from the fixture
      """SELECT doc_id,
        |  'http://www.ex' || (doc_id % 7) || '.com' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END) ||
        |    '/Dir' || (length(text) % 5) || '/page?a=1&b=' ||
        |    (length(text) % 9) AS norm_url,
        |  'ex' || (doc_id % 7) || '.com' AS host_key
        |FROM documents
        |WHERE length(text) = strlen(text) AND length(text) > 0
        |ORDER BY doc_id""".stripMargin
    },
    "url_surt" -> {
      // SURT of the canonical form: reversed host labels, non-default
      // port kept, ')' then path?query — ordered by the key itself
      """SELECT doc_id,
        |  'com,ex' || (doc_id % 7) || ',www' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END) ||
        |    ')/dir' || (length(text) % 5) || '/page?a=1&b=' ||
        |    (length(text) % 9) AS surt
        |FROM documents
        |WHERE length(text) = strlen(text) AND length(text) > 0
        |ORDER BY surt, doc_id""".stripMargin
    },
    "url_host_counts" -> {
      """WITH u AS (
        |  SELECT 'ex' || (doc_id % 7) || '.com' AS host_key,
        |    'http://www.ex' || (doc_id % 7) || '.com' ||
        |      (CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END) ||
        |      '/Dir' || (length(text) % 5) || '/page?a=1&b=' ||
        |      (length(text) % 9) AS norm_url
        |  FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0)
        |SELECT host_key, count(*) AS n_urls,
        |  count(DISTINCT norm_url) AS n_unique
        |FROM u GROUP BY host_key ORDER BY host_key""".stripMargin
    },
    "line_dedup" -> {
      // the oracle's first-occurrence walk: row_number over each line's
      // occurrences under (doc_id, line_no); rn=1 is the keeper
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (
        |  SELECT doc_id, u.j AS line_no,
        |    array_to_string(ws[(u.j * 3 + 1):(u.j * 3 + 3)], ' ') AS line
        |  FROM d, LATERAL unnest(range(0, (len(ws) - 1) // 3 + 1)) AS u(j)),
        |k AS (
        |  SELECT doc_id, line_no, line FROM (
        |    SELECT *, row_number() OVER (PARTITION BY line
        |      ORDER BY doc_id, line_no) AS rn FROM l) WHERE rn = 1),
        |ka AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(line, chr(10) ORDER BY line_no) AS txt
        |  FROM k GROUP BY doc_id)
        |SELECT d.doc_id, (len(ws) - 1) // 3 + 1 AS n_lines,
        |  coalesce(ka.n_kept, 0) AS n_kept,
        |  md5(coalesce(ka.txt, '')) AS out_md5
        |FROM d LEFT JOIN ka ON d.doc_id = ka.doc_id
        |ORDER BY d.doc_id""".stripMargin
    },
    "line_boilerplate" -> {
      // boilerplate = a line present in >= 3 DISTINCT docs, removed
      // from every doc
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |l AS (
        |  SELECT doc_id, u.j AS line_no,
        |    array_to_string(ws[(u.j * 3 + 1):(u.j * 3 + 3)], ' ') AS line
        |  FROM d, LATERAL unnest(range(0, (len(ws) - 1) // 3 + 1)) AS u(j)),
        |f AS (SELECT line, count(DISTINCT doc_id) AS df FROM l GROUP BY line)
        |SELECT l.doc_id, count(*) AS n_lines,
        |  CAST(sum(CASE WHEN f.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  md5(coalesce(string_agg(CASE WHEN f.df < 3 THEN l.line END,
        |    chr(10) ORDER BY l.line_no), '')) AS out_md5
        |FROM l JOIN f ON l.line = f.line
        |GROUP BY l.doc_id ORDER BY l.doc_id""".stripMargin
    },
    "sitemap_parse" -> {
      // each entry rebuilt analytically: pos 0 has the entity-decoded
      // query, pos 1 lastmod+priority, pos 2 the changefreq default
      """WITH d AS (
        |  SELECT doc_id, length(text) AS len FROM documents),
        |u AS (
        |  SELECT doc_id, len, v.pos
        |  FROM d, LATERAL unnest(range(0, 3)) AS v(pos))
        |SELECT doc_id, pos,
        |  CASE pos
        |    WHEN 0 THEN 'http://ex' || (doc_id % 7) || '.com/p?a=1&b='
        |      || len
        |    WHEN 1 THEN 'http://ex' || (doc_id % 7) || '.com/q'
        |    ELSE 'http://ex' || (doc_id % 7) || '.com/r' END AS loc,
        |  CASE pos WHEN 1 THEN '2026-01-' ||
        |    lpad(CAST(1 + len % 28 AS VARCHAR), 2, '0')
        |    ELSE '' END AS lastmod,
        |  CASE pos WHEN 2 THEN 'daily' ELSE '' END AS changefreq,
        |  CASE pos WHEN 1 THEN (len % 10) * 100000
        |    ELSE 500000 END AS priority_ppm
        |FROM u ORDER BY doc_id, pos""".stripMargin
    },
    "crawl_schedule" -> {
      // the frontier walk (fetchable survivors) feeding the per-host
      // closed-form schedule
      """WITH d AS (
        |  SELECT doc_id, length(text) AS len FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0),
        |u AS (
        |  SELECT doc_id, v.v AS variant, len,
        |    'http://www.ex' || (doc_id % 7) || '.com' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END) ||
        |    '/Dir' || (len % 5) ||
        |    (CASE WHEN v.v = 2 THEN '/page2' ELSE '/page' END) ||
        |    '?a=1&b=' || (len % 9) AS canon
        |  FROM d, LATERAL unnest(range(0, 3)) AS v(v)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY canon
        |    ORDER BY doc_id, variant) AS rn FROM u),
        |f AS (
        |  SELECT doc_id, variant,
        |    'ex' || (doc_id % 7) || '.com' AS host_key,
        |    (doc_id // 7) * 800 + variant * 50 AS t_ms
        |  FROM r
        |  WHERE NOT (len % 5 = 1 OR (len % 5 = 3 AND variant = 2))
        |    AND rn = 1),
        |g AS (
        |  SELECT *, row_number() OVER (PARTITION BY host_key
        |    ORDER BY t_ms, doc_id, variant) - 1 AS k FROM f),
        |m AS (
        |  SELECT *, 1000 * k + max(t_ms - 1000 * k)
        |    OVER (PARTITION BY host_key
        |      ORDER BY t_ms, doc_id, variant) AS sched_ms FROM g)
        |SELECT doc_id, variant, host_key, t_ms, sched_ms
        |FROM m ORDER BY doc_id, variant""".stripMargin
    },
    "crawl_loop_sitemap" -> {
      // the whole discovery chain replayed analytically: canonical
      // forms (v0/v1 collide by design, v2 lands in the sibling dir),
      // robots per dir class (GraftBot's group shadows '*'; /page
      // always re-allowed in Dir3), keeper = first (doc_id, pos) per
      // canonical, then the per-host closed-form schedule
      """WITH d AS (
        |  SELECT doc_id, length(text) AS len FROM documents),
        |u AS (
        |  SELECT doc_id, v.v AS pos, len,
        |    CASE WHEN v.v = 2 THEN (len % 5 + 1) % 5 ELSE len % 5 END
        |      AS dir,
        |    'http://ex' || (doc_id % 7) || '.com/Dir' ||
        |    (CASE WHEN v.v = 2 THEN (len % 5 + 1) % 5 ELSE len % 5 END) ||
        |    '/page?a=1&b=' || (len % 9) AS canon
        |  FROM d, LATERAL unnest(range(0, 3)) AS v(v)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY canon
        |    ORDER BY doc_id, pos) AS rn FROM u),
        |f AS (
        |  SELECT doc_id, pos, canon,
        |    'ex' || (doc_id % 7) || '.com' AS host_key,
        |    (doc_id // 7) * 800 + pos * 50 AS t_ms
        |  FROM r WHERE rn = 1 AND dir <> 1),
        |g AS (
        |  SELECT *, row_number() OVER (PARTITION BY host_key
        |    ORDER BY t_ms, doc_id, pos) - 1 AS k FROM f),
        |m AS (
        |  SELECT *, 1000 * k + max(t_ms - 1000 * k)
        |    OVER (PARTITION BY host_key
        |      ORDER BY t_ms, doc_id, pos) AS sched_ms FROM g)
        |SELECT doc_id, pos, host_key, canon, t_ms, sched_ms
        |FROM m ORDER BY doc_id, pos""".stripMargin
    },
    "polite_schedule" -> {
      // s_i = max(t_i, s_{i-1} + D) via the closed form
      // D*i + prefixmax(t_j - D*j)
      """WITH d AS (
        |  SELECT doc_id, 'ex' || (doc_id % 7) || '.com' AS host_key,
        |    (doc_id // 7) * 800 + (length(text) % 400) AS t_ms
        |  FROM documents),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY host_key
        |    ORDER BY t_ms, doc_id) - 1 AS rn FROM d),
        |m AS (
        |  SELECT *, 1000 * rn + max(t_ms - 1000 * rn)
        |    OVER (PARTITION BY host_key ORDER BY t_ms, doc_id)
        |    AS sched_ms FROM r)
        |SELECT doc_id, host_key, t_ms, sched_ms,
        |  sched_ms - t_ms AS delay_ms
        |FROM m ORDER BY doc_id""".stripMargin
    },
    "crawl_frontier" -> {
      // canonical forms constructed analytically (v0/v1 collide by
      // design), robots outcome per path class (GraftBot's group
      // shadows '*'), keeper = first (doc_id, variant) per canonical
      """WITH d AS (
        |  SELECT doc_id, length(text) AS len FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0),
        |u AS (
        |  SELECT doc_id, v.v AS variant, len,
        |    'http://www.ex' || (doc_id % 7) || '.com' ||
        |    (CASE WHEN doc_id % 2 = 0 THEN '' ELSE ':8080' END) ||
        |    '/Dir' || (len % 5) ||
        |    (CASE WHEN v.v = 2 THEN '/page2' ELSE '/page' END) ||
        |    '?a=1&b=' || (len % 9) AS canon
        |  FROM d, LATERAL unnest(range(0, 3)) AS v(v)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY canon
        |    ORDER BY doc_id, variant) AS rn FROM u)
        |SELECT doc_id, variant, canon,
        |  NOT (len % 5 = 1 OR (len % 5 = 3 AND variant = 2)) AS allowed,
        |  rn > 1 AS is_dup,
        |  NOT (len % 5 = 1 OR (len % 5 = 3 AND variant = 2)) AND rn = 1
        |    AS fetch
        |FROM r ORDER BY doc_id, variant""".stripMargin
    },
    "robots_decisions" -> {
      // closed-form outcomes: GraftBot's group shadows '*' entirely —
      // /Dir1,/Dir3 disallowed but /Dir3/page re-allowed by the longer
      // wildcard Allow; otherbot sees only the '*' group (/Dir2,/Dir4)
      """SELECT doc_id,
        |  '/Dir' || (length(text) % 5) || '/page' AS path,
        |  (length(text) % 5) <> 1 AS graft_allowed,
        |  (length(text) % 5) NOT IN (2, 4) AS other_allowed
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "web_ingest_dag" -> {
      // analytic recompute of the whole chain: the wrap+extract pair
      // is exactly invertible, so the extracted text is
      // 'Doc {id} Header {id%10} {text}' and the rest is the
      // line_dedup walk plus the token/retention gate
      """WITH x AS (
        |  SELECT doc_id, 'Doc ' || doc_id || ' Header ' || (doc_id % 10)
        |    || ' ' || text AS xt
        |  FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0),
        |d AS (SELECT doc_id, string_split(xt, ' ') AS ws FROM x),
        |l AS (
        |  SELECT doc_id, u.j AS line_no,
        |    array_to_string(ws[(u.j * 3 + 1):(u.j * 3 + 3)], ' ') AS line
        |  FROM d, LATERAL unnest(range(0, (len(ws) - 1) // 3 + 1)) AS u(j)),
        |k AS (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, row_number() OVER (PARTITION BY line
        |      ORDER BY doc_id, line_no) AS rn FROM l) WHERE rn = 1),
        |ka AS (SELECT doc_id, count(*) AS n_kept FROM k GROUP BY doc_id)
        |SELECT d.doc_id, len(ws) AS n_tokens,
        |  (len(ws) - 1) // 3 + 1 AS n_lines,
        |  coalesce(ka.n_kept, 0) AS n_kept,
        |  (len(ws) >= 24 AND coalesce(ka.n_kept, 0) * 2
        |    >= (len(ws) - 1) // 3 + 1) AS keep
        |FROM d LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin
    },
    "cdc_delta" -> s"""WITH d AS (
      |  SELECT doc_id, text,
      |    CASE WHEN doc_id % 3 = 0 THEN 'upd ' || text ELSE text END
      |      AS text2
      |  FROM documents
      |  WHERE length(text) = strlen(text) AND length(text) > 0),
      |${cdcChunkSql("text", "a")},
      |${cdcChunkSql("text2", "b")},
      |g1 AS (SELECT doc_id, chunk, count(*) AS n1 FROM ach
      |       GROUP BY doc_id, chunk),
      |g2 AS (SELECT doc_id, chunk, count(*) AS n2 FROM bch
      |       GROUP BY doc_id, chunk),
      |j AS (
      |  SELECT g2.doc_id, g2.chunk, g2.n2, coalesce(g1.n1, 0) AS n1
      |  FROM g2 LEFT JOIN g1 USING (doc_id, chunk))
      |SELECT doc_id, doc_id % 3 = 0 AS changed,
      |  CAST(sum(n2) AS BIGINT) AS n_chunks_v2,
      |  CAST(sum(least(n1, n2)) AS BIGINT) AS shared_chunks,
      |  CAST(sum((n2 - least(n1, n2)) * length(chunk)) AS BIGINT)
      |    AS transfer_bytes
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "cdc_chunks" -> s"""WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE length(text) = strlen(text) AND length(text) > 0),
      |w AS (
      |  SELECT doc_id, u.i,
      |    ${charFoldDuck("substr(text, CAST(u.i + 1 AS INT), 8)")} AS h
      |  FROM d, LATERAL unnest(range(0, greatest(n - 7, 0))) AS u(i)),
      |c AS (SELECT doc_id, i + 8 AS cut FROM w WHERE h % 64 = 0),
      |b AS (
      |  SELECT d.doc_id, d.text,
      |    list_sort(list_distinct(list_append(list_prepend(
      |      CAST(0 AS BIGINT),
      |      coalesce(list(c.cut ORDER BY c.cut), [])),
      |      CAST(d.n AS BIGINT)))) AS bs
      |  FROM d LEFT JOIN c USING (doc_id) GROUP BY d.doc_id, d.text, d.n),
      |ch AS (
      |  SELECT doc_id, u.j,
      |    substr(text, CAST(bs[CAST(u.j + 1 AS INT)] + 1 AS INT),
      |      CAST(bs[CAST(u.j + 2 AS INT)] - bs[CAST(u.j + 1 AS INT)]
      |        AS INT)) AS chunk
      |  FROM b, LATERAL unnest(range(0, len(bs) - 1)) AS u(j))
      |SELECT doc_id, count(*) AS n_chunks,
      |  CAST(sum(length(chunk)) AS BIGINT) AS total_bytes,
      |  md5(string_agg(md5(chunk), ' ' ORDER BY j)) AS chunks_md5
      |FROM ch GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "cdc_dedup" -> s"""WITH d AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE length(text) = strlen(text) AND length(text) > 0),
      |w AS (
      |  SELECT doc_id, u.i,
      |    ${charFoldDuck("substr(text, CAST(u.i + 1 AS INT), 8)")} AS h
      |  FROM d, LATERAL unnest(range(0, greatest(n - 7, 0))) AS u(i)),
      |c AS (SELECT doc_id, i + 8 AS cut FROM w WHERE h % 64 = 0),
      |b AS (
      |  SELECT d.doc_id, d.text,
      |    list_sort(list_distinct(list_append(list_prepend(
      |      CAST(0 AS BIGINT),
      |      coalesce(list(c.cut ORDER BY c.cut), [])),
      |      CAST(d.n AS BIGINT)))) AS bs
      |  FROM d LEFT JOIN c USING (doc_id) GROUP BY d.doc_id, d.text, d.n),
      |ch AS (
      |  SELECT substr(text, CAST(bs[CAST(u.j + 1 AS INT)] + 1 AS INT),
      |      CAST(bs[CAST(u.j + 2 AS INT)] - bs[CAST(u.j + 1 AS INT)]
      |        AS INT)) AS chunk
      |  FROM b, LATERAL unnest(range(0, len(bs) - 1)) AS u(j)),
      |g AS (SELECT chunk, count(*) AS copies FROM ch GROUP BY chunk)
      |SELECT CAST(sum(copies) AS BIGINT) AS total_chunks,
      |  count(*) AS unique_chunks,
      |  CAST(sum(copies * length(chunk)) AS BIGINT) AS total_bytes,
      |  CAST(sum(length(chunk)) AS BIGINT) AS unique_bytes
      |FROM g""".stripMargin,
    "content_sniff" -> {
      // sniffed type predicted purely from the container rotation;
      // class 10 is the deliberate mislabel (raw text declared png);
      // classes 11-16 are the round-11 container/codec formats,
      // 17-21 the round-12 additions (Arrow, xz, npy, gguf, sqlite)
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 22 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/jpeg'
        |    WHEN 4 THEN 'image/tiff' WHEN 5 THEN 'audio/wav'
        |    WHEN 6 THEN 'image/webp' WHEN 7 THEN 'video/mp4'
        |    WHEN 8 THEN 'audio/mpeg' WHEN 9 THEN 'application/warc'
        |    WHEN 10 THEN 'image/png'
        |    WHEN 11 THEN 'application/avro' WHEN 12 THEN 'application/zip'
        |    WHEN 13 THEN 'application/x-lz4'
        |    WHEN 14 THEN 'application/x-snappy-framed'
        |    WHEN 15 THEN 'audio/flac'
        |    WHEN 16 THEN 'application/ogg'
        |    WHEN 17 THEN 'application/vnd.apache.arrow.file'
        |    WHEN 18 THEN 'application/x-xz'
        |    WHEN 19 THEN 'application/x-npy'
        |    WHEN 20 THEN 'application/x-gguf'
        |    ELSE 'application/vnd.sqlite3' END AS declared,
        |  CASE doc_id % 22 WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
        |    WHEN 2 THEN 'image/gif' WHEN 3 THEN 'image/jpeg'
        |    WHEN 4 THEN 'image/tiff' WHEN 5 THEN 'audio/wav'
        |    WHEN 6 THEN 'image/webp' WHEN 7 THEN 'video/mp4'
        |    WHEN 8 THEN 'audio/mpeg' WHEN 9 THEN 'application/warc'
        |    WHEN 10 THEN 'application/octet-stream'
        |    WHEN 11 THEN 'application/avro' WHEN 12 THEN 'application/zip'
        |    WHEN 13 THEN 'application/x-lz4'
        |    WHEN 14 THEN 'application/x-snappy-framed'
        |    WHEN 15 THEN 'audio/flac'
        |    WHEN 16 THEN 'application/ogg'
        |    WHEN 17 THEN 'application/vnd.apache.arrow.file'
        |    WHEN 18 THEN 'application/x-xz'
        |    WHEN 19 THEN 'application/x-npy'
        |    WHEN 20 THEN 'application/x-gguf'
        |    ELSE 'application/vnd.sqlite3' END AS sniffed,
        |  doc_id % 22 <> 10 AS label_ok
        |FROM documents
        |WHERE length(text) = strlen(text) AND length(text) > 0
        |ORDER BY media_id""".stripMargin
    },
    "warc_parse" -> {
      // WARC Content-Length = HTTP envelope (63 fixed bytes + the
      // body-length digits) + body bytes; rec_pos = doc rank within
      // its 16-doc archive
      """SELECT doc_id,
        |  doc_id // 16 AS arch_id,
        |  row_number() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |    - 1 AS rec_pos,
        |  'http://ex' || (doc_id % 7) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  63 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text)
        |    AS content_length,
        |  CAST(200 AS INT) AS http_status,
        |  strlen(text) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "warc_cdx" -> {
      // closed-form record framing (verified byte-exact against the
      // builder): http envelope = 63 + digits(body) + body bytes;
      // whole record = 173 + 2*digits(doc_id) + digits(clen) + clen;
      // offsets are the running sum of earlier records in the archive
      """WITH r AS (
        |  SELECT doc_id, doc_id // 16 AS arch_id, text,
        |    63 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text)
        |      AS clen
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, arch_id, text,
        |    173 + 2 * length(CAST(doc_id AS VARCHAR))
        |      + length(CAST(clen AS VARCHAR)) + clen AS rec_len
        |  FROM r)
        |SELECT 'com,ex' || (doc_id % 7) || ')/doc/' || doc_id AS surt,
        |  arch_id,
        |  CAST(COALESCE(sum(rec_len) OVER (PARTITION BY arch_id
        |    ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS rec_off,
        |  rec_len, md5(text) AS digest, CAST(200 AS INT) AS http_status
        |FROM f ORDER BY surt, arch_id""".stripMargin
    },
    "warc_parse_gzip" -> {
      // identical facts — the per-record-gzip-member layout must be
      // transparent to the record walk
      """SELECT doc_id,
        |  doc_id // 16 AS arch_id,
        |  row_number() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |    - 1 AS rec_pos,
        |  'http://ex' || (doc_id % 7) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  63 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text)
        |    AS content_length,
        |  CAST(200 AS INT) AS http_status,
        |  strlen(text) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "warc_parse_zst" -> {
      // identical facts — the per-record zstd-frame layout (the
      // Common Crawl .warc.zst shape) must be transparent too
      """SELECT doc_id,
        |  doc_id // 16 AS arch_id,
        |  row_number() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |    - 1 AS rec_pos,
        |  'http://ex' || (doc_id % 7) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  63 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text)
        |    AS content_length,
        |  CAST(200 AS INT) AS http_status,
        |  strlen(text) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin
    },
    "wet_wat_extract" -> {
      // both Common Crawl derivatives joined on the target URI:
      // text facts from WET conversion records, title/link-count
      // from WAT JSON envelopes
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0)
        |SELECT doc_id, strlen(text) AS text_len,
        |  md5(text) AS text_md5,
        |  'doc ' || doc_id AS title,
        |  CAST(doc_id % 4 AS INT) AS n_links
        |FROM d ORDER BY doc_id""".stripMargin
    },
    "feed_parse" -> {
      // 8-doc RSS/Atom chunks by parity; every fact from PARSED
      // entries (escaped text md5, date-grammar offsets, enclosure
      // on every 3rd doc, category)
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0)
        |SELECT doc_id,
        |  CASE WHEN (doc_id // 8) % 2 = 0 THEN 'rss'
        |    ELSE 'atom' END AS feed_type,
        |  doc_id AS ts_off, md5(text) AS text_md5,
        |  CASE WHEN doc_id % 3 = 0 THEN doc_id * 10 + 1
        |    ELSE -1 END AS enclosure_bytes,
        |  'c' || (doc_id % 5) AS cats
        |FROM d ORDER BY doc_id""".stripMargin
    },
    // OUR bzip2 multistream + MediaWiki export-schema scanner: ids,
    // namespaces, redirects and wikitext all from PARSED pages
    "wikidump_parse" ->
      """WITH d AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE length(text) = strlen(text) AND length(text) > 0)
        |SELECT doc_id, doc_id // 8 AS shard_id,
        |  CAST(doc_id % 3 AS BIGINT) AS ns,
        |  doc_id % 13 = 9 AS is_redirect,
        |  'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |  CAST(strlen(text) AS BIGINT) AS n_chars,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    w -> w <> '')) AS BIGINT) AS n_words
        |FROM d ORDER BY doc_id""".stripMargin,
    "warc_parse_files" -> {
      // identical facts again — real .warc.gz FILES through the
      // binaryFile source must parse exactly like in-query archives
      """SELECT doc_id,
        |  doc_id // 16 AS arch_id,
        |  row_number() OVER (PARTITION BY doc_id // 16 ORDER BY doc_id)
        |    - 1 AS rec_pos,
        |  'http://ex' || (doc_id % 7) || '.com/doc/' || doc_id AS uri,
        |  'response' AS warc_type,
        |  63 + length(CAST(strlen(text) AS VARCHAR)) + strlen(text)
        |    AS content_length,
        |  CAST(200 AS INT) AS http_status,
        |  strlen(text) AS body_len,
        |  md5(text) AS body_md5
        |FROM documents ORDER BY doc_id""".stripMargin
    }
  )
}
