package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Canonicalize, Constants, Fixtures, Parquet, Parsers}
import graft.operators.{CrawlConfig, CrawlLoop, Recrawl, Robots, Scheduler}

/** Crawl-engine query entries for SparkEntry — SURVEY.md §2 ops 1–51.
  *
  * Each entry reads only the driver's testdata in `sfDir` plus fixtures
  * deterministically derived from it (FIXTURES.md). The DuckDB oracle SQL
  * rebuilds the `pages` fixture relationally from `documents` (string
  * building is oracle-expressible; xxhash64-derived values are not — those
  * are embedded as frozen literals from FixtureConstants, or the query output
  * is kept hash-free; SURVEY.md §7 gotcha 5).
  *
  * NOTE: the oracle SQL assumes the no-skew fixture mapping and is valid at
  * sf0.001/sf0.01 (the driver's correctness sf); sf0.1 adds the skew remap
  * (FIXTURES.md B6) and is bench-only.
  */
object CrawlQueries {

  /** Shared DuckDB CTE rebuilding the pages fixture from `documents`. */
  private[queries] val PagesCte: String =
    """WITH pages AS (
      |  SELECT 'https://' || source || '.example.com/articles/' || doc_id AS url,
      |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) AS warc_ts,
      |         text, lang, source, doc_id
      |    FROM documents
      |  UNION ALL
      |  SELECT 'https://' || source || '.example.com/articles/' || doc_id || '?utm_source=feed&utm_campaign=x#frag',
      |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) + to_seconds(30),
      |         text, lang, source, doc_id
      |    FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT 'https://' || source || '.example.com/articles/' || regexp_replace(CAST(doc_id AS VARCHAR), '([0-9])', '%3\1', 'g'),
      |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) + to_seconds(45),
      |         text, lang, source, doc_id
      |    FROM documents WHERE doc_id % 11 = 7
      |  UNION ALL
      |  SELECT 'https://' || source || '.example.com/articles/' || doc_id,
      |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) + to_seconds(7200),
      |         text || ' updated', lang, source, doc_id
      |    FROM documents WHERE doc_id % 7 = 3
      |  UNION ALL
      |  SELECT DISTINCT 'https://' || source || '.example.com/',
      |         TIMESTAMP '2024-01-01 00:00:00', '', 'und', source, NULL
      |    FROM documents
      |),
      |canon AS (
      |  -- mirror of Canonicalize: drop query/fragment, guarded %-decode
      |  -- (fixture escapes are all digit escapes %30-%39), trim slashes
      |  SELECT pages.url AS raw_url,
      |         rtrim(regexp_replace(split_part(split_part(pages.url, '#', 1), '?', 1), '%3([0-9])', '\1', 'g'), '/') AS url,
      |         split_part(split_part(pages.url, '://', 2), '/', 1) AS host,
      |         warc_ts, text, lang
      |    FROM pages
      |),
      |hostdim AS (
      |  SELECT * FROM (VALUES %HOSTS%) AS t(host, weight, budget, crawl_delay, family)
      |)""".stripMargin.replace("%HOSTS%", graft.core.FixtureConstants.sqlValues)

  /** q151's EWMA smoothing factor — interpolated (with 1−α, evaluated
    * ONCE here) into the oracle so engine and oracle cannot drift. */
  val EwmaAlpha: Double = 0.3

  /** q155's per-IP politeness budget — interpolated into the oracle. */
  val IpBudget: Int = 40

  /** q191's cluster-wide fetch budget — interpolated into the oracle. */
  val FetchBudgetTotal: Long = 1000L

  /** q197's back-queue count (Mercator worker pool) — interpolated. */
  val MercatorBackQueues: Int = 4

  /** q198's global revisit budget (fetches/hour) — interpolated. */
  val RefreshBudgetPerHour: Double = 60.0

  /** q202's robots cache TTL (RFC 9309 §2.4's 24 h) — interpolated. */
  val RobotsTtlSec: Long = 86400L

  /** q205's AIMD politeness controller constants — interpolated. The
    * latency proxy is deterministic from the capture's text bytes
    * (100 + octet_length % 400 ms), so ~half the fixture captures cross
    * the 300 ms backoff threshold and both controller branches fire. */
  val AimdSlowMs = 300L
  val AimdInitMs = 1000L
  val AimdMinMs = 250L
  val AimdMaxMs = 8000L
  val AimdStepMs = 250L

  /** q157's CDX block size — interpolated into the oracle. */
  val CdxBlockSize: Int = 16

  /** q159's RFC 9309 rule set (same rules on every host — the oracle
    * states them as VALUES with hand-simplified equivalent regexes):
    * article urls ending in 0 are disallowed UNLESS ending in 00 (the
    * longer allow wins), /tag/ is a plain prefix disallow, and the empty
    * pattern is the len-0 allow-all baseline. */
  val RfcRules: Seq[(Boolean, String)] = Seq(
    (false, "/articles/*0$"),
    (true, "/articles/*00$"),
    (false, "/tag/"),
    (true, ""))

  /** q89's snapshot boundary and q90's NOW, as offsets from the fixture
    * EPOCH — chosen so every status regime appears at sf0.01: docs past
    * the boundary are 'added', recaptured docs straddling it are
    * 'changed', the rest 'unchanged'; for q90, changed urls (revisit =
    * observed interval) split due/not-due around NOW while
    * default-backoff urls (86400 s) are all not-due. */
  val SnapshotBoundarySec = 15000L
  val RecrawlNowSec = 40000L

  /** q181's soft-404 error template — the body substituted for doc_id %
    * 19 == 6 article captures, interpolated verbatim into the oracle (no
    * quotes, so it embeds in SQL string literals as-is). */
  val Soft404Template: String =
    "Page not found. The article you are looking for does not exist " +
      "or has been removed. Error 404."

  /** q176's high-water mark (offset from the fixture EPOCH) — 4 h in, so
    * the simulated re-delivery splits: early captures (incl. every
    * listing root at the epoch) quarantine as stragglers, later ones
    * pass as on-time. */
  val QuarantineHwmSec = 14400L

  private def pages(spark: SparkSession, sfDir: String): DataFrame =
    Fixtures.pages(spark, sfDir)

  /** q135's sitemap fixture — (host, url, xml), a pure function of the
    * documents rows: per host one `<sitemapindex>` referencing two
    * `<urlset>` parts (doc_id parity), entries carrying
    * loc/lastmod/changefreq/priority derived from doc_id (lastmod =
    * EPOCH + doc_id minutes; priority written as the exact decimal
    * string "0.{doc_id%10}"), a tracking-param loc for doc_id%5==0 rows
    * (canonicalization fodder), plus one ORPHAN urlset per host that no
    * index references and must be excluded. */
  private def sitemapFixture(s: SparkSession, dir: String): DataFrame = {
    val d = Parquet.read(s, s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host"),
        concat(lit("https://"), col("source"), lit(".example.com")).as("base"))
    val loc = concat(col("base"), lit("/articles/"), col("doc_id"),
      when(col("doc_id") % 5 === 0, lit("?utm_source=sitemap")).otherwise(lit("")))
    val lastmod = date_format(
      timestamp_seconds(lit(Constants.EPOCH.getEpochSecond) + col("doc_id") * 60L),
      "yyyy-MM-dd'T'HH:mm:ss'Z'")
    val freq = element_at(array(lit("daily"), lit("weekly"), lit("monthly")),
      (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
    val entry = concat(lit("<url><loc>"), loc, lit("</loc><lastmod>"), lastmod,
      lit("</lastmod><changefreq>"), freq, lit("</changefreq><priority>0."),
      pmod(col("doc_id"), lit(10)), lit("</priority></url>"))
    val urlsets = d.withColumn("part", pmod(col("doc_id"), lit(2)))
      .groupBy(col("host"), col("base"), col("part"))
      .agg(concat(lit("<urlset>"),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), entry.as("e")))),
          x => x.getField("e")), ""),
        lit("</urlset>")).as("xml"))
      .select(col("host"),
        concat(col("base"), lit("/sitemap_"), col("part"), lit(".xml")).as("url"),
        col("xml"))
    val hosts = d.select(col("host"), col("base")).distinct()
    val index = hosts.select(col("host"),
      concat(col("base"), lit("/sitemap_index.xml")).as("url"),
      concat(lit("<sitemapindex><sitemap><loc>"), col("base"),
        lit("/sitemap_0.xml</loc></sitemap><sitemap><loc>"), col("base"),
        lit("/sitemap_1.xml</loc></sitemap></sitemapindex>")).as("xml"))
    val orphan = hosts.select(col("host"),
      concat(col("base"), lit("/sitemap_orphan.xml")).as("url"),
      concat(lit("<urlset><url><loc>"), col("base"),
        lit("/orphan/1</loc><lastmod>2024-01-01T00:00:00Z</lastmod>" +
          "<changefreq>never</changefreq><priority>0.1</priority></url></urlset>"))
        .as("xml"))
    urlsets.unionAll(index).unionAll(orphan)
  }

  /** q134's redirect edge table — a pure function of doc_id over the raw
    * documents rows (no hashing, so the oracle rebuilds it verbatim):
    * per host, 1-hop (`/old/`), 2-hop (`/legacy/`→`/old2/`), and 3-hop
    * (`/l1/`→`/l2/`→`/l3/`) chains landing on the canonical article url,
    * plus a 2-cycle (`/a/`↔`/b/`) and a self-loop (`/self/`) that must
    * come out 'unresolved'. */
  private def redirectEdges(s: SparkSession, dir: String): DataFrame = {
    val d = Parquet.read(s, s"$dir/documents.parquet")
      .select(col("doc_id"),
        concat(lit("https://"), col("source"), lit(".example.com")).as("base"))
    val m = col("doc_id") % 17
    def u(seg: String) = concat(col("base"), lit(s"/$seg/"), col("doc_id"))
    val fin = concat(col("base"), lit("/articles/"), col("doc_id"))
    def e(sel: Int, src: org.apache.spark.sql.Column, dst: org.apache.spark.sql.Column) =
      d.filter(m === sel).select(src.as("src"), dst.as("dst"))
    e(1, u("old"), fin)
      .unionAll(e(2, u("legacy"), u("old2"))).unionAll(e(2, u("old2"), fin))
      .unionAll(e(3, u("l1"), u("l2"))).unionAll(e(3, u("l2"), u("l3")))
      .unionAll(e(3, u("l3"), fin))
      .unionAll(e(4, u("a"), u("b"))).unionAll(e(4, u("b"), u("a")))
      .unionAll(e(5, u("self"), u("self")))
  }

  private def fix(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Fixtures.table(spark, sfDir, name)

  /** Candidates over the whole corpus (wide Δ window), deduped+hashed. */
  private def allCandidates(spark: SparkSession, sfDir: String): DataFrame =
    Scheduler
      .deltaScan(pages(spark, sfDir), 0L, Constants.NowEpochSec)
      .withColumn("url_hash", Canonicalize.urlHash(col("url")))

  private def scheduleOnce(spark: SparkSession, sfDir: String): DataFrame = {
    val cfg = CrawlConfig()
    Scheduler
      .schedule(
        allCandidates(spark, sfDir),
        fix(spark, sfDir, "robots"),
        fix(spark, sfDir, "source_weights"),
        fix(spark, sfDir, "budgets"),
        cfg)
      .scheduled
  }

  /** Latest capture per canonical url (ops 14/16 "latest capture wins"). */
  private def latestCaptures(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("url")).orderBy(desc("warc_ts"), desc("raw_url"))
    pages(spark, sfDir)
      .filter(Canonicalize.isHttpScheme(col("url")))
      .select(
        Canonicalize.canonicalUrl(col("url")).as("url"),
        col("url").as("raw_url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .filter(col("url").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "raw_url")
  }

  private val extractUdf = udf((host: String, html: Array[Byte]) => Parsers.extract(host, html))
  private val linksUdf = udf((html: Array[Byte]) => Parsers.extractLinks(html))

  /** q44's ticker extraction (the reference's per-article ticker
    * attachment): pull the symbols out of the raw html bytes of each
    * latest capture, explode to (url, ticker) grain — regexp + split +
    * generator, all codegen'd Catalyst builtins on the post-latest-wins
    * (bounded) set. Takes the captures frame so q62 can derive both of
    * its legs from ONE latest-wins computation. */
  private def tickerRows(caps: DataFrame): DataFrame = {
    val raw = regexp_extract(col("html").cast("string"),
      "property=\"article:tickers\" content=\"([^\"]+)\"", 1)
    caps
      .filter(col("url").contains("/articles/"))
      .withColumn("ticker_csv", raw)
      .filter(col("ticker_csv") =!= "")
      .select(col("url"),
        explode(split(col("ticker_csv"), ",")).as("ticker"),
        size(split(col("ticker_csv"), ",")).as("n_tickers"))
  }

  /** q69's PageRank damping — interpolated into the oracle together with
    * the Scala-computed teleport mass 1-d (see Corpus.pagerankFixed's
    * float-discipline note: `1 - 0.85` in SQL would be exact DECIMAL
    * 0.15, a DIFFERENT double than IEEE 1.0-0.85). */
  val PrDamping: Double = 0.85

  /** q67's co-mention edge list (t1 < t2, per-article pair counts) —
    * shared by q67 and the q69 PageRank over the same graph. */
  private def comentionPairs(s: SparkSession, dir: String): DataFrame = {
    val tr = tickerRows(latestCaptures(s, dir)).select("url", "ticker")
    tr.toDF("url", "t1")
      .join(tr.toDF("url", "t2"), Seq("url"))
      .filter(col("t1") < col("t2"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("n_articles"))
  }

  /** q07's parse-extract (latest capture → per-site parser text, empty
    * extractions dropped) — shared by q07 and the q62 composition. */
  private def parsedArticles(caps: DataFrame): DataFrame =
    caps
      .withColumn("host", try_parse_url(col("url"), lit("HOST")))
      .withColumn("text", extractUdf(col("host"), col("html")))
      .filter(col("text") =!= "")
      .select(col("url"), col("text"))

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // op 1: Δ-scan with pushed-down predicate, html never read.
    "q01_pages_scan" -> ((s, dir) =>
      pages(s, dir)
        .filter(col("warc_ts") < lit(java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(7200))))
        .select("url", "warc_ts", "lang")),

    // ops 7/8: canonicalization + host extraction (alias rows collapse).
    "q02_canonicalize" -> ((s, dir) =>
      pages(s, dir)
        .select(
          Canonicalize.canonicalUrl(col("url")).as("url"),
          Canonicalize.hostOf(col("url")).as("host"))
        .filter(col("url").isNotNull)
        .distinct()),

    // ops 12/15/33: seen-set anti-join (exact tier) — hash-free output.
    "q03_dedup_antijoin" -> ((s, dir) => {
      val c = pages(s, dir)
        .select(Canonicalize.canonicalUrl(col("url")).as("url"))
        .filter(col("url").isNotNull && col("url").contains("/articles/"))
        .distinct()
      val seen = c.filter(
        regexp_extract(col("url"), "/articles/(\\d+)$", 1).cast("long") % 2 === 0)
      c.join(seen, Seq("url"), "left_anti")
    }),

    // ops 6/13/49: robots evaluation via higher-order exists, broadcast dim.
    "q04_robots_filter" -> ((s, dir) => {
      val c = pages(s, dir)
        .select(
          Canonicalize.canonicalUrl(col("url")).as("url"),
          Canonicalize.hostOf(col("url")).as("host"))
        .filter(col("url").isNotNull)
        .distinct()
      Robots.tag(c, fix(s, dir, "robots"))
        .select(col("url"), col("host"), (!col("robots_excluded")).as("allowed"))
    }),

    // ops 24/25/38/51: priority ranking + politeness budget cap.
    "q05_priority_rank" -> ((s, dir) =>
      scheduleOnce(s, dir).select("url", "host", "host_rank")),

    // ops 3/14: fetch equi-join, latest capture wins.
    "q06_fetch_join" -> ((s, dir) =>
      scheduleOnce(s, dir)
        .select("url")
        .join(latestCaptures(s, dir), Seq("url"), "inner")
        .select(col("url"), length(col("text")).as("text_len"), col("lang"))),

    // ops 35/47: whole-corpus parse — output IS the extracted text, so the
    // driver's hash compare verifies byte-identity per url (north_rule).
    "q07_parse_extract" -> ((s, dir) => parsedArticles(latestCaptures(s, dir))),

    // op 18: per-host accounting.
    "q08_host_agg" -> ((s, dir) =>
      pages(s, dir)
        .groupBy(Canonicalize.hostOf(col("url")).as("host"))
        .agg(
          count(lit(1)).as("n_pages"),
          min(col("warc_ts")).as("first_ts"),
          max(col("warc_ts")).as("last_ts"),
          sum(length(col("text"))).as("chars"))),

    // op 48: link extraction (UDF + explode = Generator path).
    "q09_link_extract" -> ((s, dir) =>
      pages(s, dir)
        .filter(col("url").endsWith("/"))
        .select(
          Canonicalize.hostOf(col("url")).as("host"),
          explode(linksUdf(col("html"))).as("link"))),

    // op 89: recrawl scheduling — per-canonical-url capture/change stats
    // (version counting on 8-byte text hashes; revisit = observed mean
    // change interval, Cho & Garcia-Molina policy inputs).
    "q85_recrawl" -> ((s, dir) => Recrawl.changeStats(pages(s, dir))),

    // op 90: URL-template mining / crawl-trap detection — digit runs
    // collapse to {N}, one hash agg on (host, template).
    "q86_url_templates" -> ((s, dir) => Recrawl.urlTemplates(pages(s, dir))),

    // op 92: snapshot CDC — per-canonical-url added/changed/unchanged
    // between the captures at or before the boundary and the full log.
    "q89_snapshot_diff" -> ((s, dir) =>
      Recrawl.snapshotDiff(pages(s, dir),
        java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(SnapshotBoundarySec)))),

    // op 93: due-for-recrawl feed — urls whose adaptive revisit interval
    // (q85's change stats) has elapsed at NOW, most-stale first.
    "q90_recrawl_due" -> ((s, dir) =>
      Recrawl.dueForRecrawl(pages(s, dir),
        java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(RecrawlNowSec)))),

    // op 98: capture retention — newest-K captures per canonical url
    // (the WARC storage policy; url-partitioned window, frames bounded by
    // captures-per-url).
    "q95_retention" -> ((s, dir) =>
      Recrawl.pruneCaptures(pages(s, dir), keepN = 2)),

    // op 136: CDX-style revisit records — each capture flagged iff its
    // content digest equals the PREVIOUS capture of the same canonical
    // url (the WARC `revisit` record a deduplicating writer emits instead
    // of re-storing the payload). On the fixture: alias/escaped-alias
    // captures (+30/+45 s, identical body) flag true; recaptures with
    // revised bodies (+7200 s) flag false.
    "q132_revisit_cdx" -> ((s, dir) =>
      Recrawl.revisitRecords(pages(s, dir))),

    // op 137: redirect-chain resolution — pointer doubling on the redirect
    // edge table (4 rounds resolve chains ≤16 hops exactly); loops and
    // over-cap chains surface as 'unresolved'. Fixture edges are a pure
    // function of doc_id (1/2/3-hop chains, a 2-cycle, a self-loop),
    // mirrored string-for-string in the oracle's recursive walk.
    "q134_redirects" -> ((s, dir) =>
      graft.operators.Redirects.resolve(redirectEdges(s, dir))),

    // op 138: sitemap ingestion — sitemapindex→urlset resolution (orphan
    // urlsets excluded via a left-semi on sitemap url keys), regexp field
    // extraction, canonicalized locs, W3C-datetime lastmod parse. The
    // oracle derives the expected entries from doc_id directly (the q96
    // round-trip discipline: build-XML→parse-XML must be the identity).
    "q135_sitemap" -> ((s, dir) =>
      graft.operators.Sitemaps.parse(sitemapFixture(s, dir))),

    // op 142: CDX byte-offset index — per-capture byte offset inside its
    // host-keyed WARC shard via the two-phase range-partitioned prefix
    // scan (never a per-shard window funneling a shard through one task).
    "q139_cdx_offsets" -> ((s, dir) =>
      Recrawl.cdxOffsets(pages(s, dir))),

    // op 154: per-host capture-volume EWMA forecast (the crawl-rate
    // controller's input). The recursion is spelled in closed form so
    // both engines compute identical per-term products; the hour index
    // is a window on the (host, hour) AGGREGATED grain only.
    "q151_volume_forecast" -> ((s, dir) =>
      Recrawl.volumeForecast(pages(s, dir), alpha = EwmaAlpha)),

    // op 173: politeness-funnel telemetry — per host the three-way split
    // the scheduler ALREADY computes (robots-excluded / scheduled ≤
    // budget / deferred past budget) plus the served share of allowed
    // demand; the ops view of where frontier demand goes, with no
    // formula re-derived (drift-proof by construction).
    "q169_politeness_funnel" -> ((s, dir) => {
      val out = Scheduler.schedule(
        allCandidates(s, dir),
        fix(s, dir, "robots"), fix(s, dir, "source_weights"),
        fix(s, dir, "budgets"), CrawlConfig())
      val hosts = allCandidates(s, dir).select("host").distinct()
      val sched = out.scheduled.groupBy("host").agg(count(lit(1)).as("n_scheduled"))
      val defer = out.deferred.groupBy("host").agg(count(lit(1)).as("n_deferred"))
      val exc = out.excluded
        .select(try_parse_url(col("url"), lit("HOST")).as("host"))
        .groupBy("host").agg(count(lit(1)).as("n_excluded"))
      hosts
        .join(sched, Seq("host"), "left")
        .join(defer, Seq("host"), "left")
        .join(exc, Seq("host"), "left")
        .select(col("host"),
          coalesce(col("n_scheduled"), lit(0L)).as("n_scheduled"),
          coalesce(col("n_deferred"), lit(0L)).as("n_deferred"),
          coalesce(col("n_excluded"), lit(0L)).as("n_excluded"))
        .withColumn("n_allowed", col("n_scheduled") + col("n_deferred"))
        .withColumn("served_share",
          when(col("n_allowed") > 0,
            col("n_scheduled").cast("double") / col("n_allowed").cast("double")))
    }),

    // op 170: redirect-aware frontier collapse — the frontier (canonical
    // candidates ∪ discovered redirect sources) mapped to effective
    // fetch targets; aliases collapse, unresolved loops are abandoned.
    // op 35 all-family gate: render→extract byte-identity across ALL
    // eighteen parser families (the fixture's hosts exercise only the
    // frozen 0-5) — each document rendered in family doc_id % NumFamilies
    // and re-extracted; the oracle is the document text itself, so any
    // drift in any family kernel breaks the hash compare.
    "q177_parse_families" -> ((s, dir) => {
      val roundtrip = udf { (docId: Long, text: String) =>
        val fam = java.lang.Math.floorMod(docId, Parsers.NumFamilies.toLong).toInt
        Parsers.extractFamily(fam,
          Parsers.renderArticle(fam, s"Doc $docId", "srcX", Option(text).getOrElse("")))
      }
      PipelineQueries.docs(s, dir).select(
        col("doc_id"),
        pmod(col("doc_id"), lit(Parsers.NumFamilies.toLong)).as("family"),
        roundtrip(col("doc_id"), col("text")).as("text"))
    }),

    // op 45 batch half: late-data quarantine — treat the pages table as a
    // re-delivery against a mid-crawl hwm; stragglers (warc_ts ≤ hwm, their
    // Δ-window already scanned) land in the quarantine relation with
    // lateness, and ride an observe() metric on the same pass.
    "q176_late_quarantine" -> ((s, dir) =>
      Scheduler.lateQuarantine(pages(s, dir), QuarantineHwmSec)),

    // round 5: DUST rule mining (Bar-Yossef et al., WWW'07) — learn
    // per-site suffix-strip rewrite rules from observed content-identical
    // URL pairs. The fixture's tracking aliases mine back out as one
    // dominant rule; its %-escaped aliases are not prefix-shaped and
    // exercise the negative side.
    "q178_dust_rules" -> ((s, dir) =>
      graft.operators.PageHygiene.dustRules(pages(s, dir))),

    // round 5: rel=canonical collapse — capture grouping follows the
    // publisher-declared canonical target. Syndicated copies (rendered
    // in-query on a host no URL-string rule can map home, the q177
    // derive-in-query pattern) fold onto their origin article; everything
    // else onto its op-7 canonical form.
    "q179_canonical_collapse" -> ((s, dir) => {
      val synd = Parquet.read(s, s"$dir/documents.parquet")
        .filter(col("doc_id") % 13 === 5)
        .select(
          concat(lit("https://syndication.example.net/s/"), col("doc_id")).as("url"),
          timestamp_seconds(lit(Constants.EPOCH.getEpochSecond) +
            col("doc_id") * 60L + 90L).as("warc_ts"),
          encode(concat(
            lit("<html><head><link rel=\"canonical\" href=\"https://"),
            col("source"), lit(".example.com/articles/"), col("doc_id"),
            lit("\"/><title>synd</title></head><body>"), col("text"),
            lit("</body></html>")), "UTF-8").as("html"))
      graft.operators.PageHygiene.canonicalCollapse(
        pages(s, dir).select("url", "warc_ts", "html").unionByName(synd))
    }),

    // round 5: page-level meta-robots gate — noindex/nofollow parsed from
    // the markup (the indexing-side counterpart of robots.txt, ops 6/49).
    // Directives injected in-query by url-derived doc_id (%-escaped urls
    // yield no doc_id, so their captures stay unflagged — the engine can
    // only act on what the bytes say; the oracle mirrors the same
    // url-observable rule).
    "q180_meta_robots" -> ((s, dir) => {
      val did = nullif(regexp_extract(col("url"), "articles/([0-9]+)", 1),
        lit("")).cast("long")
      val h = decode(col("html"), "UTF-8")
      val injected = when(pmod(did, lit(17)) === 4,
          regexp_replace(h, "<head>",
            "<head><meta name=\"robots\" content=\"noindex, nofollow\"/>"))
        .when(pmod(did, lit(17)) === 9,
          regexp_replace(h, "<head>",
            "<head><meta name=\"robots\" content=\"NOINDEX\"/>"))
        .otherwise(h)
      graft.operators.PageHygiene.metaRobotsGate(
        pages(s, dir).select(col("url"), col("warc_ts"),
          encode(injected, "UTF-8").as("html")))
    }),

    // round 5: lexical URL-feature audit (Ntoulas et al. WWW'06 §4's
    // URL-only spam features; the pre-fetch half of q86's trap mining)
    // — distinct-url dim, pure map stage, all-integer/boolean outputs.
    "q228_url_features" -> ((s, dir) =>
      graft.operators.PageHygiene.urlFeatureAudit(pages(s, dir))),

    // round 5: soft-404 detection — "200 OK" error pages classified from
    // extracted-text features (hard phrase + error-code token + short
    // body); article captures whose url-derived doc_id % 19 == 6 carry an
    // in-query error-template body, the rest their real text.
    "q181_soft404" -> ((s, dir) => {
      val did = nullif(regexp_extract(col("url"), "articles/([0-9]+)", 1),
        lit("")).cast("long")
      val art = pages(s, dir)
        .withColumn("d", did)
        .filter(col("d").isNotNull)
        .withColumn("text",
          when(pmod(col("d"), lit(19)) === 6, lit(Soft404Template))
            .otherwise(col("text")))
      graft.operators.PageHygiene.soft404Flags(
        art.select("url", "warc_ts", "text"))
    }),

    // round 5: DUST rule application — the mine → validate → rewrite
    // second half of the DUST loop: every URL ending in a mined suffix
    // rewrites to its stripped spelling; rewrites whose target is already
    // known are saved fetches, and per-rule precision is the deployment
    // gate.
    "q182_dust_apply" -> ((s, dir) =>
      graft.operators.PageHygiene.dustApply(pages(s, dir))),

    // round 5: content-defined chunk dedup — per-host storage stats under
    // CDC chunking of extracted text (recaptures share all chunks except
    // the edited tail frame; the fixture's ' updated' recaptures are the
    // live case).
    "q183_cdc_chunks" -> ((s, dir) =>
      graft.operators.PageHygiene.cdcChunkStats(pages(s, dir))),

    // round 5: dead-link pruning — op-48 link edges whose target url has
    // a soft-404-flagged capture (q181's substituted corpus) drop before
    // discovery; per origin host kept vs pruned.
    "q185_dead_links" -> ((s, dir) => {
      val links = pages(s, dir)
        .filter(col("url").endsWith("/"))
        .select(
          Canonicalize.hostOf(col("url")).as("host"),
          explode(linksUdf(col("html"))).as("link"))
      val did = nullif(regexp_extract(col("url"), "articles/([0-9]+)", 1),
        lit("")).cast("long")
      val art = pages(s, dir)
        .withColumn("d", did)
        .filter(col("d").isNotNull)
        .withColumn("text",
          when(pmod(col("d"), lit(19)) === 6, lit(Soft404Template))
            .otherwise(col("text")))
      val flags = graft.operators.PageHygiene.soft404Flags(
        art.select("url", "warc_ts", "text"))
      graft.operators.PageHygiene.deadLinkPrune(links, flags)
    }),

    // round 5: schedule-fairness audit — how evenly the politeness-ranked
    // batch (the oracle-proven q05 relation) spreads across hosts: Gini
    // coefficient by the rank formula over per-host counts sorted
    // (count, host), plus the max single-host share. The ONLY window runs
    // on the host-dim grain (bounded — the q164 host-cardinality
    // argument), never the url grain.
    "q187_schedule_fairness" -> ((s, dir) =>
      Scheduler.fairnessStats(scheduleOnce(s, dir))),

    // round 5: Poisson change-rate estimation (Cho & Garcia-Molina,
    // TOIT 2003) — the bias-reduced λ̂ from interval-grain change flags
    // that q85's degenerate span/c policy upgrades to: n intervals, X
    // observed changes, λ̂ = -ln((n-X+0.5)/(n+0.5))/T̄ per hour, revisit
    // = 1/λ̂ (null when no change observed → default backoff regime).
    // One lag window on per-url frames (retention-bounded), hashes only
    // in the shuffle.
    "q190_change_rate" -> ((s, dir) =>
      Recrawl.poissonChangeRate(pages(s, dir))),

    // round 5: largest-remainder (Hamilton) crawl-budget apportionment —
    // spend an integer cluster-wide fetch budget across hosts exactly
    // proportionally to capture volume: floor(total·w/W) each plus one
    // for the largest remainders, Σalloc == total exactly. All-integer
    // (hash-exact); the one rank window runs on the bounded host dim.
    "q191_budget_allocation" -> ((s, dir) => {
      val weights = pages(s, dir)
        .filter(Canonicalize.isHttpScheme(col("url")))
        .select(Canonicalize.hostOf(col("url")).as("host"))
        .groupBy("host").agg(count(lit(1)).as("weight"))
      Recrawl.allocateBudget(weights, FetchBudgetTotal)
    }),

    // round 5: freshness-optimal budget allocation — the q190 × q191
    // composition (Cho & Garcia-Molina's freshness-maximization shape):
    // a host's share of the global fetch budget is proportional to its
    // EXPECTED CHANGES PER HOUR (Σ of the 6-dp-fixed λ̂ over its urls,
    // ×1e6 so the apportionment stays all-integer/hash-exact). Hosts
    // whose content never changed observed-ly get weight 0 — budget
    // flows to where freshness is actually lost.
    "q194_freshness_budget" -> ((s, dir) => {
      val weights = Recrawl.poissonChangeRate(pages(s, dir))
        .select(Canonicalize.hostOf(col("url")).as("host"),
          expr("CAST(round(lambda_per_hour * 1000000, 0) AS BIGINT)").as("lam_e6"))
        .groupBy("host").agg(sum("lam_e6").as("weight"))
      Recrawl.allocateBudget(weights, FetchBudgetTotal)
    }),

    // round 5: Mercator back-queue emit schedule (Heydon & Najork,
    // WWW'99 §3.2) — the order the oracle-proven q05 batch LEAVES the
    // frontier when each host maps to one of 4 back queues and
    // same-host fetches are spaced by the robots crawl delay: ready
    // time (host_rank−1)·delay, global pop order (ready, host, rank)
    // via GlobalOrder, per-worker sequence per queue. All-integer →
    // hash-exact.
    "q197_mercator_schedule" -> ((s, dir) =>
      Scheduler.mercatorSchedule(
        scheduleOnce(s, dir).select("url", "host", "host_rank"),
        fix(s, dir, "robots").select("host", "crawl_delay"),
        backQueues = MercatorBackQueues)),

    // round 5: refresh-policy freshness audit (Cho & Garcia-Molina,
    // TODS'03) — expected steady-state freshness of the corpus under
    // uniform vs proportional allocation of the same global revisit
    // budget over the q190 λ̂ estimates. The classic uniform≥proportional
    // theorem holds over always-changing pages; λ̂=0 pages (free
    // freshness that uniform still spends on) can flip it — both
    // regimes pinned against scalar truth in RecrawlSpec.
    "q198_refresh_policy" -> ((s, dir) =>
      Recrawl.refreshPolicyAudit(
        Recrawl.poissonChangeRate(pages(s, dir)), RefreshBudgetPerHour)),

    // round 5: robots.txt cache-TTL audit (RFC 9309 §2.4's 24-hour
    // SHOULD) — replay each host's capture timeline against a TTL
    // cache: robots fetches paid, last fetch, and when the cached entry
    // expires (the scheduler's refetch-before-next-batch feed). The
    // per-host fetch chain is sequential in t BY DESIGN; the oracle
    // replays it as a recursive CTE.
    "q202_robots_ttl" -> ((s, dir) =>
      Robots.robotsCacheAudit(
        pages(s, dir).select(
          Canonicalize.hostOf(col("url")).as("host"), col("warc_ts")),
        RobotsTtlSec)),

    // round 5: AIMD adaptive-politeness replay (Chiu & Jain's rule,
    // Heritrix-style latency-keyed crawl delay) — per-host multiplicative
    // backoff / additive recovery over the capture timeline, latency
    // proxied deterministically from the capture's text bytes.
    "q205_adaptive_delay" -> ((s, dir) =>
      Scheduler.adaptiveDelayReplay(
        pages(s, dir).select(
          Canonicalize.hostOf(col("url")).as("host"), col("warc_ts"),
          (lit(100L) + octet_length(col("text")).cast("long") % lit(400L))
            .as("latency_ms")),
        AimdSlowMs, AimdInitMs, AimdMinMs, AimdMaxMs, AimdStepMs)),

    "q166_redirect_collapse" -> ((s, dir) =>
      graft.operators.Redirects.frontierCollapse(
        allCandidates(s, dir).select("url")
          .union(redirectEdges(s, dir).select(col("src").as("url"))),
        redirectEdges(s, dir))),

    // op 171: WARC revisit storage savings — per host the capture/
    // revisit split and byte mass a deduplicating writer saves (the
    // q132 rule at the capacity-planning grain).
    "q167_warc_savings" -> ((s, dir) =>
      Recrawl.warcSavings(pages(s, dir))),

    // op 166: sitemap-driven recrawl feed — announced lastmod vs the
    // newest capture per canonical url: 'new' (announced, never
    // fetched — injected /preview/ entries for doc_id%10==4), 'stale'
    // (publisher bumped lastmod — +3d injection for doc_id%9==2),
    // 'fresh' otherwise. The sitemap freshness loop on proven pieces.
    "q162_sitemap_recrawl" -> ((s, dir) => {
      val parsed = graft.operators.Sitemaps.parse(sitemapFixture(s, dir))
      val docId = regexp_extract(col("url"), "articles/([0-9]+)", 1).cast("long")
      val bumped = parsed.select(col("url"),
        when(pmod(docId, lit(9)) === 2, col("lastmod") + expr("INTERVAL 3 DAYS"))
          .otherwise(col("lastmod")).as("lastmod"))
      val extra = Parquet.read(s, s"$dir/documents.parquet")
        .filter(col("doc_id") % 10 === 4)
        .select(
          concat(lit("https://"), col("source"),
            lit(".example.com/preview/"), col("doc_id")).as("url"),
          timestamp_seconds(lit(Constants.EPOCH.getEpochSecond) +
            col("doc_id") * 60L + 60L).as("lastmod"))
      Recrawl.sitemapStale(bumped.unionByName(extra), pages(s, dir))
    }),

    // op 163: RFC 9309 robots evaluation — wildcard `*`, `$` end-anchor,
    // longest-match-wins with the allow-beats-disallow tie rule, as a
    // pure-Catalyst filter/array_max over a broadcast per-host rules dim
    // (rules compile to regexes ONCE at dim build, never per candidate).
    "q159_robots_rfc" -> ((s, dir) => {
      val cand = allCandidates(s, dir)
      val rulesDim = cand.select("host").distinct()
        .withColumn("rules", Robots.rulesArrayColumn(RfcRules))
      Robots.tagRfc(cand.select("url", "host"), rulesDim)
        .select(col("url"), col("robots_excluded"))
    }),

    // op 160: CDX zipnum-style secondary block index — every blockSize
    // records of a shard's sorted CDX collapse to one summary row via
    // the range-partitioned prefix-count rank (the q139 scan, never a
    // per-shard window); the reader binary-searches blocks first.
    "q157_cdx_blocks" -> ((s, dir) =>
      Recrawl.cdxBlockIndex(pages(s, dir), blockSize = CdxBlockSize)),

    // op 158: per-IP politeness grouping — hosts sharing serving
    // infrastructure (ip = deterministic dim of the host) draw from ONE
    // budget, the reverse-proxy-farm case a per-host-only limiter
    // over-crawls. Rank per IP by (recency desc, url) and keep ≤ budget
    // — the q05 ranking shape one grouping level up (at scale the same
    // salted local-top-k pre-rank applies, CrawlConfig.localTopKSalt).
    "q155_ip_budget" -> ((s, dir) => {
      val w = Window.partitionBy(col("ip"))
        .orderBy(desc("discovered_ts"), col("url"))
      allCandidates(s, dir)
        .withColumn("ip", concat(lit("10.0.0."),
          pmod(ascii(substring(col("host"), 1, 1)), lit(4)).cast("string")))
        .withColumn("ip_rank", row_number().over(w))
        .filter(col("ip_rank") <= IpBudget)
        .select(col("ip"), col("url"), col("discovered_ts"), col("ip_rank"))
    }),

    // op 99: per-host publish→capture lag distribution — each capture's
    // lag from the article's embedded published date (q15's per-family
    // wire-format parsing), rolled up per host as exact type-7 percentiles
    // (q77's verified machinery). The crawl-freshness dashboard: p50/p90
    // lag is THE metric a news-crawl operator watches per source.
    "q96_publish_lag" -> ((s, dir) => {
      import s.implicits._
      val familyDim = broadcast(graft.core.FixtureConstants.hosts
        .map(h => (h.host, h.family)).toDF("host", "family"))
      val raw = regexp_extract(col("html").cast("string"),
        "property=\"article:published\" content=\"([^\"]+)\"", 1)
      val fmt = graft.core.Parsers.DateFormats
      pages(s, dir)
        .filter(Canonicalize.isHttpScheme(col("url")))
        .select(
          Canonicalize.canonicalUrl(col("url")).as("url"),
          col("warc_ts"), col("html"))
        .filter(col("url").isNotNull && col("url").contains("/articles/"))
        .withColumn("published_raw", raw)
        .withColumn("host", try_parse_url(col("url"), lit("HOST")))
        .join(familyDim, Seq("host"))
        .withColumn("published_ts",
          when(col("family") === 0, to_timestamp(col("published_raw"), fmt(0).get))
            .when(col("family") === 1, to_timestamp(col("published_raw"), fmt(1).get))
            .when(col("family") === 2, to_timestamp(col("published_raw"), fmt(2).get))
            .when(col("family") === 3, timestamp_seconds(col("published_raw").cast("long")))
            .when(col("family") === 4, to_timestamp(col("published_raw"), fmt(4).get))
            .otherwise(to_timestamp(
              regexp_replace(col("published_raw"), "^[A-Za-z]{3}, ", ""),
              "dd MMM yyyy HH:mm:ss")))
        // integer-second lag map-side; ONE host-grain agg (exact type-7
        // percentiles — value→count map bounded by the lag domain; the
        // unbounded-domain scale path is the q77 GK-sketch variant)
        .withColumn("lag_sec",
          unix_timestamp(col("warc_ts")) - unix_timestamp(col("published_ts")))
        .groupBy("host")
        .agg(
          count(lit(1)).as("n_captures"),
          // 4-dp rounding absorbs sub-ulp interpolation noise (the q77
          // discipline)
          round(percentile(col("lag_sec"), lit(0.5)), 4).as("p50_lag"),
          round(percentile(col("lag_sec"), lit(0.9)), 4).as("p90_lag"),
          max(col("lag_sec")).as("max_lag"))
    }),

    // op 100: seed-coverage audit — which frontier seeds the crawl has
    // actually captured, per host (dead seeds — articles/0 on most hosts —
    // stay uncovered; listing roots are covered wherever the host has
    // documents). The crawl-completeness report an operator reads before
    // blaming the scheduler.
    "q97_seed_coverage" -> ((s, dir) => {
      val seeds = graft.core.Fixtures.table(s, dir, "seeds")
        .select(Canonicalize.canonicalUrl(col("url")).as("url"))
      val captured = pages(s, dir)
        .filter(Canonicalize.isHttpScheme(col("url")))
        .select(Canonicalize.canonicalUrl(col("url")).as("url"))
        .filter(col("url").isNotNull)
        .distinct()
      seeds
        .join(captured.withColumn("hit", lit(1L)), Seq("url"), "left_outer")
        .groupBy(Canonicalize.hostOf(col("url")).as("host"))
        .agg(
          count(lit(1)).as("n_seeds"),
          sum(coalesce(col("hit"), lit(0L))).as("n_crawled"))
        .withColumn("coverage",
          round(col("n_crawled") * lit(1.0) / col("n_seeds"), 4))
    }),

    // op 111: retroactive robots-compliance audit — the captures whose
    // CANONICAL resource current robots rules disallow (robots change
    // after the fact; CommonCrawl-style releases re-filter retroactively).
    // Same broadcast-dim + pure-Catalyst evaluator as the forward filter
    // (q04); reports the RAW capture url + ts an operator must purge.
    "q105_robots_violations" -> ((s, dir) => {
      val caps = pages(s, dir)
        .filter(Canonicalize.isHttpScheme(col("url")))
        .select(
          col("url").as("raw_url"), col("warc_ts"),
          Canonicalize.canonicalUrl(col("url")).as("url"),
          Canonicalize.hostOf(col("url")).as("host"))
        .filter(col("url").isNotNull)
      Robots.tag(caps, fix(s, dir, "robots"))
        .filter(col("robots_excluded"))
        .select(col("host"), col("raw_url"), col("warc_ts"))
    }),

    // op 20: frontier cardinality accounting — exact distinct (oracle-able;
    // approx_count_distinct is asserted within 5% in RelationalExtraSpec).
    "q10_frontier_stats" -> ((s, dir) =>
      pages(s, dir)
        .select(Canonicalize.canonicalUrl(col("url")).as("url"), col("lang"))
        .filter(col("url").isNotNull)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_pages"), countDistinct(col("url")).as("n_urls"))),

    // ops 26/28/36: frame-spec running totals + ntile over per-host daily
    // capture counts.
    "q13_running_totals" -> ((s, dir) => {
      val daily = pages(s, dir)
        .groupBy(
          Canonicalize.hostOf(col("url")).as("host"),
          date_trunc("day", col("warc_ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("host")).orderBy(col("day"))
      daily
        .withColumn("running_n",
          sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("quartile", ntile(4).over(w))
    }),

    // op 27: analytic lag — inter-capture gap per host (politeness audit).
    "q14_capture_gaps" -> ((s, dir) => {
      val w = Window.partitionBy(col("host")).orderBy(col("warc_ts"), col("url"))
      pages(s, dir)
        .select(col("url"), Canonicalize.hostOf(col("url")).as("host"), col("warc_ts"))
        .withColumn("gap_sec",
          unix_timestamp(col("warc_ts")) - unix_timestamp(lag(col("warc_ts"), 1).over(w)))
        .filter(col("gap_sec").isNotNull)
        .select("host", "url", "gap_sec")
    }),

    // op 36: heterogeneous per-source published-date parsing — each host
    // family embeds its date in a different wire format (ISO-ish, RFC-1123-
    // ish with weekday, US slashes, epoch seconds, dotted); the engine
    // extracts the meta from the raw html bytes and dispatches the format by
    // family (broadcast dim), canonicalizing to one timestamp.
    "q15_published_dates" -> ((s, dir) => {
      import s.implicits._
      val familyDim = broadcast(
        graft.core.FixtureConstants.hosts.map(h => (h.host, h.family)).toDF("host", "family"))
      val raw = regexp_extract(col("html").cast("string"),
        "property=\"article:published\" content=\"([^\"]+)\"", 1)
      // family 3 is epoch seconds; family 5 strips the weekday prefix
      // before parsing (Spark forbids 'E' in parse patterns).
      val fmt = graft.core.Parsers.DateFormats
      latestCaptures(s, dir)
        .filter(col("url").contains("/articles/"))
        .withColumn("published_raw", raw)
        .withColumn("host", try_parse_url(col("url"), lit("HOST")))
        .join(familyDim, Seq("host"))
        .withColumn("published_ts",
          when(col("family") === 0, to_timestamp(col("published_raw"), fmt(0).get))
            .when(col("family") === 1, to_timestamp(col("published_raw"), fmt(1).get))
            .when(col("family") === 2, to_timestamp(col("published_raw"), fmt(2).get))
            .when(col("family") === 3, timestamp_seconds(col("published_raw").cast("long")))
            .when(col("family") === 4, to_timestamp(col("published_raw"), fmt(4).get))
            .otherwise(to_timestamp(
              regexp_replace(col("published_raw"), "^[A-Za-z]{3}, ", ""),
              "dd MMM yyyy HH:mm:ss")))
        .select(col("url"), col("published_raw"), col("published_ts"))
    }),

    // op 4 read side: keyed latest-wins upsert compaction over all captures
    // (ES-style index semantics: one surviving version per url key).
    "q16_article_upsert" -> ((s, dir) => {
      val caps = pages(s, dir)
        .filter(Canonicalize.isHttpScheme(col("url")))
        .select(
          Canonicalize.canonicalUrl(col("url")).as("url"),
          col("url").as("raw_url"), col("warc_ts"), col("text"))
        .filter(col("url").isNotNull && col("url").contains("/articles/"))
        .withColumn("batch_id",
          (floor((unix_timestamp(col("warc_ts")) - lit(Constants.EPOCH.getEpochSecond))
            / 21600L) + 1L).cast("long"))
      graft.operators.Upsert.latestWins(caps, Seq("url"), Seq(desc("warc_ts"), desc("raw_url")))
        .select(col("url"), col("n_versions"), col("batch_id").as("last_batch"),
          length(col("text")).as("text_len"))
    }),

    // entity extraction (the reference's per-article ticker attachment): pull
    // the ticker symbols out of the raw html bytes of each latest capture,
    // explode to (url, ticker) grain — regexp + split + generator, all
    // codegen'd Catalyst builtins on the post-latest-wins (bounded) set.
    "q44_tickers" -> ((s, dir) => tickerRows(latestCaptures(s, dir))),

    // end-to-end news intelligence (the showcase composition a reference
    // user runs daily): crawl's latest captures → per-site parser text →
    // ticker extraction → lexicon sentiment → per-ticker article count +
    // mean polarity. Every stage is an operator proven above (q07 + q44 +
    // q61); the join is a bounded equi-join on url.
    "q62_ticker_sentiment" -> ((s, dir) => {
      val caps = latestCaptures(s, dir) // ONE latest-wins frame, both legs
      val sent = graft.ml.TextAnalysis.sentiment(
        parsedArticles(caps), keyCols = Seq("url"))
      tickerRows(caps)
        .join(sent, Seq("url"))
        .groupBy("ticker")
        .agg(count(lit(1)).as("n_articles"),
          round(avg("polarity"), 4).as("mean_polarity"))
    }),

    // ticker co-mention graph (the financial-news knowledge-graph
    // primitive: "which symbols move together in coverage"): for each
    // article's ticker set, every unordered pair, counted across
    // articles. The pair join is a self-equi-join on url over the
    // (url, ticker) grain — per-article ticker sets are bounded (≤ a few
    // symbols), so the per-url expansion is constant-bounded and the
    // output is |tickers|² edges at most, tiny next to the corpus.
    "q67_ticker_comention" -> ((s, dir) => comentionPairs(s, dir)),

    // entity authority over the co-mention graph: fixed-3-iteration
    // weighted PageRank (the second iterative graph operator next to
    // q46's connected components) — which tickers sit at the center of
    // coverage, not just who co-occurs most. Edge weights are the q67
    // pair counts, symmetrized.
    "q69_ticker_pagerank" -> ((s, dir) => {
      val pairs = comentionPairs(s, dir)
      val edges = pairs
        .select(col("t1").as("src"), col("t2").as("dst"), col("n_articles").as("w"))
        .union(pairs
          .select(col("t2").as("src"), col("t1").as("dst"), col("n_articles").as("w")))
      graft.ml.Corpus.pagerankFixed(edges, iters = 3, damping = PrDamping)
        .withColumnRenamed("node", "ticker")
    }),

    // op 139: HITS hubs/authorities over the DIRECTED q67 graph (t1→t2,
    // lexicographic — asymmetric, so hub and authority genuinely differ):
    // the pointer role vs the pointee role, next to q69's PageRank.
    // Intermediate scores are exact integer-valued doubles (integer edge
    // weights, end-deferred normalization) — the oracle unrolls the same
    // three rounds and only the final division is float.
    "q138_ticker_hits" -> ((s, dir) =>
      graft.ml.Corpus.hitsFixed(
        comentionPairs(s, dir).select(
          col("t1").as("src"), col("t2").as("dst"), col("n_articles").as("w")),
        iters = 3).withColumnRenamed("node", "ticker")),

    // per-ticker hourly sentiment time series with a 3-bucket moving
    // average — the trading-desk view of the q62 composition. Every leg
    // is the proven q07/q44/q61 operator; the MA window partitions BY
    // TICKER over that ticker's hourly rollup (an entity-grain frame,
    // never articles). Both means run ENTIRELY in exact integer 1e-4
    // units (polarity is already 4-dp-rounded, so ×10000 sits ON an
    // integer): sum, then half-away-from-zero INTEGER division, then one
    // exact /10000.0 — no float round() anywhere. A float avg of few
    // rounded values lands on .00005 boundaries where Spark (rounds the
    // double's shortest DECIMAL string) and DuckDB (rounds the BINARY
    // value) disagree — it happened twice at sf0.01 before this shape.
    "q70_ticker_hourly" -> ((s, dir) => {
      val caps = latestCaptures(s, dir)
      val sent = graft.ml.TextAnalysis.sentiment(
        parsedArticles(caps), keyCols = Seq("url"))
      val hours = caps.select(col("url"),
        date_trunc("hour", col("warc_ts")).as("hour"))
      val w = Window.partitionBy(col("ticker")).orderBy(col("hour"))
        .rowsBetween(-2, 0)
      tickerRows(caps)
        .join(sent, Seq("url")).join(hours, Seq("url"))
        .groupBy("ticker", "hour")
        .agg(count(lit(1)).as("n_articles"),
          sum(round(col("polarity") * 10000).cast("long")).as("pol_e4"))
        .withColumn("mean_e4", expr(
          "(CASE WHEN pol_e4 < 0 THEN -1 ELSE 1 END) * ((2*abs(pol_e4) + n_articles) div (2*n_articles))"))
        .withColumn("s3", sum(col("mean_e4")).over(w))
        .withColumn("c3", count(lit(1)).over(w))
        .withColumn("ma3_e4", expr(
          "(CASE WHEN s3 < 0 THEN -1 ELSE 1 END) * ((2*abs(s3) + c3) div (2*c3))"))
        .select(col("ticker"), col("hour"), col("n_articles"),
          (col("mean_e4") / 10000.0).as("mean_polarity"),
          (col("ma3_e4") / 10000.0).as("ma3"))
    }),

    // per-ticker article-volume anomaly: each (ticker, hour) count as a
    // z-score against the ticker's own hourly distribution (the "unusual
    // coverage spike" alert). Per-ticker mean/stddev is an entity-grain
    // aggregate attached by broadcast; the mean of integer counts is an
    // exact integer sum ÷ n on both engines, so only stddev's sub-ulp
    // accumulation order differs — absorbed by the 4-dp rounding.
    // Single-bucket tickers have no sample stddev → z_score NULL.
    "q71_ticker_volume_anomaly" -> ((s, dir) => {
      val caps = latestCaptures(s, dir)
      val hours = caps.select(col("url"),
        date_trunc("hour", col("warc_ts")).as("hour"))
      val hourly = tickerRows(caps).join(hours, Seq("url"))
        .groupBy("ticker", "hour").agg(count(lit(1)).as("n_articles"))
      val stats = hourly.groupBy("ticker")
        .agg(avg("n_articles").as("mu"), stddev_samp("n_articles").as("sd"))
      hourly.join(broadcast(stats), Seq("ticker"))
        .withColumn("z_score",
          when(col("sd").isNull || col("sd") === 0, lit(null).cast("double"))
            .otherwise(round((col("n_articles") - col("mu")) / col("sd"), 4)))
        .select("ticker", "hour", "n_articles", "z_score")
    }),

    // ops 43/5/29: the full multi-batch crawl with checkpointed state; output
    // is the canonically-ordered article log. Oracle: the sequential crawler
    // (ScalaTest golden parity) — iterative state is not DuckDB-expressible.
    "q11_crawl_full" -> ((s, dir) =>
      CrawlLoop.articles(s, fullCrawl(s, dir))
        .select("url", "warc_ts", "lang", "batch_id", "fetch_order")),

    // ops 18/21: politeness/lineage accounting of the full crawl.
    "q12_host_log" -> ((s, dir) => {
      val stateDir = fullCrawl(s, dir)
      val upTo = graft.operators.Checkpoints.lastCommitted(stateDir).getOrElse(0L)
      graft.operators.Checkpoints.readAppends(s, stateDir, "host_log", upTo)
        .groupBy("host")
        .agg(
          sum("urls_scheduled").as("urls_scheduled"),
          sum("urls_fetched").as("urls_fetched"),
          sum("urls_parsed").as("urls_parsed"))
    })
  )

  private def sfName(dir: String): String =
    java.nio.file.Paths.get(dir).getFileName.toString

  /** Scale-aware full-crawl config: the correctness sfs crawl at the small
    * politeness budget (many micro-batches — resume/ordering semantics get
    * exercised); sf0.1 is bench-only and uses a wider Δ-window and a budget
    * multiplier so the measured quantity is pipeline throughput rather than
    * driver-loop overhead. */
  def fullCrawlConfig(dir: String): CrawlConfig =
    if (sfName(dir) == "sf0.1")
      CrawlConfig(deltaPerBatchSec = 24L * 3600, budgetScale = 150,
        runTag = s"full_${sfName(dir)}")
    else
      CrawlConfig(deltaPerBatchSec = 6L * 3600, runTag = s"full_${sfName(dir)}")

  /** One full crawl per (sf) per JVM — q11/q12 share the run. */
  private val crawlRuns = scala.collection.concurrent.TrieMap.empty[String, String]
  def fullCrawl(s: SparkSession, dir: String): String =
    crawlRuns.getOrElseUpdate(dir,
      CrawlLoop.run(s, dir, fullCrawlConfig(dir), fresh = true).dir)

  /** Let Bench register its own completed crawl so q11/q12 reuse it. */
  def primeCrawl(dir: String, stateDir: String): Unit = crawlRuns.put(dir, stateDir)

  val oracles: Map[String, String] = Map(
    "q01_pages_scan" ->
      s"""$PagesCte
         |SELECT url, warc_ts, lang FROM pages
         | WHERE warc_ts < TIMESTAMP '2024-01-01 02:00:00'""".stripMargin,

    // per-feature string arithmetic spelled to the same integers (counts
    // as length deltas); the gate sum mirrors the engine's CASE chain.
    "q228_url_features" ->
      s"""$PagesCte,
         |u AS (SELECT DISTINCT pages.url AS url FROM pages),
         |h AS (SELECT url, split_part(split_part(url, '://', 2), '/', 1) AS hostp FROM u),
         |f AS (SELECT url,
         |             CAST(length(url) AS INT) AS url_len,
         |             CAST(length(url) - length(replace(url, '/', '')) - 2 AS INT)
         |               AS path_depth,
         |             CAST(length(regexp_replace(url, '[^0-9]', '', 'g')) AS INT)
         |               AS n_digits,
         |             CAST(length(url) - length(replace(url, '%', '')) AS INT) AS n_pct,
         |             contains(url, '?') AS has_query,
         |             CAST(length(hostp) - length(replace(hostp, '.', '')) AS INT)
         |               AS subdomain_depth
         |        FROM h)
         |SELECT url, url_len, path_depth, n_digits, n_pct, has_query, subdomain_depth,
         |       CAST((CASE WHEN url_len > 60 THEN 1 ELSE 0 END)
         |            + (CASE WHEN n_digits > 6 THEN 1 ELSE 0 END)
         |            + (CASE WHEN n_pct > 0 THEN 1 ELSE 0 END)
         |            + (CASE WHEN has_query THEN 1 ELSE 0 END) AS INT) AS spam_score
         |  FROM f""".stripMargin,

    "q02_canonicalize" ->
      s"""$PagesCte
         |SELECT DISTINCT url, host FROM canon""".stripMargin,

    "q03_dedup_antijoin" ->
      s"""$PagesCte,
         |c AS (SELECT DISTINCT url FROM canon WHERE url LIKE '%/articles/%')
         |SELECT url FROM c
         | WHERE CAST(regexp_extract(url, '/articles/(\\d+)$$', 1) AS BIGINT) % 2 <> 0""".stripMargin,

    "q04_robots_filter" ->
      s"""$PagesCte,
         |c AS (SELECT DISTINCT url, host FROM canon),
         |p AS (SELECT url, host, regexp_replace(url, '^https://[^/]*', '') AS path FROM c)
         |SELECT url, host,
         |       NOT (path LIKE '/private/%'
         |            OR (host = 'src13.example.com' AND path LIKE '/articles/%')) AS allowed
         |  FROM p""".stripMargin,

    "q05_priority_rank" ->
      s"""$PagesCte,
         |cand AS (
         |  SELECT url, host, max(warc_ts) AS discovered_ts
         |    FROM canon GROUP BY url, host
         |),
         |allowed AS (
         |  SELECT c.*, COALESCE(h.weight, 1.0) AS weight,
         |         -- robots crawl_delay caps the batch budget (round 3, op 25):
         |         -- identical formula to Scheduler.rankCandidates; the delta
         |         -- window is INTERPOLATED from the same CrawlConfig default
         |         -- scheduleOnce uses, so engine and oracle cannot drift.
         |         CASE WHEN h.crawl_delay IS NOT NULL AND h.crawl_delay > 0
         |              THEN least(COALESCE(h.budget, 2),
         |                         greatest(1, CAST(floor(${CrawlConfig().deltaPerBatchSec}.0 / h.crawl_delay) AS BIGINT)))
         |              ELSE COALESCE(h.budget, 2) END AS budget,
         |         COALESCE(h.weight, 1.0) * exp(-1e-7 * (epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(c.discovered_ts))) AS priority
         |    FROM cand c LEFT JOIN hostdim h USING (host)
         |   WHERE NOT (regexp_replace(url, '^https://[^/]*', '') LIKE '/private/%'
         |              OR (host = 'src13.example.com'
         |                  AND regexp_replace(url, '^https://[^/]*', '') LIKE '/articles/%'))
         |),
         |ranked AS (
         |  SELECT url, host, budget,
         |         ROW_NUMBER() OVER (PARTITION BY host
         |                            ORDER BY priority DESC, discovered_ts DESC, url ASC) AS host_rank
         |    FROM allowed
         |)
         |SELECT url, host, host_rank FROM ranked WHERE host_rank <= budget""".stripMargin,

    "q06_fetch_join" ->
      s"""$PagesCte,
         |cand AS (
         |  SELECT url, host, max(warc_ts) AS discovered_ts FROM canon GROUP BY url, host
         |),
         |allowed AS (
         |  SELECT c.*, COALESCE(h.weight, 1.0) AS weight,
         |         -- robots crawl_delay caps the batch budget (round 3, op 25):
         |         -- identical formula to Scheduler.rankCandidates; the delta
         |         -- window is INTERPOLATED from the same CrawlConfig default
         |         -- scheduleOnce uses, so engine and oracle cannot drift.
         |         CASE WHEN h.crawl_delay IS NOT NULL AND h.crawl_delay > 0
         |              THEN least(COALESCE(h.budget, 2),
         |                         greatest(1, CAST(floor(${CrawlConfig().deltaPerBatchSec}.0 / h.crawl_delay) AS BIGINT)))
         |              ELSE COALESCE(h.budget, 2) END AS budget,
         |         COALESCE(h.weight, 1.0) * exp(-1e-7 * (epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(c.discovered_ts))) AS priority
         |    FROM cand c LEFT JOIN hostdim h USING (host)
         |   WHERE NOT (regexp_replace(url, '^https://[^/]*', '') LIKE '/private/%'
         |              OR (host = 'src13.example.com'
         |                  AND regexp_replace(url, '^https://[^/]*', '') LIKE '/articles/%'))
         |),
         |sched AS (
         |  SELECT url FROM (
         |    SELECT url, budget,
         |           ROW_NUMBER() OVER (PARTITION BY host
         |                              ORDER BY priority DESC, discovered_ts DESC, url ASC) AS host_rank
         |      FROM allowed) AS r WHERE host_rank <= budget
         |),
         |latest AS (
         |  SELECT url, text, lang,
         |         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, raw_url DESC) AS rn
         |    FROM canon
         |)
         |SELECT s.url, length(l.text) AS text_len, l.lang
         |  FROM sched s JOIN latest l ON s.url = l.url AND l.rn = 1""".stripMargin,

    "q07_parse_extract" ->
      s"""$PagesCte,
         |latest AS (
         |  SELECT url, text,
         |         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, raw_url DESC) AS rn
         |    FROM canon
         |)
         |SELECT url, text FROM latest WHERE rn = 1 AND text <> ''""".stripMargin,

    "q08_host_agg" ->
      s"""$PagesCte
         |SELECT host, count(*) AS n_pages, min(warc_ts) AS first_ts,
         |       max(warc_ts) AS last_ts, CAST(sum(length(text)) AS BIGINT) AS chars
         |  FROM canon GROUP BY host""".stripMargin,

    "q10_frontier_stats" ->
      s"""$PagesCte
         |SELECT lang, count(*) AS n_pages, count(DISTINCT url) AS n_urls
         |  FROM canon GROUP BY lang""".stripMargin,

    // n_versions: the engine counts distinct xxhash64(text) (content never
    // shuffles); collision-free == count(DISTINCT text), which IS the
    // oracle-expressible definition.
    "q85_recrawl" ->
      s"""$PagesCte
         |SELECT url, count(*) AS n_captures,
         |       count(DISTINCT text) AS n_versions,
         |       min(warc_ts) AS first_ts, max(warc_ts) AS last_ts,
         |       date_diff('second', min(warc_ts), max(warc_ts)) AS span_sec,
         |       CASE WHEN count(DISTINCT text) > 1
         |            THEN date_diff('second', min(warc_ts), max(warc_ts))
         |                   // (count(DISTINCT text) - 1)
         |            ELSE 86400 END AS revisit_sec
         |  FROM canon GROUP BY url""".stripMargin,

    "q86_url_templates" ->
      s"""$PagesCte
         |SELECT host,
         |       regexp_replace(regexp_replace(raw_url, '^https?://[^/]+', ''),
         |                      '[0-9]+', '{N}', 'g') AS template,
         |       count(DISTINCT raw_url) AS n_urls,
         |       count(*) AS n_captures,
         |       count(DISTINCT raw_url) >= 10 AS is_trap
         |  FROM canon GROUP BY 1, 2""".stripMargin,

    // Boundary interpolated from SnapshotBoundarySec. The oracle compares
    // latest-capture TEXT while the engine compares xxhash64(text) — the
    // q85 capture-index trade, equal absent 64-bit collisions. arg_max
    // needs no tie-break: capture offsets per canonical url are distinct
    // by fixture construction (0/+30/+45/+7200 on disjoint residues).
    "q89_snapshot_diff" ->
      s"""$PagesCte
         |SELECT url,
         |       CASE WHEN count(*) FILTER (WHERE warc_ts <= TIMESTAMP '2024-01-01 00:00:00' + to_seconds($SnapshotBoundarySec)) = 0
         |              THEN 'added'
         |            WHEN arg_max(text, warc_ts) FILTER (WHERE warc_ts <= TIMESTAMP '2024-01-01 00:00:00' + to_seconds($SnapshotBoundarySec))
         |                 <> arg_max(text, warc_ts)
         |              THEN 'changed'
         |            ELSE 'unchanged' END AS status,
         |       count(*) FILTER (WHERE warc_ts > TIMESTAMP '2024-01-01 00:00:00' + to_seconds($SnapshotBoundarySec)) AS n_new_captures,
         |       max(warc_ts) AS last_ts
         |  FROM canon GROUP BY url""".stripMargin,

    // NOW interpolated from RecrawlNowSec; the stats CTE mirrors q85
    // clause-for-clause, then the due filter + overdue arithmetic run on
    // epoch-offset integers (date_diff from the fixture EPOCH == Spark's
    // unix_timestamp difference — the anchor cancels).
    "q90_recrawl_due" ->
      s"""$PagesCte,
         |stats AS (
         |  SELECT url, count(DISTINCT text) AS n_versions, max(warc_ts) AS last_ts,
         |         CASE WHEN count(DISTINCT text) > 1
         |              THEN date_diff('second', min(warc_ts), max(warc_ts))
         |                     // (count(DISTINCT text) - 1)
         |              ELSE 86400 END AS revisit_sec
         |    FROM canon GROUP BY url
         |)
         |SELECT url, n_versions, last_ts, revisit_sec,
         |       $RecrawlNowSec - (date_diff('second', TIMESTAMP '2024-01-01 00:00:00', last_ts) + revisit_sec) AS overdue_sec
         |  FROM stats
         | WHERE date_diff('second', TIMESTAMP '2024-01-01 00:00:00', last_ts) + revisit_sec <= $RecrawlNowSec""".stripMargin,

    // The oracle orders by warc_ts alone — per-canonical-url capture
    // offsets are distinct by fixture construction (0/+30/+45/+7200 on
    // disjoint residues), so the engine's content-hash tie-break never
    // fires here.
    "q95_retention" ->
      s"""$PagesCte
         |SELECT url, warc_ts, CAST(rn AS BIGINT) AS rank
         |  FROM (SELECT url, warc_ts,
         |               ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC) AS rn
         |          FROM canon)
         | WHERE rn <= 2""".stripMargin,

    // The engine compares 8-byte xxhash64 digests; the oracle compares
    // the text itself — equal verdicts whenever digests don't collide
    // (fixture-impossible; documented trade in Recrawl.revisitRecords).
    // Ordering: warc_ts alone, the q95 distinct-offsets argument.
    "q132_revisit_cdx" ->
      s"""$PagesCte
         |SELECT url, warc_ts,
         |       coalesce(lag(text) OVER (PARTITION BY url ORDER BY warc_ts) = text,
         |                false) AS is_revisit
         |  FROM canon""".stripMargin,

    // The oracle walks the same synthesized edges one hop at a time
    // (recursive CTE, hop-capped at 2^rounds = 16) and keeps each src's
    // max-hops row — identical to the engine's pointer-doubled fixpoint:
    // terminated chains stop at the terminal with exact hops; loops walk
    // exactly 16 steps on both sides, so final_url/hops agree even there.
    "q134_redirects" ->
      s"""WITH RECURSIVE b AS (
         |  SELECT doc_id, 'https://' || source || '.example.com' AS base,
         |         CAST(doc_id AS VARCHAR) AS id FROM documents),
         |e AS (
         |  SELECT base || '/old/' || id AS src, base || '/articles/' || id AS dst FROM b WHERE doc_id % 17 = 1
         |  UNION ALL SELECT base || '/legacy/' || id, base || '/old2/' || id FROM b WHERE doc_id % 17 = 2
         |  UNION ALL SELECT base || '/old2/' || id, base || '/articles/' || id FROM b WHERE doc_id % 17 = 2
         |  UNION ALL SELECT base || '/l1/' || id, base || '/l2/' || id FROM b WHERE doc_id % 17 = 3
         |  UNION ALL SELECT base || '/l2/' || id, base || '/l3/' || id FROM b WHERE doc_id % 17 = 3
         |  UNION ALL SELECT base || '/l3/' || id, base || '/articles/' || id FROM b WHERE doc_id % 17 = 3
         |  UNION ALL SELECT base || '/a/' || id, base || '/b/' || id FROM b WHERE doc_id % 17 = 4
         |  UNION ALL SELECT base || '/b/' || id, base || '/a/' || id FROM b WHERE doc_id % 17 = 4
         |  UNION ALL SELECT base || '/self/' || id, base || '/self/' || id FROM b WHERE doc_id % 17 = 5),
         |walk AS (
         |  SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e
         |  UNION ALL
         |  SELECT w.src, e.dst, w.hops + 1 FROM walk w JOIN e ON w.cur = e.src
         |   WHERE w.hops < 16)
         |SELECT src AS src_url, cur AS final_url, hops,
         |       CASE WHEN cur IN (SELECT src FROM e) THEN 'unresolved' ELSE 'ok' END AS status
         |  FROM (SELECT src, cur, hops,
         |               ROW_NUMBER() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
         |          FROM walk)
         | WHERE rn = 1""".stripMargin,

    // The oracle's per-shard window IS the semantics the engine's
    // two-phase prefix scan must reproduce (the q98 pattern: oracle
    // windows, engine range-partitions); record_len = text octet length
    // on both sides.
    "q139_cdx_offsets" ->
      s"""$PagesCte
         |SELECT host AS shard, url, warc_ts,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS record_len,
         |       CAST(coalesce(sum(octet_length(encode(text))) OVER (
         |              PARTITION BY host ORDER BY warc_ts, url
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |         AS byte_offset
         |  FROM canon""".stripMargin,

    // Closed-form EWMA: per-term products spelled left-assoc with α and
    // (1−α) interpolated from the ONE Scala evaluation; only the sum's
    // addition order differs — absorbed by the 6-dp round. Host comes
    // off the RAW url (canon.host), captures include listing rows.
    "q151_volume_forecast" -> {
      val om = s"CAST(${1.0 - EwmaAlpha} AS DOUBLE)"
      val al = s"CAST($EwmaAlpha AS DOUBLE)"
      s"""$PagesCte,
         |hourly AS (SELECT host, date_trunc('hour', warc_ts) AS hour,
         |                  CAST(count(*) AS DOUBLE) AS x
         |             FROM canon GROUP BY host, hour),
         |idx AS (SELECT host, hour, x,
         |               ROW_NUMBER() OVER (PARTITION BY host ORDER BY hour) AS t,
         |               count(*) OVER (PARTITION BY host) AS n
         |          FROM hourly)
         |SELECT host, max(n) AS n_hours,
         |       CAST(max(CASE WHEN t = n THEN x END) AS BIGINT) AS last_count,
         |       round(sum(CASE WHEN t = 1 THEN power($om, n - 1) * x
         |                      ELSE $al * power($om, n - t) * x END), 6) AS ewma
         |  FROM idx GROUP BY host""".stripMargin
    },

    // The q05 allowed/budget/rank CTEs with the exclusion clause kept as
    // a flag (the q105 negation trick); the funnel counts both sides of
    // the rank boundary; served_share is one exact int division.
    "q169_politeness_funnel" ->
      s"""$PagesCte,
         |cand AS (
         |  SELECT url, host, max(warc_ts) AS discovered_ts
         |    FROM canon GROUP BY url, host),
         |flags AS (
         |  SELECT c.url, c.host, c.discovered_ts,
         |         (regexp_replace(url, '^https://[^/]*', '') LIKE '/private/%'
         |          OR (host = 'src13.example.com'
         |              AND regexp_replace(url, '^https://[^/]*', '') LIKE '/articles/%')) AS excl
         |    FROM cand c),
         |allowed AS (
         |  SELECT f.url, f.host, f.discovered_ts,
         |         CASE WHEN h.crawl_delay IS NOT NULL AND h.crawl_delay > 0
         |              THEN least(COALESCE(h.budget, 2),
         |                         greatest(1, CAST(floor(${CrawlConfig().deltaPerBatchSec}.0 / h.crawl_delay) AS BIGINT)))
         |              ELSE COALESCE(h.budget, 2) END AS budget,
         |         COALESCE(h.weight, 1.0) * exp(-1e-7 * (epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(f.discovered_ts))) AS priority
         |    FROM flags f LEFT JOIN hostdim h USING (host)
         |   WHERE NOT f.excl),
         |ranked AS (
         |  SELECT host, budget,
         |         ROW_NUMBER() OVER (PARTITION BY host
         |                            ORDER BY priority DESC, discovered_ts DESC, url ASC) AS host_rank
         |    FROM allowed),
         |per AS (SELECT host,
         |               CAST(sum(CASE WHEN host_rank <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_scheduled,
         |               CAST(sum(CASE WHEN host_rank > budget THEN 1 ELSE 0 END) AS BIGINT) AS n_deferred
         |          FROM ranked GROUP BY host),
         |exc AS (SELECT host, count(*) AS n_excluded FROM flags WHERE excl GROUP BY host),
         |hosts AS (SELECT DISTINCT host FROM cand)
         |SELECT h.host,
         |       COALESCE(p.n_scheduled, 0) AS n_scheduled,
         |       COALESCE(p.n_deferred, 0) AS n_deferred,
         |       COALESCE(e.n_excluded, 0) AS n_excluded,
         |       COALESCE(p.n_scheduled, 0) + COALESCE(p.n_deferred, 0) AS n_allowed,
         |       CASE WHEN COALESCE(p.n_scheduled, 0) + COALESCE(p.n_deferred, 0) > 0
         |            THEN CAST(COALESCE(p.n_scheduled, 0) AS DOUBLE)
         |                 / CAST(COALESCE(p.n_scheduled, 0) + COALESCE(p.n_deferred, 0) AS DOUBLE)
         |            END AS served_share
         |  FROM hosts h LEFT JOIN per p USING (host) LEFT JOIN exc e USING (host)""".stripMargin,

    // The q134 recursive walk picks each source's terminal; the frontier
    // union and the ok-only collapse rule mirrored clause-for-clause.
    "q166_redirect_collapse" ->
      s"""${PagesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |b2 AS (
         |  SELECT doc_id, 'https://' || source || '.example.com' AS base,
         |         CAST(doc_id AS VARCHAR) AS id FROM documents),
         |e2 AS (
         |  SELECT base || '/old/' || id AS src, base || '/articles/' || id AS dst FROM b2 WHERE doc_id % 17 = 1
         |  UNION ALL SELECT base || '/legacy/' || id, base || '/old2/' || id FROM b2 WHERE doc_id % 17 = 2
         |  UNION ALL SELECT base || '/old2/' || id, base || '/articles/' || id FROM b2 WHERE doc_id % 17 = 2
         |  UNION ALL SELECT base || '/l1/' || id, base || '/l2/' || id FROM b2 WHERE doc_id % 17 = 3
         |  UNION ALL SELECT base || '/l2/' || id, base || '/l3/' || id FROM b2 WHERE doc_id % 17 = 3
         |  UNION ALL SELECT base || '/l3/' || id, base || '/articles/' || id FROM b2 WHERE doc_id % 17 = 3
         |  UNION ALL SELECT base || '/a/' || id, base || '/b/' || id FROM b2 WHERE doc_id % 17 = 4
         |  UNION ALL SELECT base || '/b/' || id, base || '/a/' || id FROM b2 WHERE doc_id % 17 = 4
         |  UNION ALL SELECT base || '/self/' || id, base || '/self/' || id FROM b2 WHERE doc_id % 17 = 5),
         |walk AS (
         |  SELECT src, dst AS cur, CAST(1 AS BIGINT) AS hops FROM e2
         |  UNION ALL
         |  SELECT w.src, e2.dst, w.hops + 1 FROM walk w JOIN e2 ON w.cur = e2.src
         |   WHERE w.hops < 16),
         |res AS (
         |  SELECT src AS src_url, cur AS final_url,
         |         CASE WHEN cur IN (SELECT src FROM e2) THEN 'unresolved' ELSE 'ok' END AS status
         |    FROM (SELECT src, cur, hops,
         |                 ROW_NUMBER() OVER (PARTITION BY src ORDER BY hops DESC) AS rn
         |            FROM walk) AS t
         |   WHERE rn = 1),
         |frontier AS (
         |  SELECT url FROM (SELECT url FROM canon GROUP BY url) AS c
         |  UNION SELECT src FROM e2),
         |eff AS (SELECT COALESCE(r.final_url, f.url) AS effective_url
         |          FROM frontier f LEFT JOIN res r ON r.src_url = f.url
         |         WHERE COALESCE(r.status, 'ok') = 'ok')
         |SELECT effective_url, count(*) AS n_entries
         |  FROM eff GROUP BY effective_url""".stripMargin,

    // The q132 lag rule (text equality; the engine's digest tie-break is
    // determinism safety — fixture ts are unique per url) with byte
    // masses; savings_ratio is one exact division of summed integers.
    "q167_warc_savings" ->
      s"""$PagesCte,
         |r AS (SELECT host, CAST(octet_length(encode(text)) AS BIGINT) AS record_len,
         |             COALESCE(lag(text) OVER (PARTITION BY url ORDER BY warc_ts) = text,
         |                      false) AS isrev
         |        FROM canon)
         |SELECT host, count(*) AS n_captures,
         |       CAST(sum(CASE WHEN isrev THEN 1 ELSE 0 END) AS BIGINT) AS n_revisits,
         |       CAST(sum(record_len) AS BIGINT) AS bytes_total,
         |       CAST(sum(CASE WHEN isrev THEN 0 ELSE record_len END) AS BIGINT) AS bytes_stored,
         |       CAST(sum(CASE WHEN isrev THEN record_len ELSE 0 END) AS DOUBLE)
         |         / CAST(sum(record_len) AS DOUBLE) AS savings_ratio
         |  FROM r GROUP BY host""".stripMargin,

    // The injections (lastmod +3d on doc_id%9==2; never-captured
    // /preview/ rows on doc_id%10==4) and the classify rule mirrored
    // clause-for-clause; timestamps compare exactly (integer seconds).
    "q162_sitemap_recrawl" ->
      s"""$PagesCte,
         |latest AS (SELECT url, max(warc_ts) AS last_capture FROM canon GROUP BY url),
         |entries AS (
         |  SELECT 'https://' || source || '.example.com/articles/' || CAST(doc_id AS VARCHAR) AS url,
         |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT))
         |           + CASE WHEN doc_id % 9 = 2 THEN INTERVAL 3 DAY ELSE INTERVAL 0 DAY END AS lastmod
         |    FROM documents
         |  UNION ALL
         |  SELECT 'https://' || source || '.example.com/preview/' || CAST(doc_id AS VARCHAR),
         |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) + to_seconds(60)
         |    FROM documents WHERE doc_id % 10 = 4)
         |SELECT e.url, e.lastmod, latest.last_capture,
         |       CASE WHEN latest.last_capture IS NULL THEN 'new'
         |            WHEN e.lastmod > latest.last_capture THEN 'stale'
         |            ELSE 'fresh' END AS status
         |  FROM entries e LEFT JOIN latest USING (url)""".stripMargin,

    // The VALUES rules carry hand-simplified regexes semantically equal
    // to the engine's compiled \Q..\E forms (the literal segments hold
    // no metacharacters); longest-match + allow-tie = the same
    // (len DESC, allow DESC) ordering as the engine's array_max struct.
    "q159_robots_rfc" ->
      s"""$PagesCte,
         |cand AS (SELECT url FROM canon GROUP BY url),
         |p AS (SELECT url, regexp_replace(url, '^https://[^/]*', '') AS path FROM cand),
         |rules(allow, len, rx) AS (VALUES
         |  (false, 13, '^/articles/.*0$$'),
         |  (true, 14, '^/articles/.*00$$'),
         |  (false, 5, '^/tag/'),
         |  (true, 0, '^')),
         |m AS (SELECT p.url, r.allow, r.len
         |        FROM p JOIN rules r ON regexp_matches(p.path, r.rx)),
         |best AS (SELECT url, allow FROM (
         |           SELECT url, allow,
         |                  ROW_NUMBER() OVER (PARTITION BY url
         |                       ORDER BY len DESC, allow DESC) AS rn FROM m) AS t
         |          WHERE rn = 1)
         |SELECT p.url, COALESCE(NOT best.allow, false) AS robots_excluded
         |  FROM p LEFT JOIN best USING (url)""".stripMargin,

    // The oracle's per-shard rank window IS the order the engine's
    // prefix-count scan reproduces (q139 discipline); first-per-block is
    // arg_min over the unique in-shard rank == the engine's min_by.
    "q157_cdx_blocks" ->
      s"""$PagesCte,
         |r AS (SELECT host AS shard, url, warc_ts,
         |             CAST(octet_length(encode(text)) AS BIGINT) AS record_len,
         |             ROW_NUMBER() OVER (PARTITION BY host ORDER BY warc_ts, url) AS rk
         |        FROM canon),
         |b AS (SELECT shard, CAST((rk - 1) // $CdxBlockSize AS BIGINT) AS block,
         |             url, warc_ts, record_len, rk FROM r)
         |SELECT shard, block,
         |       arg_min(warc_ts, rk) AS first_ts, arg_min(url, rk) AS first_url,
         |       count(*) AS n_records, CAST(sum(record_len) AS BIGINT) AS n_bytes
         |  FROM b GROUP BY shard, block""".stripMargin,

    // Candidate grain == deltaScan (canonical url, latest discovered_ts);
    // the ip dim and rank rule mirrored; pmod spelled ((x%4)+4)%4.
    "q155_ip_budget" ->
      s"""$PagesCte,
         |cand AS (SELECT url, max(warc_ts) AS discovered_ts, min(host) AS host
         |           FROM canon GROUP BY url),
         |wip AS (SELECT url, discovered_ts,
         |               '10.0.0.' || CAST(((ord(substr(host, 1, 1)) % 4) + 4) % 4 AS VARCHAR) AS ip
         |          FROM cand),
         |r AS (SELECT ip, url, discovered_ts,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY ip
         |                  ORDER BY discovered_ts DESC, url) AS INT) AS ip_rank
         |        FROM wip)
         |SELECT ip, url, discovered_ts, ip_rank FROM r WHERE ip_rank <= $IpBudget""".stripMargin,

    // Round-trip oracle (q96 discipline): the engine BUILDS per-host
    // sitemap XML from doc_id and PARSES it back; the oracle states the
    // fixpoint directly — one entry per document, canonical loc (the
    // doc_id%5 tracking param must be stripped), lastmod = EPOCH +
    // doc_id minutes, priority from the exact decimal string. The orphan
    // urlset's /orphan/1 rows must NOT appear.
    "q135_sitemap" ->
      s"""SELECT source || '.example.com' AS host,
         |       'https://' || source || '.example.com/articles/' || CAST(doc_id AS VARCHAR) AS url,
         |       TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) AS lastmod,
         |       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'daily' WHEN 1 THEN 'weekly'
         |            ELSE 'monthly' END AS changefreq,
         |       CAST('0.' || CAST(doc_id % 10 AS VARCHAR) AS DOUBLE) AS priority
         |  FROM documents""".stripMargin,

    // The oracle derives published_ts from doc_id (pub = EPOCH + minutes)
    // where the engine PARSES it out of the html meta per family — equal
    // because q15 verifies the parse round-trips exactly. Lag per CAPTURE
    // (aliases +30/+45, recaptures +7200), integer seconds; quantile_cont
    // is the type-7 interpolation `percentile` implements, 4-dp rounded.
    "q96_publish_lag" ->
      s"""$PagesCte,
         |caps AS (
         |  SELECT p.source || '.example.com' AS host,
         |         CAST(date_diff('second',
         |           TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(p.doc_id AS BIGINT)),
         |           p.warc_ts) AS BIGINT) AS lag_sec
         |    FROM pages p WHERE p.doc_id IS NOT NULL
         |)
         |SELECT host, count(*) AS n_captures,
         |       round(quantile_cont(lag_sec, 0.5), 4) AS p50_lag,
         |       round(quantile_cont(lag_sec, 0.9), 4) AS p90_lag,
         |       max(lag_sec) AS max_lag
         |  FROM caps GROUP BY host""".stripMargin,

    // Seeds mirror the fixture generator: per hostdim host, articles/0 +
    // the listing root (canonicalized: trailing slash trimmed). Coverage
    // is membership in the crawl's distinct canonical url set.
    "q97_seed_coverage" ->
      s"""$PagesCte,
         |seeds AS (
         |  SELECT host, 'https://' || host || '/articles/0' AS url FROM hostdim
         |  UNION ALL
         |  SELECT host, 'https://' || host AS url FROM hostdim
         |),
         |cap AS (SELECT DISTINCT url FROM canon)
         |SELECT s.host, count(*) AS n_seeds,
         |       CAST(sum(CASE WHEN cap.url IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_crawled,
         |       round(sum(CASE WHEN cap.url IS NOT NULL THEN 1 ELSE 0 END) * 1.0
         |             / count(*), 4) AS coverage
         |  FROM seeds s LEFT JOIN cap ON s.url = cap.url
         | GROUP BY s.host""".stripMargin,

    // The violation predicate mirrors q04's allow clause, negated, on the
    // canonical path; raw_url/warc_ts come from the capture row.
    "q105_robots_violations" ->
      s"""$PagesCte,
         |p AS (SELECT host, raw_url, warc_ts,
         |             regexp_replace(url, '^https://[^/]*', '') AS path
         |        FROM canon)
         |SELECT host, raw_url, warc_ts
         |  FROM p
         | WHERE path LIKE '/private/%'
         |    OR (host = 'src13.example.com' AND path LIKE '/articles/%')""".stripMargin,

    "q13_running_totals" ->
      s"""$PagesCte,
         |daily AS (
         |  SELECT host, date_trunc('day', warc_ts) AS day, count(*) AS n
         |    FROM canon GROUP BY host, date_trunc('day', warc_ts)
         |)
         |SELECT host, day, n,
         |       CAST(sum(n) OVER (PARTITION BY host ORDER BY day
         |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n,
         |       CAST(ntile(4) OVER (PARTITION BY host ORDER BY day) AS INT) AS quartile
         |  FROM daily""".stripMargin,

    "q14_capture_gaps" ->
      s"""$PagesCte,
         |g AS (
         |  SELECT host, raw_url AS url,
         |         epoch(warc_ts) - epoch(lag(warc_ts, 1) OVER (PARTITION BY host
         |                                ORDER BY warc_ts, raw_url)) AS gap_sec
         |    FROM canon
         |)
         |SELECT host, url, CAST(gap_sec AS BIGINT) AS gap_sec FROM g
         | WHERE gap_sec IS NOT NULL""".stripMargin,

    "q15_published_dates" ->
      s"""$PagesCte,
         |art AS (
         |  SELECT DISTINCT rtrim(regexp_replace(split_part(split_part(p.url, '#', 1), '?', 1), '%3([0-9])', '\\1', 'g'), '/') AS url,
         |         p.source || '.example.com' AS host, p.doc_id
         |    FROM pages p WHERE p.doc_id IS NOT NULL
         |),
         |withpub AS (
         |  SELECT url, host,
         |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) AS pub
         |    FROM art
         |)
         |SELECT p.url,
         |       CASE h.family
         |         WHEN 0 THEN strftime(p.pub, '%Y-%m-%d %H:%M:%S')
         |         WHEN 1 THEN strftime(p.pub, '%d %b %Y %H:%M:%S')
         |         WHEN 2 THEN strftime(p.pub, '%m/%d/%Y %H:%M:%S')
         |         WHEN 3 THEN CAST(CAST(epoch(p.pub) AS BIGINT) AS VARCHAR)
         |         WHEN 4 THEN strftime(p.pub, '%Y.%m.%d %H:%M:%S')
         |         ELSE strftime(p.pub, '%a, %d %b %Y %H:%M:%S') END AS published_raw,
         |       p.pub AS published_ts
         |  FROM withpub p JOIN hostdim h USING (host)""".stripMargin,

    "q16_article_upsert" ->
      s"""$PagesCte,
         |caps AS (
         |  SELECT url, raw_url, warc_ts, text,
         |         CAST(floor(epoch(warc_ts - TIMESTAMP '2024-01-01 00:00:00') / 21600) + 1 AS BIGINT) AS batch_id
         |    FROM canon WHERE url LIKE '%/articles/%'
         |),
         |r AS (
         |  SELECT url, batch_id, text,
         |         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, raw_url DESC) AS rn,
         |         COUNT(*) OVER (PARTITION BY url) AS n_versions
         |    FROM caps
         |)
         |SELECT url, n_versions, batch_id AS last_batch, length(text) AS text_len
         |  FROM r WHERE rn = 1""".stripMargin,

    "q44_tickers" ->
      s"""WITH art AS (
         |  SELECT DISTINCT 'https://' || source || '.example.com/articles/' || doc_id AS url,
         |         CAST(doc_id AS BIGINT) AS doc_id
         |    FROM documents
         |),
         |x AS (
         |  SELECT url, doc_id,
         |         unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |    FROM art
         |)
         |SELECT url,
         |       (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker,
         |       CAST(doc_id % 3 + 1 AS INT) AS n_tickers
         |  FROM x""".stripMargin,

    // The q07 (latest + extraction) + q44 (doc_id-derived tickers) + q61
    // (lexicon sentiment) oracle pieces composed — each proven green on
    // its own entry.
    "q62_ticker_sentiment" ->
      s"""$PagesCte,
         |latest AS (
         |  SELECT url, text,
         |         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, raw_url DESC) AS rn
         |    FROM canon),
         |art AS (
         |  SELECT url, text,
         |         CAST(regexp_extract(url, 'articles/([0-9]+)', 1) AS BIGINT) AS doc_id
         |    FROM latest
         |   WHERE rn = 1 AND text <> '' AND url LIKE '%/articles/%'),
         |x AS (SELECT url, doc_id,
         |             unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |        FROM art),
         |tk AS (SELECT url,
         |              (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker
         |         FROM x),
         |sent AS (
         |  SELECT url,
         |         round((len(list_filter(string_split(text,' '), t -> t IN ('fast','big','value')))
         |              - len(list_filter(string_split(text,' '), t -> t IN ('slow','small','error')))) * 1.0
         |              / len(string_split(text,' ')), 4) AS polarity
         |    FROM art)
         |SELECT ticker, count(*) AS n_articles, round(avg(polarity), 4) AS mean_polarity
         |  FROM tk JOIN sent USING (url)
         | GROUP BY ticker""".stripMargin,

    // Pairs over the proven q44 ticker relation (same CTEs), self-joined
    // on url with t1 < t2 — the unordered co-mention edge list.
    "q67_ticker_comention" ->
      s"""WITH art AS (
         |  SELECT DISTINCT 'https://' || source || '.example.com/articles/' || doc_id AS url,
         |         CAST(doc_id AS BIGINT) AS doc_id
         |    FROM documents
         |),
         |x AS (
         |  SELECT url, doc_id,
         |         unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |    FROM art
         |),
         |tk AS (
         |  SELECT url,
         |         (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker
         |    FROM x
         |)
         |SELECT a.ticker AS t1, b.ticker AS t2, count(*) AS n_articles
         |  FROM tk a JOIN tk b ON a.url = b.url AND a.ticker < b.ticker
         | GROUP BY t1, t2""".stripMargin,

    // Fixed-3-iteration HITS over the DIRECTED q67 graph, UNROLLED —
    // h0=1, then a=f(h), h=g(a) three times, normalized ONCE at the end:
    // every intermediate score is an exact integer-valued double on both
    // sides (integer weights), so sum order is irrelevant and only the
    // final division meets the 6-dp rounding.
    "q138_ticker_hits" -> {
      def ar(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.node, COALESCE(x.t, CAST(0 AS DOUBLE)) AS s
           |    FROM nodes n LEFT JOIN
           |         (SELECT e.dst AS node, sum(e.w * p.s) AS t
           |            FROM edges e JOIN $prev p ON p.node = e.src
           |           GROUP BY e.dst) x ON x.node = n.node)""".stripMargin
      def hr(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.node, COALESCE(x.t, CAST(0 AS DOUBLE)) AS s
           |    FROM nodes n LEFT JOIN
           |         (SELECT e.src AS node, sum(e.w * p.s) AS t
           |            FROM edges e JOIN $prev p ON p.node = e.dst
           |           GROUP BY e.src) x ON x.node = n.node)""".stripMargin
      s"""WITH art AS (
         |  SELECT DISTINCT 'https://' || source || '.example.com/articles/' || doc_id AS url,
         |         CAST(doc_id AS BIGINT) AS doc_id
         |    FROM documents
         |),
         |x AS (
         |  SELECT url, doc_id,
         |         unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |    FROM art
         |),
         |tk AS (
         |  SELECT url,
         |         (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker
         |    FROM x
         |),
         |edges AS (
         |  SELECT a.ticker AS src, b.ticker AS dst, CAST(count(*) AS DOUBLE) AS w
         |    FROM tk a JOIN tk b ON a.url = b.url AND a.ticker < b.ticker
         |   GROUP BY src, dst
         |),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |h0 AS (SELECT node, CAST(1 AS DOUBLE) AS s FROM nodes),
         |${ar("h0", "a1")},
         |${hr("a1", "h1")},
         |${ar("h1", "a2")},
         |${hr("a2", "h2")},
         |${ar("h2", "a3")},
         |${hr("a3", "h3")}
         |SELECT a3.node AS ticker,
         |       round(a3.s / (SELECT sum(s) FROM a3), 6) AS authority,
         |       round(h3.s / (SELECT sum(s) FROM h3), 6) AS hub
         |  FROM a3 JOIN h3 USING (node)""".stripMargin
    },

    // Fixed-3-iteration PageRank over the q67 graph, UNROLLED (r0..r3) —
    // the same per-round formula the engine computes; teleport (1-d) and
    // d interpolated from the Scala vals so both sides use the identical
    // doubles. Only the in-mass sum's addition order differs; 6-dp output
    // rounding absorbs it.
    "q69_ticker_pagerank" -> {
      val t = s"CAST(${1.0 - PrDamping} AS DOUBLE)"
      val d = s"CAST($PrDamping AS DOUBLE)"
      def round(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT nodes.node,
           |         $t / nn.n + $d * COALESCE(c.cin, CAST(0 AS DOUBLE)) AS rank
           |    FROM nodes CROSS JOIN nn
           |    LEFT JOIN (SELECT e.dst AS node, sum(p.rank * e.w / o.outw) AS cin
           |                 FROM edges e JOIN outw o USING (src) JOIN $prev p ON p.node = e.src
           |                GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
      s"""WITH art AS (
         |  SELECT DISTINCT 'https://' || source || '.example.com/articles/' || doc_id AS url,
         |         CAST(doc_id AS BIGINT) AS doc_id
         |    FROM documents
         |),
         |x AS (
         |  SELECT url, doc_id,
         |         unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |    FROM art
         |),
         |tk AS (
         |  SELECT url,
         |         (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker
         |    FROM x
         |),
         |pairs AS (
         |  SELECT a.ticker AS t1, b.ticker AS t2, count(*) AS w
         |    FROM tk a JOIN tk b ON a.url = b.url AND a.ticker < b.ticker
         |   GROUP BY t1, t2
         |),
         |edges AS (SELECT t1 AS src, t2 AS dst, w FROM pairs
         |          UNION ALL SELECT t2 AS src, t1 AS dst, w FROM pairs),
         |outw AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / n AS rank FROM nodes CROSS JOIN nn),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")}
         |SELECT node AS ticker, round(rank, 6) AS pagerank FROM r3""".stripMargin
    },

    // The q62 pieces (latest-wins, tickers, sentiment) at the hourly
    // grain, plus the ROWS-frame moving average. Both means run in exact
    // integer 1e-4 units with integer half-away-from-zero division (see
    // the entry comment) — the only float op is the final exact /10000.0.
    "q70_ticker_hourly" ->
      s"""$PagesCte,
         |latest AS (
         |  SELECT url, text, warc_ts,
         |         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, raw_url DESC) AS rn
         |    FROM canon),
         |art AS (
         |  SELECT url, text, warc_ts,
         |         CAST(regexp_extract(url, 'articles/([0-9]+)', 1) AS BIGINT) AS doc_id
         |    FROM latest
         |   WHERE rn = 1 AND text <> '' AND url LIKE '%/articles/%'),
         |x AS (SELECT url, doc_id,
         |             unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |        FROM art),
         |tk AS (SELECT url,
         |              (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker
         |         FROM x),
         |sent AS (
         |  SELECT url,
         |         round((len(list_filter(string_split(text,' '), t -> t IN ('fast','big','value')))
         |              - len(list_filter(string_split(text,' '), t -> t IN ('slow','small','error')))) * 1.0
         |              / len(string_split(text,' ')), 4) AS polarity
         |    FROM art),
         |hourly AS (
         |  SELECT ticker, date_trunc('hour', warc_ts) AS hour, count(*) AS n_articles,
         |         CAST(sum(CAST(round(polarity * 10000) AS BIGINT)) AS BIGINT) AS pol_e4
         |    FROM tk JOIN sent USING (url) JOIN art USING (url)
         |   GROUP BY ticker, hour),
         |m AS (
         |  SELECT *, (CASE WHEN pol_e4 < 0 THEN -1 ELSE 1 END)
         |            * ((2*abs(pol_e4) + n_articles) // (2*n_articles)) AS mean_e4
         |    FROM hourly),
         |wm AS (
         |  SELECT *, CAST(sum(mean_e4) OVER w AS BIGINT) AS s3, count(*) OVER w AS c3
         |    FROM m
         |  WINDOW w AS (PARTITION BY ticker ORDER BY hour
         |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
         |SELECT ticker, hour, n_articles,
         |       mean_e4 / CAST(10000 AS DOUBLE) AS mean_polarity,
         |       ((CASE WHEN s3 < 0 THEN -1 ELSE 1 END)
         |        * ((2*abs(s3) + c3) // (2*c3))) / CAST(10000 AS DOUBLE) AS ma3
         |  FROM wm""".stripMargin,

    // No text filter here — ticker extraction succeeds independently of
    // the extracted text (mirrors tickerRows exactly).
    "q71_ticker_volume_anomaly" ->
      s"""$PagesCte,
         |latest AS (
         |  SELECT url, warc_ts,
         |         ROW_NUMBER() OVER (PARTITION BY url ORDER BY warc_ts DESC, raw_url DESC) AS rn
         |    FROM canon),
         |art AS (
         |  SELECT url, warc_ts,
         |         CAST(regexp_extract(url, 'articles/([0-9]+)', 1) AS BIGINT) AS doc_id
         |    FROM latest
         |   WHERE rn = 1 AND url LIKE '%/articles/%'),
         |x AS (SELECT url, warc_ts, doc_id,
         |             unnest(generate_series(0, CAST(doc_id % 3 AS INT))) AS j
         |        FROM art),
         |tk AS (SELECT url, warc_ts,
         |              (['AAPL','MSFT','GOOG','AMZN','TSLA','NVDA','META','NFLX','INTC','AMD','IBM','ORCL'])[CAST((doc_id + 7*j) % 12 AS INT) + 1] AS ticker
         |         FROM x),
         |hourly AS (
         |  SELECT ticker, date_trunc('hour', warc_ts) AS hour, count(*) AS n_articles
         |    FROM tk GROUP BY ticker, hour),
         |st AS (
         |  SELECT ticker, avg(n_articles) AS mu, stddev_samp(n_articles) AS sd
         |    FROM hourly GROUP BY ticker)
         |SELECT ticker, hour, n_articles,
         |       CASE WHEN sd IS NULL OR sd = 0 THEN NULL
         |            ELSE round((n_articles - mu) / sd, 4) END AS z_score
         |  FROM hourly JOIN st USING (ticker)""".stripMargin,

    // the oracle IS the identity: extract(render(text)) must equal text
    // for every family, so the expected relation is documents verbatim.
    "q177_parse_families" ->
      s"""SELECT doc_id, doc_id % ${graft.core.Parsers.NumFamilies} AS family, text
         |  FROM documents""".stripMargin,

    // hwm interpolated from QuarantineHwmSec; lateness on epoch-offset
    // integers (the q90 anchor-cancel argument). Raw pages rows (the
    // delivery is stored as-is for replay), host via the canon split.
    "q176_late_quarantine" ->
      s"""$PagesCte
         |SELECT url, warc_ts,
         |       split_part(split_part(url, '://', 2), '/', 1) AS host,
         |       $QuarantineHwmSec - date_diff('second', TIMESTAMP '2024-01-01 00:00:00', warc_ts) AS lateness_sec
         |  FROM pages
         | WHERE warc_ts <= TIMESTAMP '2024-01-01 00:00:00' + to_seconds($QuarantineHwmSec)""".stripMargin,

    // content identity stated as text equality (≡ the engine's
    // (xxhash64, length) key absent 64-bit collisions — the q30 contract);
    // support counts DISTINCT prefix pairs in both.
    "q178_dust_rules" ->
      s"""$PagesCte,
         |g AS (SELECT split_part(split_part(url, '://', 2), '/', 1) AS host,
         |             text, url
         |        FROM pages),
         |pr AS (SELECT DISTINCT a.host AS host, a.url AS u1, b.url AS u2
         |         FROM g a JOIN g b
         |           ON a.host = b.host AND a.text = b.text AND a.url < b.url
         |        WHERE starts_with(b.url, a.url))
         |SELECT substr(u2, len(u1) + 1) AS rule_suffix,
         |       count(*) AS support,
         |       count(DISTINCT host) AS n_hosts
         |  FROM pr GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // real captures collapse via the canon CTE (the engine parses no
    // canonical link out of fixture article html — there is none);
    // syndicated rows map to their declared origin article.
    "q179_canonical_collapse" ->
      s"""$PagesCte,
         |eff AS (
         |  SELECT url AS eff_url, raw_url, warc_ts FROM canon
         |  UNION ALL
         |  SELECT 'https://' || source || '.example.com/articles/' || doc_id,
         |         'https://syndication.example.net/s/' || doc_id,
         |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT)) + to_seconds(90)
         |    FROM documents WHERE doc_id % 13 = 5)
         |SELECT eff_url AS url, count(*) AS n_captures,
         |       count(DISTINCT raw_url) AS n_variants, max(warc_ts) AS last_ts
         |  FROM eff GROUP BY 1""".stripMargin,

    // the oracle states the url-observable injection rule the engine's
    // parsed flags must reproduce from the bytes (q177's asymmetric-oracle
    // pattern); TRY_CAST('') is NULL, so %-escaped and listing urls fall
    // to false on both sides.
    "q180_meta_robots" ->
      s"""$PagesCte
         |SELECT url, warc_ts,
         |       coalesce(d % 17 = 4 OR d % 17 = 9, false) AS noindex,
         |       coalesce(d % 17 = 4, false) AS nofollow
         |  FROM (SELECT url, warc_ts,
         |               TRY_CAST(regexp_extract(url, 'articles/([0-9]+)', 1) AS BIGINT) AS d
         |          FROM pages) t""".stripMargin,

    // feature mirror over the same substituted text; word counting on the
    // fixture's single-space token separator (the q70 convention).
    "q181_soft404" ->
      s"""$PagesCte,
         |art AS (
         |  SELECT url, warc_ts,
         |         CASE WHEN d % 19 = 6 THEN '$Soft404Template' ELSE text END AS text
         |    FROM (SELECT url, warc_ts, text,
         |                 TRY_CAST(regexp_extract(url, 'articles/([0-9]+)', 1) AS BIGINT) AS d
         |            FROM pages) t
         |   WHERE d IS NOT NULL)
         |SELECT url, warc_ts,
         |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |       contains(lower(text), 'page not found') AS has_phrase,
         |       contains(lower(text), '404') AS has_code,
         |       (CASE WHEN contains(lower(text), 'page not found') THEN 2 ELSE 0 END
         |        + CASE WHEN contains(lower(text), '404') THEN 1 ELSE 0 END
         |        + CASE WHEN len(string_split(text, ' ')) <= 40 THEN 1 ELSE 0 END) >= 3 AS soft404
         |  FROM art""".stripMargin,

    // the q05 scheduled relation rolled to per-host counts, then the Gini
    // rank formula over (count, host)-sorted rows — all-integer sums, one
    // division per output column, 4-dp rounded on both sides.
    "q187_schedule_fairness" ->
      s"""$PagesCte,
         |cand AS (
         |  SELECT url, host, max(warc_ts) AS discovered_ts
         |    FROM canon GROUP BY url, host
         |),
         |allowed AS (
         |  SELECT c.*, COALESCE(h.weight, 1.0) AS weight,
         |         CASE WHEN h.crawl_delay IS NOT NULL AND h.crawl_delay > 0
         |              THEN least(COALESCE(h.budget, 2),
         |                         greatest(1, CAST(floor(${CrawlConfig().deltaPerBatchSec}.0 / h.crawl_delay) AS BIGINT)))
         |              ELSE COALESCE(h.budget, 2) END AS budget,
         |         COALESCE(h.weight, 1.0) * exp(-1e-7 * (epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(c.discovered_ts))) AS priority
         |    FROM cand c LEFT JOIN hostdim h USING (host)
         |   WHERE NOT (regexp_replace(url, '^https://[^/]*', '') LIKE '/private/%'
         |              OR (host = 'src13.example.com'
         |                  AND regexp_replace(url, '^https://[^/]*', '') LIKE '/articles/%'))
         |),
         |ranked AS (
         |  SELECT url, host, budget,
         |         ROW_NUMBER() OVER (PARTITION BY host
         |                            ORDER BY priority DESC, discovered_ts DESC, url ASC) AS host_rank
         |    FROM allowed
         |),
         |counts AS (
         |  SELECT host, count(*) AS x FROM ranked WHERE host_rank <= budget
         |   GROUP BY host),
         |r2 AS (SELECT *, ROW_NUMBER() OVER (ORDER BY x, host) AS i FROM counts)
         |SELECT count(*) AS n_hosts, CAST(sum(x) AS BIGINT) AS n_scheduled,
         |       round(max(x) * 1.0 / sum(x), 4) AS max_share,
         |       round(2.0 * sum(i * x) / (count(*) * sum(x))
         |             - (count(*) + 1) * 1.0 / count(*), 4) AS gini
         |  FROM r2""".stripMargin,

    // Cho & Garcia-Molina λ̂ replayed relationally: lag over the same
    // (url, warc_ts) frames (fixture timestamps are unique per url, so
    // the engine's text_h tiebreak never fires), change = text
    // inequality (the engine compares xxhash64(text) — equal iff equal
    // text modulo the accepted 64-bit trade), λ from the identical
    // left-assoc formula, 6-dp round absorbing the ln/division ulps;
    // the +0.0 folds DuckDB's -ln(1) = −0.0 to the engine's 0.0.
    "q190_change_rate" ->
      s"""$PagesCte,
         |seq AS (
         |  SELECT url, warc_ts, text,
         |         lag(text) OVER (PARTITION BY url ORDER BY warc_ts) AS prev_text
         |    FROM canon),
         |st AS (
         |  SELECT url,
         |         sum(CASE WHEN prev_text IS NOT NULL THEN 1 ELSE 0 END) AS n_intervals,
         |         sum(CASE WHEN prev_text IS NOT NULL AND prev_text <> text
         |                  THEN 1 ELSE 0 END) AS n_changes,
         |         epoch(max(warc_ts)) - epoch(min(warc_ts)) AS span_sec
         |    FROM seq GROUP BY url),
         |lam AS (
         |  SELECT url, CAST(n_intervals AS BIGINT) AS n_intervals,
         |         CAST(n_changes AS BIGINT) AS n_changes,
         |         span_sec / (n_intervals * 3600.0) AS mih,
         |         -ln((n_intervals - n_changes + 0.5) / (n_intervals + 0.5))
         |           / (span_sec / (n_intervals * 3600.0)) AS lam
         |    FROM st WHERE n_intervals >= 1 AND span_sec > 0)
         |SELECT url, n_intervals, n_changes,
         |       round(mih, 6) AS mean_interval_hours,
         |       round(lam, 6) + 0.0 AS lambda_per_hour,
         |       CASE WHEN lam > 0 THEN round(1.0 / lam, 6) END AS recrawl_hours
         |  FROM lam""".stripMargin,

    // q190's lam CTE re-stated, then hosts weighted by Σ of the same
    // 6-dp-fixed λ̂ ×1e6 (double-rounded exactly as the engine: the
    // output λ is rounded, THEN scaled) feeding the q191 integer
    // apportionment.
    "q194_freshness_budget" ->
      s"""$PagesCte,
         |seq AS (
         |  SELECT url, warc_ts, text,
         |         lag(text) OVER (PARTITION BY url ORDER BY warc_ts) AS prev_text
         |    FROM canon),
         |st AS (
         |  SELECT url,
         |         sum(CASE WHEN prev_text IS NOT NULL THEN 1 ELSE 0 END) AS n_intervals,
         |         sum(CASE WHEN prev_text IS NOT NULL AND prev_text <> text
         |                  THEN 1 ELSE 0 END) AS n_changes,
         |         epoch(max(warc_ts)) - epoch(min(warc_ts)) AS span_sec
         |    FROM seq GROUP BY url),
         |lam AS (
         |  SELECT url,
         |         -ln((n_intervals - n_changes + 0.5) / (n_intervals + 0.5))
         |           / (span_sec / (n_intervals * 3600.0)) AS lam
         |    FROM st WHERE n_intervals >= 1 AND span_sec > 0),
         |w AS (
         |  SELECT split_part(split_part(url, '://', 2), '/', 1) AS host,
         |         CAST(sum(CAST(round(round(lam, 6) * 1000000, 0) AS BIGINT))
         |              AS BIGINT) AS weight
         |    FROM lam GROUP BY host),
         |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
         |b AS (SELECT host, weight,
         |             ($FetchBudgetTotal * weight) // wsum AS base,
         |             ($FetchBudgetTotal * weight) % wsum AS rem
         |        FROM w CROSS JOIN t WHERE wsum > 0),
         |r AS (SELECT host, weight, base,
         |             ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk
         |        FROM b),
         |x AS (SELECT $FetchBudgetTotal - CAST(sum(base) AS BIGINT) AS n_extra FROM b)
         |SELECT host, CAST(weight AS BIGINT) AS weight,
         |       CAST(base + (CASE WHEN rk <= n_extra THEN 1 ELSE 0 END) AS BIGINT) AS alloc
         |  FROM r CROSS JOIN x""".stripMargin,

    // the q05 scheduled-batch chain verbatim, then the Mercator
    // back-end replayed relationally: round-robin host→queue over the
    // lexicographic host order, ready = (rank−1)·delay (all-integer),
    // pop order ROW_NUMBER over the total key (ready, host, rank) —
    // standing in for the engine's GlobalOrder two-phase scan (they
    // agree because the key is total), per-queue sequence likewise.
    "q197_mercator_schedule" ->
      s"""$PagesCte,
         |cand AS (
         |  SELECT url, host, max(warc_ts) AS discovered_ts
         |    FROM canon GROUP BY url, host
         |),
         |allowed AS (
         |  SELECT c.*,
         |         CASE WHEN h.crawl_delay IS NOT NULL AND h.crawl_delay > 0
         |              THEN least(COALESCE(h.budget, 2),
         |                         greatest(1, CAST(floor(${CrawlConfig().deltaPerBatchSec}.0 / h.crawl_delay) AS BIGINT)))
         |              ELSE COALESCE(h.budget, 2) END AS budget,
         |         COALESCE(h.weight, 1.0) * exp(-1e-7 * (epoch(TIMESTAMP '2024-03-01 00:00:00') - epoch(c.discovered_ts))) AS priority
         |    FROM cand c LEFT JOIN hostdim h USING (host)
         |   WHERE NOT (regexp_replace(url, '^https://[^/]*', '') LIKE '/private/%'
         |              OR (host = 'src13.example.com'
         |                  AND regexp_replace(url, '^https://[^/]*', '') LIKE '/articles/%'))
         |),
         |sched AS (
         |  SELECT url, host, host_rank FROM (
         |    SELECT url, host, budget,
         |           ROW_NUMBER() OVER (PARTITION BY host
         |                              ORDER BY priority DESC, discovered_ts DESC, url ASC) AS host_rank
         |      FROM allowed) WHERE host_rank <= budget
         |),
         |hq AS (
         |  SELECT host,
         |         CAST((ROW_NUMBER() OVER (ORDER BY host) - 1) % $MercatorBackQueues AS INT) AS queue_id
         |    FROM (SELECT DISTINCT host FROM sched)
         |),
         |rdy AS (
         |  SELECT s.url, s.host, s.host_rank, q.queue_id,
         |         (s.host_rank - 1) * CAST(COALESCE(h.crawl_delay, 1) AS BIGINT) AS ready_sec
         |    FROM sched s JOIN hq q USING (host) LEFT JOIN hostdim h USING (host)
         |)
         |SELECT url, host, queue_id, ready_sec,
         |       ROW_NUMBER() OVER (ORDER BY ready_sec, host, host_rank) AS emit_order,
         |       ROW_NUMBER() OVER (PARTITION BY queue_id
         |                          ORDER BY ready_sec, host, host_rank) AS queue_seq
         |  FROM rdy""".stripMargin,

    // q190's λ̂ chain (double-rounded to the published 6-dp estimate,
    // ×1e6 fixed-point — the q194 discipline, so Σλ is an EXACT integer
    // both sides), then each policy's E[F] formula mirrored operand-for-
    // operand (f/λ·(1−e^(−λ/f)); λ=0 → 1); only libm exp ulps and mean
    // addition order differ — absorbed by the 6-dp round.
    "q198_refresh_policy" -> {
      val f = s"CAST($RefreshBudgetPerHour AS DOUBLE)"
      s"""$PagesCte,
         |seq AS (
         |  SELECT url, warc_ts, text,
         |         lag(text) OVER (PARTITION BY url ORDER BY warc_ts) AS prev_text
         |    FROM canon),
         |st AS (
         |  SELECT url,
         |         sum(CASE WHEN prev_text IS NOT NULL THEN 1 ELSE 0 END) AS n_intervals,
         |         sum(CASE WHEN prev_text IS NOT NULL AND prev_text <> text
         |                  THEN 1 ELSE 0 END) AS n_changes,
         |         epoch(max(warc_ts)) - epoch(min(warc_ts)) AS span_sec
         |    FROM seq GROUP BY url),
         |lam AS (
         |  SELECT url,
         |         -ln((n_intervals - n_changes + 0.5) / (n_intervals + 0.5))
         |           / (span_sec / (n_intervals * 3600.0)) AS lam
         |    FROM st WHERE n_intervals >= 1 AND span_sec > 0),
         |lam6 AS (
         |  SELECT CAST(round(round(lam, 6) * 1000000, 0) AS BIGINT) AS lam_e6
         |    FROM lam),
         |tot AS (SELECT CAST(sum(lam_e6) AS BIGINT) AS w_e6, count(*) AS n
         |          FROM lam6),
         |uni AS (
         |  SELECT 'uniform' AS policy, count(*) AS n_urls,
         |         round(avg(CASE WHEN lam_e6 = 0 THEN CAST(1.0 AS DOUBLE)
         |                        ELSE ($f / CAST(n AS DOUBLE))
         |                             / (CAST(lam_e6 AS DOUBLE) / 1000000.0)
         |                             * (1.0 - exp(-(CAST(lam_e6 AS DOUBLE) / 1000000.0)
         |                                          / ($f / CAST(n AS DOUBLE))))
         |                   END), 6) AS mean_freshness
         |    FROM lam6 CROSS JOIN tot WHERE w_e6 > 0 GROUP BY n),
         |prop AS (
         |  SELECT 'proportional' AS policy, max(n) AS n_urls_all, count(*) AS n_pos,
         |         sum(($f * CAST(lam_e6 AS DOUBLE) / CAST(w_e6 AS DOUBLE))
         |             / (CAST(lam_e6 AS DOUBLE) / 1000000.0)
         |             * (1.0 - exp(-(CAST(lam_e6 AS DOUBLE) / 1000000.0)
         |                          / ($f * CAST(lam_e6 AS DOUBLE) / CAST(w_e6 AS DOUBLE)))))
         |           AS s
         |    FROM lam6 CROSS JOIN tot WHERE w_e6 > 0 AND lam_e6 > 0)
         |SELECT policy, CAST(n_urls AS BIGINT) AS n_urls, mean_freshness FROM uni
         |UNION ALL
         |SELECT policy, CAST(n_urls_all AS BIGINT) AS n_urls,
         |       round((s + CAST((n_urls_all - n_pos) AS DOUBLE))
         |             / CAST(n_urls_all AS DOUBLE), 6) AS mean_freshness
         |  FROM prop""".stripMargin
    },

    // the TTL-cache replay chain (fetch iff t − last_fetch ≥ TTL, clock
    // reset AT the triggering capture) is stepped capture-by-capture as
    // a recursive CTE — all-integer epoch arithmetic, hash-exact; the
    // recursion depth is the deepest host's distinct-capture count,
    // which the politeness ceiling bounds.
    "q202_robots_ttl" ->
      s"""${PagesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |caps AS (SELECT DISTINCT host, CAST(epoch(warc_ts) AS BIGINT) AS t
         |           FROM canon),
         |rc AS (SELECT host, t,
         |              ROW_NUMBER() OVER (PARTITION BY host ORDER BY t) AS rn
         |         FROM caps),
         |chain AS (
         |  SELECT host, rn, t AS last_fetch, 1 AS n FROM rc WHERE rn = 1
         |  UNION ALL
         |  SELECT c.host, c.rn,
         |         CASE WHEN c.t - ch.last_fetch >= $RobotsTtlSec
         |              THEN c.t ELSE ch.last_fetch END,
         |         ch.n + CASE WHEN c.t - ch.last_fetch >= $RobotsTtlSec
         |                     THEN 1 ELSE 0 END
         |    FROM chain ch JOIN rc c ON c.host = ch.host AND c.rn = ch.rn + 1),
         |fin AS (SELECT ch.host, ch.last_fetch, ch.n
         |          FROM chain ch
         |          JOIN (SELECT host, max(rn) AS mx FROM chain GROUP BY host) l
         |            ON l.host = ch.host AND ch.rn = l.mx),
         |nc AS (SELECT host, count(*) AS n_captures FROM caps GROUP BY host)
         |SELECT nc.host, CAST(nc.n_captures AS BIGINT) AS n_captures,
         |       CAST(f.n AS BIGINT) AS n_robots_fetches,
         |       f.last_fetch AS last_fetch_sec,
         |       f.last_fetch + $RobotsTtlSec AS cache_expiry_sec
         |  FROM nc JOIN fin f USING (host)""".stripMargin,

    // the AIMD chain stepped capture-by-capture (q202's recursive-CTE
    // template with the controller state widened to delay+backoffs);
    // the (t, lat) tie-break matches the engine's struct sort, and every
    // state value is an exact integer.
    "q205_adaptive_delay" ->
      s"""${PagesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |caps AS (SELECT host, CAST(epoch(warc_ts) AS BIGINT) AS t,
         |                100 + strlen(text) % 400 AS lat
         |           FROM canon),
         |rc AS (SELECT host, t, lat,
         |              ROW_NUMBER() OVER (PARTITION BY host ORDER BY t, lat) AS rn
         |         FROM caps),
         |chain AS (
         |  SELECT host, CAST(0 AS BIGINT) AS rn,
         |         CAST($AimdInitMs AS BIGINT) AS delay, CAST(0 AS BIGINT) AS backoffs
         |    FROM (SELECT DISTINCT host FROM caps)
         |  UNION ALL
         |  SELECT c.host, c.rn,
         |         CASE WHEN c.lat >= $AimdSlowMs
         |              THEN least(ch.delay * 2, $AimdMaxMs)
         |              ELSE greatest(ch.delay - $AimdStepMs, $AimdMinMs) END,
         |         ch.backoffs + CASE WHEN c.lat >= $AimdSlowMs THEN 1 ELSE 0 END
         |    FROM chain ch JOIN rc c ON c.host = ch.host AND c.rn = ch.rn + 1),
         |fin AS (SELECT ch.host, ch.delay, ch.backoffs
         |          FROM chain ch
         |          JOIN (SELECT host, max(rn) AS mx FROM chain GROUP BY host) l
         |            ON l.host = ch.host AND ch.rn = l.mx)
         |SELECT f.host, CAST(n.n AS BIGINT) AS n_captures,
         |       CAST(f.backoffs AS BIGINT) AS n_backoffs,
         |       CAST(f.delay AS BIGINT) AS final_delay_ms
         |  FROM fin f JOIN (SELECT host, count(*) AS n FROM caps GROUP BY host) n
         |    USING (host)""".stripMargin,

    // all-integer Hamilton apportionment — base = floor division,
    // remainder rank (rem desc, host asc), extras = total − Σbase;
    // hash-exact, no float anywhere.
    "q191_budget_allocation" ->
      s"""$PagesCte,
         |w AS (SELECT host, count(*) AS weight FROM canon GROUP BY host),
         |t AS (SELECT CAST(sum(weight) AS BIGINT) AS wsum FROM w),
         |b AS (SELECT host, weight,
         |             ($FetchBudgetTotal * weight) // wsum AS base,
         |             ($FetchBudgetTotal * weight) % wsum AS rem
         |        FROM w CROSS JOIN t WHERE wsum > 0),
         |r AS (SELECT host, weight, base,
         |             ROW_NUMBER() OVER (ORDER BY rem DESC, host) AS rk
         |        FROM b),
         |x AS (SELECT $FetchBudgetTotal - CAST(sum(base) AS BIGINT) AS n_extra FROM b)
         |SELECT host, CAST(weight AS BIGINT) AS weight,
         |       CAST(base + (CASE WHEN rk <= n_extra THEN 1 ELSE 0 END) AS BIGINT) AS alloc
         |  FROM r CROSS JOIN x""".stripMargin,

    // the q178 mining CTE feeds a suffix-match probe over the distinct
    // URL universe; precision = validated share per rule.
    "q182_dust_apply" ->
      s"""$PagesCte,
         |g AS (SELECT split_part(split_part(url, '://', 2), '/', 1) AS host,
         |             text, url
         |        FROM pages),
         |pr AS (SELECT DISTINCT a.host AS host, a.url AS u1, b.url AS u2
         |         FROM g a JOIN g b
         |           ON a.host = b.host AND a.text = b.text AND a.url < b.url
         |        WHERE starts_with(b.url, a.url)),
         |rules AS (SELECT substr(u2, len(u1) + 1) AS rule_suffix
         |            FROM pr GROUP BY 1 HAVING count(*) >= 2),
         |urls AS (SELECT DISTINCT url FROM pages),
         |m AS (SELECT r.rule_suffix,
         |             substr(u.url, 1, len(u.url) - len(r.rule_suffix)) AS rewritten
         |        FROM urls u JOIN rules r ON ends_with(u.url, r.rule_suffix)),
         |j AS (SELECT m.rule_suffix, (t.url IS NOT NULL) AS hit
         |        FROM m LEFT JOIN urls t ON t.url = m.rewritten)
         |SELECT rule_suffix, count(*) AS n_rewritten,
         |       count(CASE WHEN hit THEN 1 END) AS n_saved,
         |       round(count(CASE WHEN hit THEN 1 END) * 1.0 / count(*), 4) AS rule_precision
         |  FROM j GROUP BY 1""".stripMargin,

    // chunk identity stated as chunk-text equality (≡ the engine's
    // (xxhash64, length) key — the q30 contract); per-capture running
    // boundary sum mirrors the engine's pos window exactly.
    "q183_cdc_chunks" ->
      s"""$PagesCte,
         |art AS (SELECT split_part(split_part(url, '://', 2), '/', 1) AS host,
         |               url, warc_ts, text
         |          FROM pages WHERE len(text) > 0),
         |w AS (SELECT host, url, warc_ts,
         |             unnest(string_split(text, ' ')) AS word,
         |             unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
         |        FROM art),
         |f AS (SELECT *, CASE WHEN len(word) % 4 = 0 THEN 1 ELSE 0 END AS flag FROM w),
         |c AS (SELECT *, sum(flag) OVER (PARTITION BY url, warc_ts ORDER BY pos) - flag AS chunk_id
         |        FROM f),
         |ch AS (SELECT host, url, warc_ts, chunk_id,
         |              string_agg(word, ' ' ORDER BY pos) AS chunk
         |         FROM c GROUP BY host, url, warc_ts, chunk_id),
         |gr AS (SELECT host, chunk, count(*) AS cnt FROM ch GROUP BY host, chunk)
         |SELECT host, CAST(sum(cnt) AS BIGINT) AS n_chunks,
         |       count(*) AS n_unique_chunks,
         |       CAST(sum(cnt * len(chunk)) AS BIGINT) AS chunk_chars,
         |       CAST(sum((cnt - 1) * len(chunk)) AS BIGINT) AS dup_chars_saved
         |  FROM gr GROUP BY host""".stripMargin,

    // q181's flagged-url set pruning the q09 edge relation.
    "q185_dead_links" ->
      s"""$PagesCte,
         |art AS (
         |  SELECT url,
         |         CASE WHEN d % 19 = 6 THEN '$Soft404Template' ELSE text END AS text
         |    FROM (SELECT url, text,
         |                 TRY_CAST(regexp_extract(url, 'articles/([0-9]+)', 1) AS BIGINT) AS d
         |            FROM pages) t
         |   WHERE d IS NOT NULL),
         |dead AS (
         |  SELECT DISTINCT url FROM art
         |   WHERE (CASE WHEN contains(lower(text), 'page not found') THEN 2 ELSE 0 END
         |          + CASE WHEN contains(lower(text), '404') THEN 1 ELSE 0 END
         |          + CASE WHEN len(string_split(text, ' ')) <= 40 THEN 1 ELSE 0 END) >= 3),
         |ranked AS (
         |  SELECT source, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |    FROM documents),
         |links AS (
         |  SELECT source || '.example.com' AS host,
         |         'https://' || source || '.example.com/articles/' || doc_id AS link
         |    FROM ranked WHERE rn <= ${Constants.ListingLinks})
         |SELECT host, count(*) AS n_links,
         |       count(CASE WHEN dead.url IS NOT NULL THEN 1 END) AS n_pruned,
         |       count(*) - count(CASE WHEN dead.url IS NOT NULL THEN 1 END) AS n_kept
         |  FROM links LEFT JOIN dead ON dead.url = links.link
         | GROUP BY host""".stripMargin,

    "q09_link_extract" ->
      s"""WITH ranked AS (
         |  SELECT source, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |    FROM documents
         |)
         |SELECT source || '.example.com' AS host,
         |       'https://' || source || '.example.com/articles/' || doc_id AS link
         |  FROM ranked WHERE rn <= ${Constants.ListingLinks}""".stripMargin
  )
}
