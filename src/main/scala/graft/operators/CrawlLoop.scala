package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Constants, Fixtures}

/** The multi-batch crawl driver with exact resume — SURVEY.md §3 E2 / §2 op 43.
  *
  * A deterministic batch loop (plain Scala `while` over batch ids, each
  * iteration a pure batch job + manifest-last checkpoint commit) rather than
  * Structured Streaming: the north_rule demands exact resume + reproducible
  * ordering and the source is a static table, so determinism wins
  * (SURVEY.md §2 op 43). A streaming wrapper over the same
  * `Scheduler.runBatch` lives in graft.streaming.
  *
  * State layout (scale notes):
  *  - `seen` is APPEND-ONLY: per-batch deltas under `seen/b<k>`; the reader
  *    unions committed deltas. At 10^10 urls a full rewrite per batch would
  *    be quadratic I/O — appends keep the per-batch write O(batch).
  *  - `frontier` is a full snapshot per batch (rows leave the frontier when
  *    scheduled/excluded); its size is the discovery-fetch backlog, not the
  *    corpus.
  *  - The seen-set filter (Bloom shard blobs, NumShards rows) is
  *    built only when the seen set is compacted, as
  *    `seen_compact_bloom/c<j>` beside the compaction it summarizes, as LSM
  *    stores keep one filter per file. Each batch anti-joins the deltas
  *    committed since that compaction exactly; no per-batch
  *    `snap=k/seen_shards` is written (older state's snapshots are ignored).
  *  - A filter that could miss rows is never trusted: a compaction without
  *    a table (older state, or a run with the tier off) is probed exactly.
  *    So is one whose table sits under the older `seen_compact_shards`
  *    name, which may hold another filter family's bytes; the next
  *    compaction deletes those tables.
  *
  * Termination: the loop stops when the frontier is empty AND the Δ-scan
  * high-water mark has passed the last page capture (or at cfg.maxBatches).
  */
object CrawlLoop {

  val FrontierSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("host", StringType),
    StructField("discovered_ts", TimestampType)))
  val SeenSchema: StructType = StructType(Seq(
    StructField("url_hash", LongType), StructField("url", StringType),
    StructField("status", StringType)))
  val ShardSchema: StructType = StructType(Seq(
    StructField("shard", IntegerType), StructField("n_items", LongType),
    StructField("filter", BinaryType)))

  final case class RunResult(dir: String, batches: Long, articleCount: Long,
      scheduledTotal: Long, fetchedTotal: Long, parsedTotal: Long)

  /** Host-universe bound for the distributed per-host rank (see
    * runWithFixtures): its two-phase driver partials are parts × hosts
    * rows, so the strategy is only selected when the budgets dim is small
    * (the consolidated-publisher regime); above it the per-host window
    * already spreads across cores on host cardinality alone. */
  val DistHostRankMaxHosts: Long = 1024L

  def seedFrontier(spark: SparkSession, fixDir: String): DataFrame =
    spark.read.parquet(s"$fixDir/seeds.parquet")
      // scheme prefilter keeps the Column flavor in lockstep with
      // Canonicalize.canonicalScala (which returns None for non-http(s)).
      .filter(graft.core.Canonicalize.isHttpScheme(col("url")))
      .select(graft.core.Canonicalize.canonicalUrl(col("url")).as("url"))
      .filter(col("url").isNotNull)
      .distinct()
      .withColumn("host", try_parse_url(col("url"), lit("HOST")))
      .withColumn("discovered_ts", lit(Constants.EpochTs))
      .select("url", "host", "discovered_ts")

  /** Committed seen rows up to batch k (empty frame when k == 0); reads
    * the newest compacted snapshot + trailing deltas when compaction ran. */
  def seenUpTo(spark: SparkSession, dir: String, k: Long): DataFrame =
    if (k == 0) Checkpoints.emptyFrame(spark, SeenSchema)
    else Checkpoints.readSeen(spark, dir, k)

  /** The seen inputs of a batch: `runBatch`'s `seenExact`, `seenShards`
    * and `seenRecent`, plus the batch's config (filter tier off when there
    * is no table to probe). */
  private final case class SeenInputs(exact: DataFrame, shards: DataFrame,
      recent: Option[DataFrame], cfg: CrawlConfig)

  /** Seen inputs of the batch after batch `upTo`. When the newest
    * compaction carries a shard table, the filter tier probes that
    * compaction and the deltas after it are anti-joined exactly.
    * Otherwise — no compaction yet, the tier off, or a compaction without
    * a table — the whole seen set is anti-joined exactly. */
  private def seenInputs(spark: SparkSession, dir: String, upTo: Long,
      cfg: CrawlConfig): SeenInputs = {
    val base = for {
      j <- Checkpoints.seenBase(dir, upTo) if cfg.useBloom
      shards <- Checkpoints.readCommitted(spark, Checkpoints.compactShardsDir(dir, j))
    } yield (j, shards)
    base match {
      case Some((j, shards)) =>
        SeenInputs(spark.read.parquet(Checkpoints.compactDir(dir, j)), shards,
          Checkpoints.readSeenRecent(spark, dir, j, upTo), cfg)
      case None =>
        SeenInputs(seenUpTo(spark, dir, upTo), Checkpoints.emptyFrame(spark, ShardSchema),
          None, cfg.copy(useBloom = false))
    }
  }

  /** Run (or resume) a crawl over the fixtures of `sfDir`; returns the state
    * dir holding articles / seen / fetch_log / host_log / snapshots. */
  def run(spark: SparkSession, sfDir: String, cfg: CrawlConfig,
      fresh: Boolean = false): RunResult =
    runWithFixtures(spark, Fixtures.ensure(spark, sfDir), cfg, fresh)

  /** Same, over an explicit fixture directory (pages/seeds/robots/
    * source_weights/budgets parquet). */
  def runWithFixtures(spark: SparkSession, fixDir: String, cfg: CrawlConfig,
      fresh: Boolean = false): RunResult = {
    val dir = Checkpoints.stateDir(cfg.runTag)
    if (fresh) Checkpoints.deleteRecursively(dir)

    val pages0 = spark.read.parquet(s"$fixDir/pages.parquet")
    val pages = if (cfg.cacheInputs) pages0.cache() else pages0
    val robots = spark.read.parquet(s"$fixDir/robots.parquet")
    val weights = spark.read.parquet(s"$fixDir/source_weights.parquet")
    val budgets = spark.read.parquet(s"$fixDir/budgets.parquet")

    val maxTsSec = pages.agg(max("warc_ts")).head().getTimestamp(0).toInstant.getEpochSecond

    // Per-run upper bound on a batch's scheduled count (Σ budgets ×
    // budgetScale) — lets runBatch pick the fetch_order strategy without a
    // per-batch counting action. One tiny job per RUN, not per batch.
    // ASSUMPTION the 2× slack encodes: hosts discovered outside the budgets
    // dim (defaulting to budget 2 each) contribute at most another Σbudgets
    // worth of slots. A deployment doing open-web discovery with a sparse
    // budgets dim should set cfg.scheduledBoundOverride (the choice only
    // affects the PHYSICAL plan — both order strategies produce identical
    // output, a misfire just picks the slower one, see Scheduler).
    val budgetRow = budgets.agg(
      coalesce(sum("budget"), lit(0L)), count(lit(1))).head()
    val budgetSum = budgetRow.getLong(0)
    val hostCount = budgetRow.getLong(1)
    val scheduledBound =
      if (cfg.scheduledBoundOverride > 0) cfg.scheduledBoundOverride
      else 2L * budgetSum * cfg.budgetScale
    // Mega-batches over a SMALL host universe flip the final per-host rank
    // to the distributed two-phase strategy (Scheduler.rankCandidates):
    // the window's parallelism is capped at the occupied-host-bucket count,
    // which idles most cores exactly when batches are huge. Output-identical
    // (CrawlParitySpec); bounded because the two-phase driver partials are
    // parts × hosts rows.
    val distHostRank = scheduledBound > Scheduler.BroadcastFetchBound &&
      hostCount <= DistHostRankMaxHosts

    // ---- resume point (op 5): max committed manifest ----------------------
    // Running totals are restored from the manifest's cumulative fields so a
    // resumed run's RunResult (and bench throughput) counts pre-resume
    // batches too.
    var k = Checkpoints.lastCommitted(dir).getOrElse(0L)
    val m0 = if (k == 0) Checkpoints.Manifest(0, 0, 0, 0, 0) else Checkpoints.readManifest(dir, k)
    var articleCount = m0.articleCount
    var scheduledTotal = m0.scheduledTotal
    var fetchedTotal = m0.fetchedTotal
    var parsedTotal = m0.parsedTotal
    var frontier =
      if (k == 0) seedFrontier(spark, fixDir)
      else Checkpoints.readSnap(spark, dir, k, "frontier")

    var done = false
    while (!done && k < cfg.maxBatches) {
      k += 1
      val seen = seenInputs(spark, dir, k - 1, cfg)
      val r = Scheduler.runBatch(spark, pages, frontier, seen.exact, seen.shards,
        robots, weights, budgets, k, articleCount, seen.cfg, scheduledBound,
        distHostRank, seen.recent)

      // Batch counters ride the write jobs as observe() metrics (op 21's
      // mechanism): the fetch_log/host_log write actions collect them as a
      // side effect, so the loop issues ZERO dedicated counting jobs per
      // batch — part of the serial per-batch floor attack (BENCH.md §4).
      val fetchObs = org.apache.spark.sql.Observation(s"${cfg.runTag}_fetch_b$k")
      val hostObs = org.apache.spark.sql.Observation(s"${cfg.runTag}_host_b$k")
      val fetchLogObserved = r.fetchLog.observe(fetchObs,
        sum(col("urls_fetched")).as("fetched"),
        sum(col("urls_parsed")).as("parsed"),
        sum(col("urls_article")).as("articles"))
      val hostLogObserved = r.hostLog.observe(hostObs,
        sum(col("urls_scheduled")).as("scheduled"))

      Checkpoints.writeState(spark, dir, k,
        r.frontier, r.seenDelta, None,
        r.articles, fetchLogObserved, hostLogObserved,
        compact = cfg.compactState)
      // The writes are complete, so the observations resolve immediately;
      // an empty batch sums to NULL → 0.
      def obsLong(o: org.apache.spark.sql.Observation, key: String): Long =
        o.get.get(key) match { case Some(v: Number) => v.longValue(); case _ => 0L }
      val (nScheduled, nFetched, nParsed, nArticles) =
        (obsLong(hostObs, "scheduled"), obsLong(fetchObs, "fetched"),
          obsLong(fetchObs, "parsed"), obsLong(fetchObs, "articles"))
      Checkpoints.commitManifest(dir,
        Checkpoints.Manifest(k, articleCount + nArticles,
          nScheduled, nFetched, nParsed,
          scheduledTotal + nScheduled, fetchedTotal + nFetched,
          parsedTotal + nParsed))
      articleCount += nArticles
      scheduledTotal += nScheduled
      fetchedTotal += nFetched
      parsedTotal += nParsed
      // Post-commit seen compaction (op 5 scale hygiene): bounded file
      // sources per batch read; crash-safe independently of the manifest
      // (a torn compaction is invisible; a killed-then-rerun batch k
      // re-triggers it and overwrites). The compaction's shard table is
      // built here, and only here.
      if (cfg.seenCompactEvery > 0 && k % cfg.seenCompactEvery == 0)
        Checkpoints.compactSeen(spark, dir, k, cfg.seenCompactEvery,
          Option.when(cfg.useBloom)(BloomSeen.buildShards(_)))
      r.cached.foreach(_.unpersist())

      // Re-read committed state (truncates lineage across batches).
      frontier = Checkpoints.readSnap(spark, dir, k, "frontier")

      val hwmDone = Constants.EPOCH.getEpochSecond + k * cfg.deltaPerBatchSec > maxTsSec
      done = hwmDone && frontier.isEmpty
    }
    if (cfg.cacheInputs) pages.unpersist()
    RunResult(dir, k, articleCount, scheduledTotal, fetchedTotal, parsedTotal)
  }

  /** All committed articles of a run. */
  def articles(spark: SparkSession, dir: String): DataFrame = {
    val upTo = Checkpoints.lastCommitted(dir).getOrElse(0L)
    Checkpoints.readAppends(spark, dir, "articles", upTo)
  }
}
