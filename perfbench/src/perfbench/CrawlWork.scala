package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Canonicalize, Constants, Fixtures}
import graft.operators.{BloomSeen, Checkpoints, CrawlConfig, CrawlLoop, Scheduler}
import graft.oracle.SequentialCrawler
import graft.queries.CrawlQueries

/** `crawl_polite`: `CrawlLoop.runWithFixtures` with
  * `CrawlQueries.fullCrawlConfig` over the fixture of a fixed corpus —
  * politeness-bounded micro-batches on the broadcast-fetch path, with cached
  * pages and compacted state writes. Every pass is checked against
  * `SequentialCrawler` on the same fixture.
  *
  * Plain passes call `CrawlLoop.runWithFixtures`. Traced passes mirror
  * that loop from outside, making the same public calls in the same order
  * with a span around each, and check their totals against the plain
  * passes. After each traced batch, three cumulative prefixes of the batch
  * plan (candidates; after the seen probe; after the rank) are counted
  * over the same batch inputs, once the batch's caches are released, to
  * split the state-write span in which the lazy batch plan executes. */
final class CrawlWork(spark: SparkSession, work: String) extends Workload {
  import spark.implicits._

  private val Docs = 30
  // Seed-invariant, as a fixture derived from fixed testdata is.
  private val CorpusSeed = 42L

  private val PrefixScan = "prefix.candidates"
  private val PrefixProbe = "prefix.seen_probe"
  private val PrefixRank = "prefix.rank"

  private var name = ""
  private var fixDir = ""
  private var cfg = CrawlConfig()
  private var oracle: SequentialCrawler.OracleResult = _
  private var firstTotals: Option[Seq[Long]] = None
  private var plainTotals: Option[Seq[Long]] = None
  // Traced-pass row counts: candidates, new, scheduled, bloom-flagged, flagged but unseen.
  private val counts = Array.fill(5)(0L)

  def prepare(rep: Int): Unit = {
    name = s"polite_s$rep"
    val sfDir = s"$work/in/$name"
    Files.createDirectories(Paths.get(sfDir))
    Inputs.writeDocs(spark, sfDir, Docs, CorpusSeed)
    fixDir = Fixtures.ensure(spark, sfDir)
    cfg = CrawlQueries.fullCrawlConfig(sfDir)
  }

  def reference(): Unit = {
    val caps = spark.read.parquet(s"$fixDir/pages.parquet")
      .select($"url", unix_timestamp($"warc_ts"), $"html", $"text", $"lang")
      .as[(String, Long, Array[Byte], String, String)].collect()
      .map { case (u, ts, h, t, l) => SequentialCrawler.PageCap(u, ts, h, t, l) }
    val seeds = spark.read.parquet(s"$fixDir/seeds.parquet").as[String].collect()
    oracle = SequentialCrawler.crawl(caps.toSeq, seeds.toSeq, cfg)
  }

  /** The first batch only: the costliest batch to run cold. */
  override def warm(): Pass = {
    val dir = CrawlLoop.runWithFixtures(spark, fixDir,
      cfg.copy(runTag = s"${name}_warm", maxBatches = 1), fresh = true).dir
    Pass(0, 0, 0, Nil, 0, ops = 0, check = () => 0, release = () => Inputs.deleteRecursively(dir))
  }

  def pass(tag: String, tr: Tracer): Pass = {
    val c = cfg.copy(runTag = s"${name}_$tag")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (res, wallS) =
      if (tr eq Tracer.Off) {
        val r = CrawlLoop.runWithFixtures(spark, fixDir, c, fresh = true)
        (r, (System.nanoTime() - t0) / 1e9)
      } else mirror(c, tr)
    // A batch's latency: from the previous manifest commit (or the start)
    // to its own — when its articles become visible to readers.
    val commits = startMs.toDouble +: (1L to res.batches).map(k =>
      Files.getLastModifiedTime(Paths.get(res.dir, "checkpoints", s"$k.json"))
        .to(TimeUnit.MICROSECONDS) / 1e3)
    val totals = Seq(res.batches, res.scheduledTotal, res.fetchedTotal, res.parsedTotal,
      res.articleCount)
    if (tr eq Tracer.Off) plainTotals = Some(totals)
    Pass(wallS, (res.scheduledTotal + res.fetchedTotal + res.parsedTotal).toDouble, wallS,
      if (tr eq Tracer.Off) commits.sliding(2).map(w => w(1) - w(0)).toSeq else Nil,
      Inputs.dirBytes(res.dir), ops = 1,
      check = () => if (check(res, totals, mirrored = !(tr eq Tracer.Off))) 0 else 1,
      release = () => Inputs.deleteRecursively(res.dir))
  }

  private def check(res: CrawlLoop.RunResult, totals: Seq[Long], mirrored: Boolean): Boolean = {
    val got = CrawlLoop.articles(spark, res.dir)
      .select($"fetch_order", $"url", $"batch_id", unix_timestamp($"warc_ts"), $"text")
      .as[(Long, String, Long, Long, String)].collect().sortBy(_._1).toSeq
    val want = oracle.articles.map(a => (a.fetchOrder, a.url, a.batchId, a.warcTsSec, a.text))
    val seen = CrawlLoop.seenUpTo(spark, res.dir, res.batches)
      .select($"url", $"status").as[(String, String)].collect().toMap
    val missing = seen.count(_._2 == "missing").toLong
    val ok = Seq(
      "fetch_order sequence equals SequentialCrawler" -> (got == want),
      "seen set equals SequentialCrawler" -> (seen == oracle.seen),
      "batches equal SequentialCrawler" -> (res.batches == oracle.batches),
      "fetched + missing = scheduled" -> (res.fetchedTotal + missing == res.scheduledTotal),
      "fetch_order dense from 1" -> (got.map(_._1) == (1L to got.size.toLong)),
      "articles = manifest article count" -> (got.size.toLong == res.articleCount),
      "totals equal across passes" -> firstTotals.forall(_ == totals),
      "traced mirror totals equal CrawlLoop.run" -> (!mirrored || plainTotals.contains(totals)))
    if (firstTotals.isEmpty) firstTotals = Some(totals)
    for ((what, pass) <- ok if !pass) Main.log(s"$name: check failed: $what")
    ok.forall(_._2)
  }

  /** `CrawlLoop.runWithFixtures`, call for call, with spans; returns the
    * run and its wall without the prefix-split counting. */
  private def mirror(c: CrawlConfig, tr: Tracer): (CrawlLoop.RunResult, Double) = {
    require(!c.cuckooSeen, "the traced mirror follows the Bloom seen tier")
    val t0 = System.nanoTime()
    var splitNs = 0L
    val dir = Checkpoints.stateDir(c.runTag)
    Checkpoints.deleteRecursively(dir)
    val pages0 = spark.read.parquet(s"$fixDir/pages.parquet")
    val pages = if (c.cacheInputs) pages0.cache() else pages0
    val robots = spark.read.parquet(s"$fixDir/robots.parquet")
    val weights = spark.read.parquet(s"$fixDir/source_weights.parquet")
    val budgets = spark.read.parquet(s"$fixDir/budgets.parquet")
    val maxTsSec = pages.agg(max("warc_ts")).head().getTimestamp(0).toInstant.getEpochSecond
    val budgetRow = budgets.agg(coalesce(sum("budget"), lit(0L)), count(lit(1))).head()
    val scheduledBound =
      if (c.scheduledBoundOverride > 0) c.scheduledBoundOverride
      else 2L * budgetRow.getLong(0) * c.budgetScale
    val distHostRank = scheduledBound > Scheduler.BroadcastFetchBound &&
      budgetRow.getLong(1) <= CrawlLoop.DistHostRankMaxHosts

    var k = 0L
    var articleCount, scheduledTotal, fetchedTotal, parsedTotal = 0L
    var frontier = CrawlLoop.seedFrontier(spark, fixDir)
    var seenShards = Checkpoints.emptyFrame(spark, CrawlLoop.ShardSchema)
    var done = false
    while (!done && k < c.maxBatches) {
      k += 1
      val seenExact = tr.span("Checkpoints.readSnap")(CrawlLoop.seenUpTo(spark, dir, k - 1))
      val fetchObs = Observation(s"${c.runTag}_fetch_b$k")
      val hostObs = Observation(s"${c.runTag}_host_b$k")
      val (r, newShards) = tr.span("Scheduler.runBatch") {
        val r = Scheduler.runBatch(spark, pages, frontier, seenExact, seenShards,
          robots, weights, budgets, k, articleCount, c, scheduledBound, distHostRank)
        (r, BloomSeen.mergeShards(seenShards, BloomSeen.buildShards(r.seenDelta.select("url_hash"))))
      }
      tr.span("Checkpoints.writeState")(Checkpoints.writeState(spark, dir, k,
        r.frontier, r.seenDelta, newShards, r.articles,
        r.fetchLog.observe(fetchObs, sum(col("urls_fetched")).as("fetched"),
          sum(col("urls_parsed")).as("parsed"), sum(col("urls_article")).as("articles")),
        r.hostLog.observe(hostObs, sum(col("urls_scheduled")).as("scheduled")),
        compact = c.compactState))
      def obsLong(o: Observation, key: String): Long =
        o.get.get(key) match { case Some(v: Number) => v.longValue(); case _ => 0L }
      val (nS, nF, nP, nA) = (obsLong(hostObs, "scheduled"), obsLong(fetchObs, "fetched"),
        obsLong(fetchObs, "parsed"), obsLong(fetchObs, "articles"))
      tr.span("Checkpoints.commitManifest")(Checkpoints.commitManifest(dir,
        Checkpoints.Manifest(k, articleCount + nA, nS, nF, nP,
          scheduledTotal + nS, fetchedTotal + nF, parsedTotal + nP)))
      articleCount += nA; scheduledTotal += nS; fetchedTotal += nF; parsedTotal += nP
      if (c.seenCompactEvery > 0 && k % c.seenCompactEvery == 0)
        Checkpoints.compactSeen(spark, dir, k, c.seenCompactEvery)
      r.cached.foreach(_.unpersist())

      val s0 = System.nanoTime()
      splitBatch(k, c, pages, frontier, seenExact, seenShards, robots, weights, budgets,
        distHostRank, tr)
      splitNs += System.nanoTime() - s0

      frontier = tr.span("Checkpoints.readSnap")(Checkpoints.readSnap(spark, dir, k, "frontier"))
      seenShards = tr.span("Checkpoints.readSnap")(Checkpoints.readSnap(spark, dir, k, "seen_shards"))
      val hwmDone = Constants.EPOCH.getEpochSecond + k * c.deltaPerBatchSec > maxTsSec
      done = hwmDone && tr.span("Checkpoints.readSnap")(frontier.isEmpty)
    }
    if (c.cacheInputs) pages.unpersist()
    (CrawlLoop.RunResult(dir, k, articleCount, scheduledTotal, fetchedTotal, parsedTotal),
      (System.nanoTime() - t0 - splitNs) / 1e9)
  }

  /** Counts the batch plan's cumulative prefixes over batch k's inputs,
    * plus the Bloom tier's false positives: rows it flags as maybe-seen
    * that the exact seen set does not hold. */
  private def splitBatch(k: Long, c: CrawlConfig, pages: DataFrame, frontier: DataFrame,
      seenExact: DataFrame, seenShards: DataFrame, robots: DataFrame, weights: DataFrame,
      budgets: DataFrame, distHostRank: Boolean, tr: Tracer): Unit = {
    val lo = Constants.EPOCH.getEpochSecond + (k - 1) * c.deltaPerBatchSec
    // Scheduler.runBatch's candidate set: Δ-scan ∪ frontier, deduped by canonical url.
    val cands = Scheduler.deltaScan(pages, lo, lo + c.deltaPerBatchSec)
      .unionByName(frontier.select("url", "discovered_ts", "host"))
      .groupBy("url", "host")
      .agg(max("discovered_ts").as("discovered_ts"))
      .withColumn("url_hash", Canonicalize.urlHash(col("url")))
    def probe(): (DataFrame, Seq[DataFrame]) =
      BloomSeen.antiJoinSeen(spark, cands, seenExact,
        if (c.useBloom) Some(seenShards) else None, c.bloomBroadcastProbe)
    def countAndFree(df: DataFrame, cached: Seq[DataFrame]): Long =
      try df.count() finally cached.foreach(_.unpersist())

    counts(0) += tr.span(PrefixScan)(cands.count())
    counts(1) += tr.span(PrefixProbe) { val (rows, cached) = probe(); countAndFree(rows, cached) }
    counts(2) += tr.span(PrefixRank) {
      val (rows, cached) = probe()
      val s = Scheduler.schedule(rows, robots, weights, budgets, c, distHostRank)
      countAndFree(s.scheduled, cached ++ s.cached)
    }
    tr.span("probe.false_positives") {
      if (c.useBloom && !seenShards.isEmpty) {
        val flagged = BloomSeen.tagMaybeSeenBucketed(cands, seenShards)
          .filter(col("__maybe_seen")).select("url_hash").cache()
        counts(3) += flagged.count()
        counts(4) += countAndFree(
          flagged.join(seenExact.select("url_hash"), Seq("url_hash"), "left_anti"), Seq(flagged))
      }
    }
  }

  override def tracedExtras(layers: mutable.Map[String, Counters]): Map[String, Double] = {
    def of(l: String) = layers.getOrElse(l, new Counters)
    val (p1, p2, p3) = (of(PrefixScan), of(PrefixProbe), of(PrefixRank))
    layers("Scheduler.deltaScan") = p1
    layers("BloomSeen.antiJoinSeen") = p2.minus(p1)
    layers("Scheduler.schedule") = p3.minus(p2)
    val write = of("Checkpoints.writeState").selfS
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    Map(
      "Checkpoints.writeState.share_delta_scan" -> ratio(p1.selfS, write),
      "Checkpoints.writeState.share_seen_probe" -> ratio(p2.minus(p1).selfS, write),
      "Checkpoints.writeState.share_rank" -> ratio(p3.minus(p2).selfS, write),
      "Checkpoints.writeState.share_fetch_parse_write" -> ratio(math.max(0.0, write - p3.selfS), write),
      "BloomSeen.antiJoinSeen.fp_ratio" -> ratio(counts(4), counts(3)),
      "BloomSeen.antiJoinSeen.new_ratio" -> ratio(counts(1), counts(0)),
      "Scheduler.schedule.scheduled_ratio" -> ratio(counts(2), counts(1)))
  }
}
