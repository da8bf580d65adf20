package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fixtures
import graft.operators.{Checkpoints, CrawlConfig, CrawlLoop}
import graft.oracle.SequentialCrawler
import graft.oracle.SequentialCrawler.PageCap

/** The north_rule's central correctness claim (SURVEY.md §5 layers 2/3):
  * the distributed pipeline reproduces the sequential oracle's crawl
  * ordering (fetch_order sequence) and final URL-seen set exactly, and the
  * run is resumable from checkpoint with byte-identical results. */
class CrawlParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val cfgBase = CrawlParitySpec.cfgBase

  private def loadCaps(sfDir: String): (Seq[PageCap], Seq[String]) =
    CrawlParitySpec.loadCaps(spark, sfDir)

  test("pipeline crawl order and seen set match the sequential oracle (sf0.001)") {
    val (caps, seeds) = loadCaps(TestSpark.Sf0001)
    val oracle = SequentialCrawler.crawl(caps, seeds, cfgBase)
    assert(oracle.articles.nonEmpty)

    val cfg = cfgBase.copy(runTag = "parity")
    val run = CrawlLoop.run(spark, TestSpark.Sf0001, cfg, fresh = true)
    val got = CrawlLoop.articles(spark, run.dir)
      .select($"fetch_order", $"url", $"batch_id", unix_timestamp($"warc_ts").as("ts"), $"text")
      .as[(Long, String, Long, Long, String)]
      .collect()
      .sortBy(_._1)

    // Exact ordering parity: the fetch_order sequence enumerates the same
    // urls in the same order, from the same batches.
    assert(got.length === oracle.articles.length)
    for ((g, o) <- got.zip(oracle.articles)) {
      assert(g._1 === o.fetchOrder)
      assert(g._2 === o.url, s"order diverges at fetch_order=${o.fetchOrder}")
      assert(g._3 === o.batchId, s"batch diverges for ${o.url}")
      assert(g._4 === o.warcTsSec)
      assert(g._5 === o.text, s"text not byte-identical for ${o.url}")
    }

    // Seen-set parity (url -> status).
    val gotSeen = CrawlLoop.seenUpTo(spark, run.dir, run.batches)
      .select($"url", $"status").as[(String, String)].collect().toMap
    assert(gotSeen === oracle.seen)

    // Politeness invariant P3: no robots-excluded url was ever fetched, and
    // per (host, batch) fetch counts never exceed the budget.
    val perHostBatch = CrawlLoop.articles(spark, run.dir)
      .withColumn("host", parse_url($"url", lit("HOST")))
      .groupBy($"host", $"batch_id").count()
      .as[(String, Long, Long)].collect()
    for ((host, _, n) <- perHostBatch) {
      val budget = graft.core.FixtureConstants.byHost(host).budget
      assert(n <= budget, s"budget violated for $host: $n > $budget")
    }
    assert(!gotSeen.exists { case (u, st) => st == "fetched" && u.contains("src13.example.com/articles/") })
  }

  test("crawl_delay enforcement: binding cap matches the oracle exactly (P3)") {
    import graft.core.{Constants, Parsers}
    // Custom fixture where the delay cap BINDS: budget 10 would fetch all 8
    // articles per host in batch 1, but crawl_delay 7200 s over the 6 h
    // Δ-window caps each host at ⌊21600/7200⌋ = 3 fetches per batch.
    val tmp = java.nio.file.Files.createTempDirectory("graft-delay-fix").toString
    val hosts = Seq("d0.test.example", "d1.test.example")
    val rows = for {
      h <- hosts
      i <- 0 until 8
    } yield {
      val text = s"delay fixture body $h $i"
      val published = Constants.EPOCH.plusSeconds(60L * (i + 1))
      (s"https://$h/articles/$i", java.sql.Timestamp.from(published),
        Parsers.renderArticle(0, s"D$i", h, text, published), text, "en")
    }
    rows.toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/pages.parquet")
    hosts.map(h => Tuple1(s"https://$h/articles/1")).toDF("url")
      .write.mode("overwrite").parquet(s"$tmp/seeds.parquet")
    hosts.map(h => (h, Seq("/private/"), 7200.0)).toDF("host", "disallow", "crawl_delay")
      .write.mode("overwrite").parquet(s"$tmp/robots.parquet")
    hosts.map(h => (h, 1.0)).toDF("host", "weight")
      .write.mode("overwrite").parquet(s"$tmp/source_weights.parquet")
    hosts.map(h => (h, 10)).toDF("host", "budget")
      .write.mode("overwrite").parquet(s"$tmp/budgets.parquet")

    val cfg = cfgBase.copy(runTag = "delay_parity")
    val run = CrawlLoop.runWithFixtures(spark, tmp, cfg, fresh = true)

    val caps = rows.map { case (u, ts, h, t, l) =>
      PageCap(u, ts.toInstant.getEpochSecond, h, t, l) }
    val oracle = SequentialCrawler.crawl(
      caps, hosts.map(h => s"https://$h/articles/1"), cfg,
      robots = hosts.map(_ -> Seq("/private/")).toMap,
      weights = hosts.map(_ -> 1.0).toMap,
      budgets = hosts.map(_ -> 10).toMap,
      crawlDelays = hosts.map(_ -> 7200.0).toMap)

    val got = CrawlLoop.articles(spark, run.dir)
      .select($"fetch_order", $"url", $"batch_id")
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.length === oracle.articles.length)
    for ((g, o) <- got.zip(oracle.articles)) {
      assert(g._1 === o.fetchOrder); assert(g._2 === o.url); assert(g._3 === o.batchId)
    }
    // The cap actually bound: every (host, batch) fetched ≤ 3 urls, and the
    // backlog forced ≥ 3 batches (budget alone would finish in 1).
    val perHostBatch = got.groupBy(g => (g._2.split('/')(2), g._3)).view.mapValues(_.length)
    assert(perHostBatch.values.forall(_ <= 3), s"delay cap violated: $perHostBatch")
    assert(got.map(_._3).max >= 3, "delay cap did not spread fetches across batches")
    assert(got.length === hosts.size * 8, "not all articles eventually fetched")
  }

  test("two-tier bloom dedup and exact-only dedup produce identical crawls") {
    val exact = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "parity_exact", useBloom = false), fresh = true)
    val bloom = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "parity"), fresh = false) // reuse committed run
    val a = CrawlLoop.articles(spark, exact.dir).select("fetch_order", "url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, bloom.dir).select("fetch_order", "url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("resume equivalence (P5): interrupted + resumed == uninterrupted") {
    val full = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "resume_full"), fresh = true)

    // Interrupt after 3 batches, then resume to completion.
    val partCfg = cfgBase.copy(runTag = "resume_part")
    CrawlLoop.run(spark, TestSpark.Sf0001, partCfg.copy(maxBatches = 3), fresh = true)
    val resumed = CrawlLoop.run(spark, TestSpark.Sf0001, partCfg, fresh = false)

    assert(resumed.batches === full.batches)
    // Cumulative RunResult totals must cover pre-resume batches too (the
    // manifest carries running totals): resumed == uninterrupted.
    assert(resumed.scheduledTotal === full.scheduledTotal)
    assert(resumed.fetchedTotal === full.fetchedTotal)
    assert(resumed.parsedTotal === full.parsedTotal)
    assert(resumed.articleCount === full.articleCount)
    val a = CrawlLoop.articles(spark, full.dir)
      .select("fetch_order", "url", "batch_id").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, resumed.dir)
      .select("fetch_order", "url", "batch_id").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("kill-point: uncommitted snapshot is invisible and the rerun is identical") {
    val cfg = cfgBase.copy(runTag = "resume_kill")
    CrawlLoop.run(spark, TestSpark.Sf0001, cfg.copy(maxBatches = 4), fresh = true)
    val dir = Checkpoints.stateDir(cfg.runTag)
    // Simulate a crash between the batch-4 data writes and its manifest
    // commit: delete ONLY the manifest. Batch 4's data remains on disk but
    // must be invisible; the rerun overwrites it byte-identically.
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "checkpoints", "4.json"))
    assert(Checkpoints.lastCommitted(dir) === Some(3L))
    val resumed = CrawlLoop.run(spark, TestSpark.Sf0001, cfg, fresh = false)

    val full = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "resume_full"), fresh = false) // committed earlier
    val a = CrawlLoop.articles(spark, full.dir)
      .select("fetch_order", "url").as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, resumed.dir)
      .select("fetch_order", "url").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("fetch-strategy invariance: the shuffled (above-bound) fetch shape crawls identically") {
    // Forcing scheduledBound above BroadcastFetchBound flips the fetch joins
    // from broadcast to shuffled equi-joins AND the fetch_order rank from a
    // single-partition window to the distributed GlobalOrder — the shapes a
    // 10^8-row scheduled set would plan. Output must be byte-identical to
    // the committed broadcast-shape parity run.
    val shuffled = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "parity_shuffled",
        scheduledBoundOverride = graft.operators.Scheduler.BroadcastFetchBound + 1),
      fresh = true)
    val base = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "parity"), fresh = false) // reuse committed run
    val a = CrawlLoop.articles(spark, shuffled.dir)
      .select("fetch_order", "url", "batch_id").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, base.dir)
      .select("fetch_order", "url", "batch_id").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(a === b)
    // Seen-set parity too (fetch-misses flow through the shuffled join).
    val sa = CrawlLoop.seenUpTo(spark, shuffled.dir, shuffled.batches)
      .select("url", "status").as[(String, String)].collect().toSet
    val sb = CrawlLoop.seenUpTo(spark, base.dir, base.batches)
      .select("url", "status").as[(String, String)].collect().toSet
    assert(sa === sb)
  }

  test("host-rank strategy invariance: distributed two-phase == window (skew + ties)") {
    // Synthetic candidates: heavy host skew (h0 ≫ others), duplicate
    // priorities inside a host (ties broken by url asc), a host absent
    // from the dims (defaults), and a budget that cuts mid-group.
    val ts = java.sql.Timestamp.valueOf("2024-01-01 03:00:00")
    val cands = ((1 to 500).map(i => (f"https://h0.example.com/a$i%03d", "h0.example.com")) ++
      (1 to 40).map(i => (f"https://h1.example.com/b$i%03d", "h1.example.com")) ++
      (1 to 3).map(i => (f"https://hx.example.com/c$i%03d", "hx.example.com")))
      .toDF("url", "host")
      .withColumn("discovered_ts",
        expr("timestampadd(MINUTE, CAST(substring(url, -2) AS INT) % 7, TIMESTAMP '2024-01-01 00:00:00')"))
      .withColumn("url_hash", xxhash64(col("url")))
    val weights = Seq(("h0.example.com", 2.0), ("h1.example.com", 5.0)).toDF("host", "weight")
    val budgets = Seq(("h0.example.com", 3L), ("h1.example.com", 2L)).toDF("host", "budget")
    val cfg = CrawlConfig(budgetScale = 7) // budget 21/14 cuts inside both hosts
    def ranked(dist: Boolean) =
      graft.operators.Scheduler.rankCandidates(cands, weights, budgets, cfg,
        None, distHostRank = dist)
        .select($"url", $"host_rank".cast("long"))
        .as[(String, Long)].collect().toSeq.sorted
    assert(ranked(dist = true) === ranked(dist = false))
    assert(ranked(dist = false).nonEmpty)
  }

  test("seen compaction: aggressive K=2 folds deltas, outputs identical, resume works") {
    val cfg = cfgBase.copy(runTag = "compact2", seenCompactEvery = 2)
    // Interrupt mid-run so resume crosses a compaction boundary, then finish.
    CrawlLoop.run(spark, TestSpark.Sf0001, cfg.copy(maxBatches = 3), fresh = true)
    val run = CrawlLoop.run(spark, TestSpark.Sf0001, cfg, fresh = false)
    val base = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "parity"), fresh = false) // committed broadcast run

    val a = CrawlLoop.articles(spark, run.dir)
      .select("fetch_order", "url", "batch_id").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, base.dir)
      .select("fetch_order", "url", "batch_id").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(a === b)
    val sa = CrawlLoop.seenUpTo(spark, run.dir, run.batches)
      .select("url", "status").as[(String, String)].collect()
    val sb = CrawlLoop.seenUpTo(spark, base.dir, base.batches)
      .select("url", "status").as[(String, String)].collect()
    assert(sa.length === sa.map(_._1).distinct.length, "compaction duplicated seen rows")
    assert(sa.toSet === sb.toSet)

    // The leak is actually closed: delta dirs are bounded by ~K (+ the
    // trailing uncompacted batches), not O(batches), and a compacted
    // snapshot exists with a _SUCCESS commit marker.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def list(sub: String): Seq[String] = {
      val p = Paths.get(run.dir, sub)
      if (!Files.isDirectory(p)) Nil
      else scala.util.Using.resource(Files.list(p))(_.iterator().asScala.map(_.getFileName.toString).toSeq)
    }
    assert(run.batches >= 4, "fixture run too short to exercise compaction")
    val deltas = list("seen")
    assert(deltas.length <= 4,
      s"seen deltas not released: $deltas (batches=${run.batches})")
    val compactions = list("seen_compact")
    assert(compactions.nonEmpty && compactions.length <= 2,
      s"unexpected compaction set: $compactions")
  }

  test("garbage urls in the pages feed never kill the crawl (web-scale robustness)") {
    // Real crawl tables carry malformed urls (bad escapes, junk schemes,
    // nulls). try_parse_url semantics mean they canonicalize to NULL and
    // drop out; strict parse_url would throw and kill the job. The clean
    // rows must still crawl normally.
    import graft.core.{Constants, Parsers}
    val tmp = java.nio.file.Files.createTempDirectory("graft-garbage-fix").toString
    val host = "g0.test.example"
    val clean = (0 until 4).map { i =>
      val text = s"clean body $host $i"
      (s"https://$host/articles/$i",
        java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(60L * (i + 1))),
        Parsers.renderArticle(0, s"G$i", host, text, Constants.EPOCH.plusSeconds(60L * (i + 1))),
        text, "en")
    }
    val junkHtml = "<html><body>junk</body></html>".getBytes("UTF-8")
    val junk = Seq(
      ("https://bad.example.com/a%3zz", java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(90)), junkHtml, "j", "en"),
      ("ftp://not-http.example.com/x", java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(91)), junkHtml, "j", "en"),
      ("not a url at all", java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(92)), junkHtml, "j", "en"),
      ("https://", java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(93)), junkHtml, "j", "en"),
      (null: String, java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(94)), junkHtml, "j", "en"))
    (clean ++ junk).toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/pages.parquet")
    (Seq(s"https://$host/articles/0", "https://bad.example.com/a%3zz", "nope://x")
      ).toDF("url").write.mode("overwrite").parquet(s"$tmp/seeds.parquet")
    Seq((host, Seq("/private/"), 0.0)).toDF("host", "disallow", "crawl_delay")
      .write.mode("overwrite").parquet(s"$tmp/robots.parquet")
    Seq((host, 1.0)).toDF("host", "weight")
      .write.mode("overwrite").parquet(s"$tmp/source_weights.parquet")
    Seq((host, 10)).toDF("host", "budget")
      .write.mode("overwrite").parquet(s"$tmp/budgets.parquet")

    val run = CrawlLoop.runWithFixtures(spark, tmp,
      cfgBase.copy(runTag = "garbage_parity"), fresh = true)
    val got = CrawlLoop.articles(spark, run.dir)
      .select($"url").as[String].collect().toSet
    assert(got === (0 until 4).map(i => s"https://$host/articles/$i").toSet,
      "clean articles crawl; garbage rows drop without killing the job")
  }

  test("bucket-count invariance: numBuckets does not change outputs") {
    val r2 = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "buckets2", numBuckets = 2, maxBatches = 3), fresh = true)
    val r32 = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "buckets32", numBuckets = 32, maxBatches = 3), fresh = true)
    val a = CrawlLoop.articles(spark, r2.dir)
      .select("fetch_order", "url").as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, r32.dir)
      .select("fetch_order", "url").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a === b)
  }

  test("compaction-time Bloom filter: stop after a compaction, resume == oracle and exact-only") {
    CrawlParitySpec.assertCompactedFilterParity(spark, cfgBase.copy(runTag = "compact_filter"))
  }

  test("compaction-time filter, broadcast probe: stop after a compaction, resume == oracle and exact-only") {
    CrawlParitySpec.assertCompactedFilterParity(spark,
      cfgBase.copy(runTag = "compact_filter_bcast", bloomBroadcastProbe = true))
  }

  test("compaction-time filter above BroadcastFetchBound: stop after a compaction, resume == oracle and exact-only") {
    CrawlParitySpec.assertCompactedFilterParity(spark, cfgBase.copy(runTag = "compact_filter_mega",
      scheduledBoundOverride = graft.operators.Scheduler.BroadcastFetchBound + 1))
  }
}

object CrawlParitySpec {
  import org.scalatest.Assertions._

  val cfgBase: CrawlConfig = CrawlConfig(deltaPerBatchSec = 6L * 3600)

  def loadCaps(spark: SparkSession, sfDir: String): (Seq[PageCap], Seq[String]) = {
    import spark.implicits._
    val fixDir = Fixtures.ensure(spark, sfDir)
    val caps = spark.read.parquet(s"$fixDir/pages.parquet")
      .select($"url", unix_timestamp($"warc_ts").as("ts"), $"html", $"text", $"lang")
      .as[(String, Long, Array[Byte], String, String)]
      .collect()
      .map { case (u, ts, h, t, l) => PageCap(u, ts, h, t, l) }
      .toSeq
    val seeds = spark.read.parquet(s"$fixDir/seeds.parquet").as[String].collect().toSeq
    (caps, seeds)
  }

  /** A committed run's articles as (fetch_order, url, batch_id, warc_ts
    * seconds, text) in fetch order, and its seen set (url → status). */
  def crawlOutput(spark: SparkSession, run: CrawlLoop.RunResult)
      : (Seq[(Long, String, Long, Long, String)], Map[String, String]) = {
    import spark.implicits._
    val articles = CrawlLoop.articles(spark, run.dir)
      .select($"fetch_order", $"url", $"batch_id", unix_timestamp($"warc_ts"), $"text")
      .as[(Long, String, Long, Long, String)].collect().sortBy(_._1).toSeq
    val seen = CrawlLoop.seenUpTo(spark, run.dir, run.batches)
      .select($"url", $"status").as[(String, String)].collect().toMap
    (articles, seen)
  }

  def hasShardSnapshot(dir: String, k: Long): Boolean =
    Files.exists(Paths.get(Checkpoints.snapDir(dir, k), "seen_shards"))

  def hasCompactionShards(dir: String, j: Long): Boolean =
    Files.exists(Paths.get(Checkpoints.compactShardsDir(dir, j), "_SUCCESS"))

  /** Crawl sf0.001 with the seen set compacted every 2 batches, stop right
    * after the first compaction, then resume to the end. The batches
    * before it write no shard snapshot, the compaction carries its shard
    * table, and the batches after it probe that table: fetch order and
    * seen set must equal the sequential oracle and an exact-only run. */
  def assertCompactedFilterParity(spark: SparkSession, cfg0: CrawlConfig): Unit = {
    val cfg = cfg0.copy(seenCompactEvery = 2)
    val dir = Checkpoints.stateDir(cfg.runTag)
    CrawlLoop.run(spark, TestSpark.Sf0001, cfg.copy(maxBatches = 2), fresh = true)
    assert(!hasShardSnapshot(dir, 1), "a batch wrote a shard snapshot")
    assert(hasCompactionShards(dir, 2), "the compaction carries no shard table")
    val resumed = CrawlLoop.run(spark, TestSpark.Sf0001, cfg, fresh = false)
    assert(resumed.batches >= 4, "fixture run too short to probe the compaction's filter")
    assert((1L to resumed.batches).forall(k => !hasShardSnapshot(dir, k)))

    val (caps, seeds) = loadCaps(spark, TestSpark.Sf0001)
    val oracle = SequentialCrawler.crawl(caps, seeds, cfg)
    val (articles, seen) = crawlOutput(spark, resumed)
    assert(articles === oracle.articles.map(a =>
      (a.fetchOrder, a.url, a.batchId, a.warcTsSec, a.text)))
    assert(seen === oracle.seen)
    val exact = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfg.copy(runTag = s"${cfg.runTag}_exact", useBloom = false), fresh = true)
    assert(crawlOutput(spark, exact) === ((articles, seen)))
  }
}
