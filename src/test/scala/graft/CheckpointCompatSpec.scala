package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Constants
import graft.operators.{BloomSeen, Checkpoints, CrawlLoop}

/** Backward compatibility of the checkpoint format (round-2 ADVICE): a
  * pre-upgrade state dir (manifests without the cumulative *_total fields;
  * fetch_log deltas without urls_article) must resume with CORRECT running
  * totals, not silent zeros, and batchCounts must not fail. State written
  * before compactions carried seen-set shard tables, or with tables under
  * the older family-blind name, must resume to the same crawl. */
class CheckpointCompatSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import CrawlParitySpec.{cfgBase, crawlOutput, hasCompactionShards}

  private lazy val uninterrupted = crawlOutput(spark,
    CrawlLoop.run(spark, TestSpark.Sf0001, cfgBase.copy(runTag = "compat_full"), fresh = true))

  test("readManifest recovers totals from old-format manifests by summing") {
    val dir = Files.createTempDirectory("graft-ckpt-compat").toString
    val cp = Paths.get(dir, "checkpoints")
    Files.createDirectories(cp)
    // Old format: per-batch fields only, no *_total keys.
    val batches = Seq((1L, 10L, 8L, 7L), (2L, 5L, 5L, 5L), (3L, 2L, 1L, 1L))
    for ((k, s, f, p) <- batches)
      Files.writeString(cp.resolve(s"$k.json"),
        s"""{"batch_id":$k,"article_count":${k * 3},"scheduled":$s,"fetched":$f,"parsed":$p}""")
    val m = Checkpoints.readManifest(dir, 3L)
    assert(m.batchId === 3L)
    assert(m.articleCount === 9L)
    assert(m.scheduledTotal === 17L, "scheduled total not recovered")
    assert(m.fetchedTotal === 14L)
    assert(m.parsedTotal === 13L)
    // New-format manifests are read as-is (no re-summing).
    Checkpoints.commitManifest(dir, Checkpoints.Manifest(4L, 12L, 1L, 1L, 1L, 18L, 15L, 14L))
    val m4 = Checkpoints.readManifest(dir, 4L)
    assert(m4.scheduledTotal === 18L && m4.fetchedTotal === 15L && m4.parsedTotal === 14L)
  }

  test("batchCounts derives article counts when fetch_log lacks urls_article") {
    val dir = Files.createTempDirectory("graft-ckpt-compat2").toString
    // Old-format fetch_log delta: no urls_article column.
    Seq((0, 1L, 6L, 5L, 100L))
      .toDF("partition_id", "host_bucket", "urls_fetched", "urls_parsed", "bytes")
      .write.parquet(s"$dir/fetch_log/b1")
    Seq(("h0.example.com", 7L)).toDF("host", "urls_scheduled")
      .write.parquet(s"$dir/host_log/b1")
    // Articles delta carries the ground truth row count.
    Seq(("https://h0.example.com/articles/1", 1L), ("https://h0.example.com/articles/2", 2L))
      .toDF("url", "fetch_order")
      .write.parquet(s"$dir/articles/b1")
    val (sched, fetched, parsed, arts) = Checkpoints.batchCounts(spark, dir, 1L)
    assert(sched === 7L)
    assert(fetched === 6L)
    assert(parsed === 5L)
    assert(arts === 2L, "article count not derived from articles delta")

    // A zero-article pre-upgrade batch may have NO articles delta dir at
    // all — the fallback must report 0, not throw AnalysisException.
    Seq((0, 1L, 3L, 0L, 50L))
      .toDF("partition_id", "host_bucket", "urls_fetched", "urls_parsed", "bytes")
      .write.parquet(s"$dir/fetch_log/b2")
    Seq(("h0.example.com", 3L)).toDF("host", "urls_scheduled")
      .write.parquet(s"$dir/host_log/b2")
    val (s2, f2, p2, a2) = Checkpoints.batchCounts(spark, dir, 2L)
    assert((s2, f2, p2, a2) === ((3L, 3L, 0L, 0L)))
  }

  test("old layout: a compaction without a shard table resumes to the uninterrupted crawl") {
    // Two inputs: the layout written before compactions carried shard
    // tables, and a compaction whose table sits under the older
    // `seen_compact_shards` name and holds non-Bloom bytes (a cuckoo header:
    // bucket count 32768, then the item count).
    for (legacyTable <- Seq(false, true)) {
      val cfg = cfgBase.copy(runTag = s"compat_old_layout_$legacyTable", seenCompactEvery = 2)
      val dir = Checkpoints.stateDir(cfg.runTag)
      CrawlLoop.run(spark, TestSpark.Sf0001, cfg.copy(maxBatches = 3), fresh = true)
      // A Bloom snapshot per batch, and compactions of rows only.
      Checkpoints.deleteRecursively(Paths.get(Checkpoints.compactShardsDir(dir, 2L)).getParent.toString)
      for (k <- 1L to 3L)
        BloomSeen.buildShards(CrawlLoop.seenUpTo(spark, dir, k).select("url_hash"))
          .write.parquet(s"${Checkpoints.snapDir(dir, k)}/seen_shards")
      if (legacyTable) {
        val n = CrawlLoop.seenUpTo(spark, dir, 2L).count()
        val blob = java.nio.ByteBuffer.allocate(12).putInt(32768).putLong(n).array()
        (0 until Constants.NumShards).map(s => (s, n, blob)).toDF("shard", "n_items", "filter")
          .write.parquet(s"$dir/seen_compact_shards/c2")
      } else
        assert(!hasCompactionShards(dir, 2L))
      assert(Checkpoints.seenBase(dir, 3L) === Some(2L))

      val resumed = CrawlLoop.run(spark, TestSpark.Sf0001, cfg, fresh = false)
      assert(crawlOutput(spark, resumed) === uninterrupted, s"legacyTable = $legacyTable")
      assert(Checkpoints.seenBase(dir, resumed.batches).exists(j => j > 3L && hasCompactionShards(dir, j)),
        "the newest compaction after the resume has no shard table")
      if (legacyTable)
        assert(!Files.exists(Paths.get(dir, "seen_compact_shards")), "the legacy tables were kept")
    }
  }

  test("compactSeen releases old shard tables and torn compactions, committed or not") {
    val dir = Files.createTempDirectory("graft-compact-gc").toString
    for (k <- 1L to 4L)
      Seq((k, s"https://h.example.com/$k", "fetched")).toDF("url_hash", "url", "status")
        .write.parquet(s"$dir/seen/b$k")
    // Compaction 1 died after its shard table and before its rows committed.
    BloomSeen.buildShards(spark.read.parquet(s"$dir/seen/b1").select("url_hash"))
      .write.parquet(Checkpoints.compactShardsDir(dir, 1L))
    Files.createDirectories(Paths.get(Checkpoints.compactDir(dir, 1L)))

    Checkpoints.compactSeen(spark, dir, 4L, 2, Some(BloomSeen.buildShards(_)))
    assert(!Files.exists(Paths.get(Checkpoints.compactShardsDir(dir, 1L))))
    assert(!Files.exists(Paths.get(Checkpoints.compactDir(dir, 1L))))
    assert(Files.exists(Paths.get(Checkpoints.compactShardsDir(dir, 4L), "_SUCCESS")))
    assert(Checkpoints.seenBase(dir, 4L) === Some(4L))
    assert(Checkpoints.readSeen(spark, dir, 4L).count() === 4L)
  }
}
