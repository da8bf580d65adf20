package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Constants
import graft.operators.{BloomSeen, CrawlConfig, CrawlLoop, CuckooSeen}

/** The cuckoo seen tier (north_rule's second filter family): no false
  * negatives at design load, deletability (the capability Bloom lacks),
  * merge/serialization identities, exact parity with the bloom tier and
  * exact-only anti-join, takedown-then-recrawl re-admission, and full
  * crawl parity under `cfg.cuckooSeen`. */
class CuckooSeenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import CuckooSeen.Cuckoo

  private def hashesOf(n: Int): Seq[Long] =
    (1L to n.toLong).map(i => i * 2654435761L + 17L)

  test("filter: no false negatives at design load, fp rate near theory, roundtrip") {
    val f = CuckooSeen.newFilter(100000L)
    val keys = hashesOf(100000)
    keys.foreach(f.insert)
    assert(keys.forall(f.contains), "false negative")
    // absent keys: fp rate should be ≤ a loose multiple of 2b/2^16 ≈ 1.2e-4
    val absent = (1L to 100000L).map(i => i * 6364136223846793005L + 3L)
    val fps = absent.count(f.contains)
    assert(fps < 200, s"fp rate too high: $fps / 100000")
    // serialize/deserialize preserves table + count
    val g = CuckooSeen.deserialize(CuckooSeen.serialize(f))
    assert(g.nItems === f.nItems && keys.forall(g.contains))
  }

  test("filter: delete removes the key's copy; delete-then-reinsert is exact") {
    val f = CuckooSeen.newFilter(1000L)
    val keys = hashesOf(1000)
    keys.foreach(f.insert)
    val (del, keep) = keys.splitAt(400)
    del.foreach(h => assert(f.delete(h), s"delete missed $h"))
    assert(f.nItems === keep.size.toLong)
    // kept keys still have no false negatives
    assert(keep.forall(f.contains))
    // re-insert after delete restores membership
    del.foreach(f.insert)
    assert(keys.forall(f.contains))
  }

  test("buildShards + mergeShards: membership preserved, n_items bookkeeping") {
    val a = hashesOf(500)
    val b = (10001L to 10500L).map(i => i * 31L)
    val merged = BloomSeen.mergeShards(
      BloomSeen.buildShards(a.toDF("url_hash"), Cuckoo),
      BloomSeen.buildShards(b.toDF("url_hash"), Cuckoo), Cuckoo)
      .select($"shard".cast("int"), $"n_items", $"filter")
      .as[(Int, Long, Array[Byte])].collect()
    val filters = merged.map { case (s, _, blob) => s -> CuckooSeen.deserialize(blob) }.toMap
    for (h <- a ++ b) {
      val s = java.lang.Math.floorMod(h, Constants.NumShards.toLong).toInt
      assert(filters(s).contains(h), s"false negative post-merge for $h")
    }
    assert(merged.map(_._2).sum === (a.size + b.size).toLong)
  }

  test("two-tier anti-join: cuckoo == bloom == exact-only") {
    val seen = (1L to 3000L).map(i => (i * 31L, s"u$i")).toDF("url_hash", "url")
      .withColumn("status", lit("fetched"))
    val cands = ((1L to 1500L).map(i => i * 31L) ++ (1L to 1500L).map(i => i * 31L + 7L))
      .toDF("url_hash")
      .withColumn("url", concat(lit("c"), col("url_hash")))
    val shards = BloomSeen.buildShards(seen.select("url_hash"), Cuckoo)
    val (cuckooDf, cached) = BloomSeen.antiJoinSeen(spark, cands, seen, Some(shards),
      family = Cuckoo)
    val cuckoo = cuckooDf.select("url_hash").as[Long].collect().sorted.toSeq
    cached.foreach(_.unpersist())
    val cuckooBroadcast = BloomSeen.antiJoinSeen(spark, cands, seen, Some(shards),
      broadcastProbe = true, family = Cuckoo)._1
      .select("url_hash").as[Long].collect().sorted.toSeq
    val exact = BloomSeen.antiJoinSeen(spark, cands, seen, None)._1
      .select("url_hash").as[Long].collect().sorted.toSeq
    val bloomShards = BloomSeen.buildShards(seen.select("url_hash"))
    val (bloomDf, bc) = BloomSeen.antiJoinSeen(spark, cands, seen, Some(bloomShards))
    val bloom = bloomDf.select("url_hash").as[Long].collect().sorted.toSeq
    bc.foreach(_.unpersist())
    assert(cuckoo === exact && cuckooBroadcast === exact && bloom === exact)
    assert(cuckoo.length === 1500)
  }

  test("takedown-then-recrawl: deleted urls are re-admitted, others stay seen") {
    // seen state after a crawl; a takedown revokes 300 urls — they (and
    // ONLY they) must pass the two-tier anti-join again.
    val all = (1L to 2000L).map(i => i * 97L + 5L)
    val (revoked, kept) = all.splitAt(300)
    val seenExact = all.toDF("url_hash").withColumn("status", lit("fetched"))
    val shards0 = BloomSeen.buildShards(seenExact.select("url_hash"), Cuckoo)
    val shards1 = CuckooSeen.deleteFromShards(shards0, revoked.toDF("url_hash"))
    val exactAfter = seenExact.join(
      revoked.toDF("url_hash"), Seq("url_hash"), "left_anti")
    val cands = all.toDF("url_hash")
      .withColumn("url", concat(lit("c"), col("url_hash")))
    val (readmitDf, cached) =
      BloomSeen.antiJoinSeen(spark, cands, exactAfter, Some(shards1), family = Cuckoo)
    val readmit = readmitDf.select("url_hash").as[Long].collect().toSet
    cached.foreach(_.unpersist())
    assert(readmit === revoked.toSet)
    // n_items bookkeeping reflects the deletion
    val n = shards1.agg(sum("n_items")).head().getLong(0)
    assert(n === kept.size.toLong)
  }

  test("crawl under the cuckoo tier == exact-only crawl (order + seen set)") {
    val cfgBase = CrawlConfig(deltaPerBatchSec = 6L * 3600)
    val exact = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "cuckoo_parity_exact", useBloom = false), fresh = true)
    val cuckoo = CrawlLoop.run(spark, TestSpark.Sf0001,
      cfgBase.copy(runTag = "cuckoo_parity", cuckooSeen = true), fresh = true)
    val a = CrawlLoop.articles(spark, exact.dir).select("fetch_order", "url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val b = CrawlLoop.articles(spark, cuckoo.dir).select("fetch_order", "url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(a.nonEmpty && a === b)
  }

  test("compaction-time cuckoo filter: stop after a compaction, resume == oracle and exact-only") {
    CrawlParitySpec.assertCompactedFilterParity(spark,
      CrawlParitySpec.cfgBase.copy(runTag = "cuckoo_compact_filter", cuckooSeen = true))
  }
}
