package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._

import graft.core.Constants

/** The CUCKOO filter family of the partitioned URL-seen set — the second
  * family the north rule names ("partitioned Bloom/cuckoo filters"),
  * selected by `CrawlConfig.cuckooSeen` (see [[BloomSeen.familyOf]]). The
  * shard plumbing (build, merge, both probe shapes, two-tier anti-join) is
  * [[BloomSeen]]'s, called with `family = CuckooSeen.Cuckoo`; this object
  * holds only the filter, its serialization, its [[ShardFilter]] instance
  * and the one capability Bloom lacks, [[deleteFromShards]].
  *
  * Why a second family exists at all: a Bloom filter cannot DELETE. The index
  * lifecycle already supports takedowns (op 106 tombstones, q103); without a
  * deletable seen tier a taken-down url can never be legitimately
  * re-crawled — the bloom keeps vetoing it until a full filter rebuild. The
  * cuckoo filter (Fan, Andersen, Kaminsky, Mitzenmacher: "Cuckoo Filter:
  * Practically Better Than Bloom", CoNEXT 2014) stores displaceable 16-bit
  * fingerprints in 4-slot buckets with two candidate buckets per key
  * (partial-key cuckoo hashing: i2 = i1 XOR hash(fp)), so membership,
  * insertion AND deletion are all O(1) with ~2b/2^16 false-positive rate —
  * and, like Bloom, NO false negatives for present keys, which is the
  * property the two-tier anti-join's correctness rests on. Deletion
  * discipline: the crawl inserts each url_hash at most once (the anti-join
  * guarantees it), so deleting a fetched url removes exactly its own
  * fingerprint copy — per-key delete-then-reinsert stays exact (the
  * documented cuckoo caveat about deleting never-inserted keys cannot arise
  * here).
  *
  * Determinism note: CONTAINS results are a pure function of the inserted
  * key multiset (every copy of a fingerprint lives in one of its two
  * buckets), but the byte layout of the table depends on insertion order —
  * shard blobs are membership-deterministic, not byte-deterministic, across
  * parallelism levels. The crawl's outputs (q11 ordering/seen-set) depend
  * only on membership, so the north-rule invariance probe is unaffected
  * (CuckooSeenSpec pins crawl parity under the cuckoo tier).
  */
object CuckooSeen {

  /** Slots per bucket (b in the paper; 4 → ~95% achievable load). */
  val SlotsPerBucket = 4
  /** Max displacement chain before declaring the filter full. */
  val MaxKicks = 500
  /** Sizing load factor: buckets = nextPow2(expected / (4 × 0.84)). */
  val TargetLoad = 0.84

  /** A single shard's filter. 16-bit fingerprints (0 = empty slot; real
    * fingerprints are remapped to 1), power-of-two bucket count so the
    * partial-key XOR stays closed. */
  final class CuckooFilter(val numBuckets: Int) extends Serializable {
    require(Integer.bitCount(numBuckets) == 1, "bucket count must be a power of two")
    val table = new Array[Short](numBuckets * SlotsPerBucket)
    var nItems: Long = 0L

    // SplitMix64 finalizer — the mixing step both index hashes share.
    @inline private def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }

    @inline def fpOf(h: Long): Short = {
      val f = (mix(h) >>> 48).toInt & 0xFFFF
      (if (f == 0) 1 else f).toShort
    }
    @inline def indexOf(h: Long): Int = (mix(h * 31 + 7).toInt) & (numBuckets - 1)
    @inline def altIndex(i: Int, fp: Short): Int =
      (i ^ mix(fp.toLong & 0xFFFFL).toInt) & (numBuckets - 1)

    private def tryPlace(i: Int, fp: Short): Boolean = {
      val base = i * SlotsPerBucket
      var s = 0
      while (s < SlotsPerBucket) {
        if (table(base + s) == 0) { table(base + s) = fp; return true }
        s += 1
      }
      false
    }

    /** Insert a fingerprint whose candidate-bucket pair includes `i`
      * (used both by key insertion and by merge, which only knows the
      * bucket a copy was found in). Deterministic eviction: the victim
      * slot rotates with the kick count — no RNG, so a rebuilt filter
      * over the same insertion sequence is byte-identical. */
    private def insertFp(i0: Int, fp0: Short): Unit = {
      var i = i0
      var fp = fp0
      if (tryPlace(i, fp) || tryPlace(altIndex(i, fp), fp)) { nItems += 1; return }
      var kick = 0
      i = altIndex(i0, fp0)
      while (kick < MaxKicks) {
        val slot = i * SlotsPerBucket + ((fp & 0x7FFF) + kick) % SlotsPerBucket
        val victim = table(slot)
        table(slot) = fp
        fp = victim
        i = altIndex(i, fp)
        if (tryPlace(i, fp)) { nItems += 1; return }
        kick += 1
      }
      throw new IllegalStateException(
        s"cuckoo shard over capacity ($nItems items, $numBuckets buckets) — " +
          "raise Constants.CuckooExpectedPerShard or NumShards for this load")
    }

    def insert(h: Long): Unit = insertFp(indexOf(h), fpOf(h))

    def contains(h: Long): Boolean = {
      val fp = fpOf(h)
      val i1 = indexOf(h)
      val i2 = altIndex(i1, fp)
      var s = 0
      while (s < SlotsPerBucket) {
        if (table(i1 * SlotsPerBucket + s) == fp ||
          table(i2 * SlotsPerBucket + s) == fp) return true
        s += 1
      }
      false
    }

    /** Remove ONE copy of the key's fingerprint; true iff one was found. */
    def delete(h: Long): Boolean = {
      val fp = fpOf(h)
      val i1 = indexOf(h)
      val i2 = altIndex(i1, fp)
      var s = 0
      while (s < SlotsPerBucket) {
        if (table(i1 * SlotsPerBucket + s) == fp) {
          table(i1 * SlotsPerBucket + s) = 0; nItems -= 1; return true
        }
        if (table(i2 * SlotsPerBucket + s) == fp) {
          table(i2 * SlotsPerBucket + s) = 0; nItems -= 1; return true
        }
        s += 1
      }
      false
    }

    /** Fold every fingerprint copy of `other` into this filter (re-insert
      * by (bucket, fp) — the pair {i, i XOR hash(fp)} is recoverable from
      * either member, so the copy keeps its candidate buckets). */
    def mergeInPlace(other: CuckooFilter): CuckooFilter = {
      require(other.numBuckets == numBuckets, "shard sizing mismatch")
      var idx = 0
      while (idx < other.table.length) {
        val fp = other.table(idx)
        if (fp != 0) insertFp(idx / SlotsPerBucket, fp)
        idx += 1
      }
      this
    }
  }

  def newFilter(expectedItems: Long = Constants.CuckooExpectedPerShard): CuckooFilter = {
    val want = math.max(1L, math.ceil(expectedItems / (SlotsPerBucket * TargetLoad)).toLong)
    new CuckooFilter(java.lang.Long.highestOneBit(want * 2 - 1).toInt)
  }

  def serialize(f: CuckooFilter): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(12 + 2 * f.table.length)
    buf.putInt(f.numBuckets).putLong(f.nItems)
    f.table.foreach(buf.putShort)
    buf.array()
  }

  def deserialize(bytes: Array[Byte]): CuckooFilter = {
    val buf = java.nio.ByteBuffer.wrap(bytes)
    val f = new CuckooFilter(buf.getInt())
    f.nItems = buf.getLong()
    var i = 0
    while (i < f.table.length) { f.table(i) = buf.getShort(); i += 1 }
    f
  }

  /** The cuckoo family: one [[CuckooFilter]] per shard, sized by
    * `CuckooExpectedPerShard`. */
  object Cuckoo extends ShardFilter {
    type F = CuckooFilter
    def zero: CuckooFilter = newFilter()
    def insert(f: CuckooFilter, urlHash: Long): CuckooFilter = { f.insert(urlHash); f }
    def mightContain(f: CuckooFilter, urlHash: Long): Boolean = f.contains(urlHash)
    def merge(a: CuckooFilter, b: CuckooFilter): CuckooFilter = a.mergeInPlace(b)
    def serialize(f: CuckooFilter): Array[Byte] = CuckooSeen.serialize(f)
    def deserialize(bytes: Array[Byte]): CuckooFilter = CuckooSeen.deserialize(bytes)
    def bufferEncoder: Encoder[CuckooFilter] = Encoders.kryo[CuckooFilter]
  }

  /** THE new capability over Bloom: remove url_hashes from a cuckoo shard
    * table (takedown / revocation — pairs with the index tombstones, op
    * 106). Deletes group to shard-sized lists, each shard's blob is
    * rewritten once; shards with no deletes pass through untouched. The
    * caller removes the same keys from `seen_exact` (tier 2) alongside.
    * No crawl code calls it yet: `CrawlLoop` has no takedown step, and
    * CuckooSeenSpec's takedown-then-recrawl test is its only caller. */
  def deleteFromShards(shards: DataFrame, deletes: DataFrame): DataFrame = {
    val applyDel = udf { (blob: Array[Byte], dels: Seq[Long]) =>
      if (blob == null || dels == null) null
      else {
        val f = deserialize(blob)
        dels.foreach(f.delete)
        (serialize(f), f.nItems)
      }
    }
    val grouped = deletes
      .select(pmod(col("url_hash"), lit(Constants.NumShards)).as("shard"), col("url_hash"))
      .groupBy("shard").agg(collect_list("url_hash").as("dels"))
    shards
      .join(grouped, Seq("shard"), "left")
      .withColumn("upd", applyDel(col("filter"), col("dels")))
      .select(
        col("shard"),
        coalesce(col("upd._2"), col("n_items")).as("n_items"),
        coalesce(col("upd._1"), col("filter")).as("filter"))
  }
}
