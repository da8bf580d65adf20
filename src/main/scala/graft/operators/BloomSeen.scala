package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType
import org.apache.spark.util.sketch.BloomFilter

import graft.core.Constants

/** Partitioned Bloom-filter URL-seen set — SURVEY.md §2 ops 12/19/50.
  *
  * north_rule: "10^10-scale URL-seen set via partitioned Bloom/cuckoo filters
  * keyed by canonicalized-URL xxhash64". Layout: `NumShards` shards, shard =
  * pmod(url_hash, NumShards); one `org.apache.spark.util.sketch.BloomFilter`
  * blob per shard (`seen_shards(shard, n_items, filter)`).
  *
  * One filter family. A cuckoo family (deletable entries) ran beside this one
  * with identical output and was removed: it cost 3–7% more than Bloom
  * (BENCH.md §8), its delete operation had no crawl caller, and sharing one
  * table path with Bloom let a resume read one family's table as the other's.
  * A deletable family belongs here only together with a caller for deletes.
  *
  * Scale design: at 10^10 urls the exact seen set is ~TBs and every
  * candidate-vs-seen check would be a giant shuffle join. The filter tier is
  * O(#shards × shard_bytes) — broadcastable — so the overwhelmingly-new
  * candidate stream is filtered map-side with ZERO shuffle; only the ~fpp
  * fraction flagged "possibly seen" pays the exact anti-join against the
  * (bucketed) `seen_exact` table. No false negatives ⇒ the two-tier result
  * is byte-identical to the exact-only anti-join (parity test in
  * BloomSeenSpec).
  *
  * What the filter covers in the crawl: the compacted seen base only —
  * `Checkpoints.compactSeen` builds the shard table from the compacted
  * rows, and the deltas committed after that compaction are anti-joined
  * exactly before this probe runs (`Scheduler.runBatch`'s `seenRecent`;
  * CrawlLoop state layout). `mergeShards` is kept for callers that fold
  * deltas into one table themselves.
  *
  * Blob-handling note — two probe shapes, both avoiding the fatal one (a
  * plain join that attaches the multi-MB blob to every candidate row):
  *
  *  - SHARD-BUCKETED (default, the 10^10-scale shape): candidates are
  *    shuffled by `shard` and COGROUPed with `seen_shards`, so each task
  *    deserializes exactly its own shard's blob ONCE and probes its
  *    candidate group against it. No driver round-trip, no monolithic
  *    broadcast: at the north_rule's 10^10 urls the filter set is ~12 GB
  *    total but a single shard stays worker-sized — the shard count is the
  *    knob. Cost: one narrow shuffle of the candidate keys.
  *  - BROADCAST (opt-in fast path for small seen-states): collect the blobs
  *    to a broadcast map + a scalar predicate — zero shuffle, filters
  *    deserialized once per executor. Correct but driver-bounded; kept
  *    behind CrawlConfig.bloomBroadcastProbe for deployments whose total
  *    filter bytes are broadcastable.
  */
object BloomSeen {

  /** Custom typed aggregate folding url_hashes into one shard's Bloom filter
    * (recipe probed on Spark 4.1.2 — SURVEY.md §0 probe (b)). */
  private class BloomAggregator extends Aggregator[Long, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter =
      BloomFilter.create(Constants.BloomExpectedPerShard, Constants.BloomFpp)
    override def reduce(b: BloomFilter, urlHash: Long): BloomFilter = { b.putLong(urlHash); b }
    override def merge(b1: BloomFilter, b2: BloomFilter): BloomFilter = b1.mergeInPlace(b2)
    override def finish(b: BloomFilter): Array[Byte] = serialize(b)
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def serialize(b: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    b.writeTo(bos)
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))

  /** Build `seen_shards(shard, n_items, filter)` from a DataFrame with a
    * `url_hash` column, one Bloom filter per shard.
    *
    * Implementation note: a bare `groupBy(shard)` aggregation makes the
    * PARTIAL aggregation allocate one ~120 KB filter buffer per
    * (shard × input partition) — thousands of kryo'd megabyte-scale buffers
    * per micro-batch. The explicit `repartition(shard)` first means the
    * aggregation's required distribution is already satisfied (no second
    * exchange — same subset rule as the rank window, SURVEY.md §4) and each
    * task folds only its own shards, so live buffers ≈ NumShards total.
    * Unlike a collect_list-of-hashes variant this stays streaming: a
    * mega-batch delta never materializes per-shard hash arrays. */
  def buildShards(withHash: DataFrame): DataFrame =
    withHash
      .select(pmod(col("url_hash"), lit(Constants.NumShards)).as("shard"), col("url_hash"))
      .repartition(col("shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_items"),
        udaf(new BloomAggregator, Encoders.scalaLong)(col("url_hash")).as("filter"))

  /** Merge two shard tables (previous snapshot OR delta) via bitwise-OR of
    * same-shard filters. #shards rows — trivially cheap at any data scale. */
  def mergeShards(prev: DataFrame, delta: DataFrame): DataFrame = {
    val mergeBlobs = udf { (a: Array[Byte], b: Array[Byte]) =>
      (Option(a), Option(b)) match {
        case (Some(x), Some(y)) =>
          serialize(deserialize(x).mergeInPlace(deserialize(y)))
        case (Some(x), None) => x
        case (None, Some(y)) => y
        case _ => null
      }
    }
    prev
      .select(col("shard"), col("n_items").as("n_prev"), col("filter").as("f_prev"))
      .join(
        delta.select(col("shard"), col("n_items").as("n_delta"), col("filter").as("f_delta")),
        Seq("shard"), "full_outer")
      .select(
        col("shard"),
        (coalesce(col("n_prev"), lit(0L)) + coalesce(col("n_delta"), lit(0L))).as("n_items"),
        mergeBlobs(col("f_prev"), col("f_delta")).as("filter"))
  }

  /** A predicate Column `mightBeSeen(url_hash)` backed by a broadcast of the
    * shard blobs. Map-side, zero shuffle, filters deserialized once per
    * executor. False ⇒ definitely new (bloom has no false negatives). */
  def mightBeSeen(spark: SparkSession, seenShards: DataFrame): Column = {
    val blobs: Map[Int, Array[Byte]] = seenShards
      .select(col("shard").cast("int"), col("filter"))
      .collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1))
      .toMap
    val bc = spark.sparkContext.broadcast(blobs)
    // Deserialize each shard's filter at most once per executor JVM.
    val probeFn = new SerializableProbe(bc)
    val probe = udf((h: Long) => probeFn(h))
    probe(col("url_hash"))
  }

  private class SerializableProbe(
      bc: org.apache.spark.broadcast.Broadcast[Map[Int, Array[Byte]]])
      extends (Long => Boolean) with Serializable {
    @transient private lazy val filters: Map[Int, BloomFilter] =
      bc.value.map { case (s, bytes) => s -> deserialize(bytes) }
    override def apply(urlHash: Long): Boolean = {
      val shard = java.lang.Math.floorMod(urlHash, Constants.NumShards.toLong).toInt
      filters.get(shard).exists(_.mightContainLong(urlHash))
    }
  }

  /** Shard-bucketed bloom probe (the 10^10-scale shape): shuffle candidates
    * by `shard`, COGROUP with the one-row-per-shard blob table, deserialize
    * each blob exactly once per task, and append a `__maybe_seen` flag to
    * every candidate row. No driver collect, no monolithic broadcast — the
    * only per-batch driver state is the plan itself. A shard with no blob
    * (fresh run / empty shard) flags all its candidates definitely-new. */
  def tagMaybeSeenBucketed(candidates: DataFrame, seenShards: DataFrame): DataFrame = {
    val schema = candidates.schema
    val hashIdx = schema.fieldIndex("url_hash")
    val outSchema = schema.add("__maybe_seen", BooleanType, nullable = false)
    val keyedCands = candidates
      .groupByKey((r: Row) =>
        java.lang.Math.floorMod(r.getLong(hashIdx), Constants.NumShards.toLong).toInt)(
        Encoders.scalaInt)
    val keyedBlobs = seenShards
      .select(col("shard").cast("int"), col("filter"))
      .as[(Int, Array[Byte])](Encoders.tuple(Encoders.scalaInt, Encoders.BINARY))
      .groupByKey(_._1)(Encoders.scalaInt)
    keyedCands
      .cogroup(keyedBlobs) { (_, rows, blobs) =>
        // ≤1 blob per shard post-merge; OR any stragglers defensively.
        val filter = blobs.map(b => deserialize(b._2)).reduceOption(_.mergeInPlace(_))
        rows.map { r =>
          val maybe = filter.exists(_.mightContainLong(r.getLong(hashIdx)))
          Row.fromSeq(r.toSeq :+ maybe)
        }
      }(Encoders.row(outSchema))
      .toDF()
  }

  /** Two-tier dedup (op 12): candidates (with `url_hash`) minus the seen set.
    *
    * Tier 1 (bloom): rows where the bloom says "definitely new" pass
    * immediately — via the shard-bucketed cogroup probe by default, or the
    * broadcast fast path when `broadcastProbe` (small seen-states only).
    * Tier 2 (exact): the "possibly seen" residue — ~fpp of the new rows plus
    * all true duplicates — is anti-joined against `seen_exact(url_hash, …)`.
    * Result is exactly `candidates ∖ seen` for either probe shape (bloom has
    * no false negatives; parity pinned in BloomSeenSpec). An empty shard
    * table (a fresh run) goes through the
    * same probe, which flags every candidate definitely-new, so no
    * per-batch emptiness probe job runs.
    *
    * Returns (result, cachedFrames): the bucketed probe's flagged frame is
    * CACHED — both the definitely-new and residue branches read it, and an
    * uncached plan would instantiate the cogroup (shuffle + per-task blob
    * deserialization) twice. Callers unpersist after materializing.
    */
  def antiJoinSeen(
      spark: SparkSession,
      candidates: DataFrame,
      seenExact: DataFrame,
      seenShards: Option[DataFrame],
      broadcastProbe: Boolean = false): (DataFrame, Seq[DataFrame]) = {
    seenShards match {
      case Some(shards) =>
        val (flagged, cached) =
          if (broadcastProbe)
            // map-side scalar probe — cheap to evaluate per branch, no cache
            (candidates.withColumn("__maybe_seen", mightBeSeen(spark, shards)), Nil)
          else {
            val f = tagMaybeSeenBucketed(candidates, shards).cache()
            (f, Seq(f))
          }
        val definitelyNew = flagged.filter(!col("__maybe_seen")).drop("__maybe_seen")
        val residue = flagged
          .filter(col("__maybe_seen"))
          .drop("__maybe_seen")
          .join(seenExact.select("url_hash"), Seq("url_hash"), "left_anti")
        (definitelyNew.unionByName(residue), cached)
      case None =>
        (candidates.join(seenExact.select("url_hash"), Seq("url_hash"), "left_anti"), Nil)
    }
  }
}
