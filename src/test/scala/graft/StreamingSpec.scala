package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Fixtures
import graft.streaming.StreamingIngest

/** Structured Streaming flavor (ops 43-46): windowed throughput, session
  * windows, and custom mapGroupsWithState crawl state — driven by the
  * fixture pages directory through a memory sink, and cross-checked against
  * the equivalent batch aggregation. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val pagesDir = s"${Fixtures.ensure(spark, TestSpark.Sf0001)}/pages.parquet"

  test("rateLimitStream: per-batch budget, FIFO carry ahead of fresh urls, waited flag") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingIngest
      .rateLimitStream(spark, mem.toDF().toDF("url"), perBatch = 2)
      .toDF().writeStream.format("memory").queryName("ratelim")
      .outputMode("append").start()
    def drained(): Set[(String, String, Boolean)] = {
      q.processAllAvailable()
      spark.table("ratelim").as[(String, String, Boolean)].collect().toSet
    }
    try {
      // batch 1: 5 urls for host a (unsorted arrival), 1 for host b —
      // a emits its 2 lexicographically-first, b its single url.
      mem.addData("https://a.x/u5", "https://a.x/u1", "https://a.x/u3",
        "https://a.x/u2", "https://a.x/u4", "https://b.x/v1")
      val b1 = drained()
      assert(b1 === Set(("a.x", "https://a.x/u1", false),
        ("a.x", "https://a.x/u2", false), ("b.x", "https://b.x/v1", false)))
      // batch 2: fresh u0 sorts before the carried urls lexicographically
      // but the CARRIED queue drains first (FIFO) — u3, u4, both waited.
      mem.addData("https://a.x/u0")
      val b2 = drained() -- b1
      assert(b2 === Set(("a.x", "https://a.x/u3", true),
        ("a.x", "https://a.x/u4", true)))
      // batch 3: queue was [u5, u0] + fresh u6 → u5 and u0 drain, waited.
      mem.addData("https://a.x/u6")
      val b3 = drained() -- b1 -- b2
      assert(b3 === Set(("a.x", "https://a.x/u5", true),
        ("a.x", "https://a.x/u0", true)))
      // batch 4: carried u6 + fresh u7 → both fit; only u6 waited.
      mem.addData("https://a.x/u7")
      val b4 = drained() -- b1 -- b2 -- b3
      assert(b4 === Set(("a.x", "https://a.x/u6", true),
        ("a.x", "https://a.x/u7", false)))
    } finally q.stop()
  }

  test("streaming hourly host throughput equals the batch aggregation") {
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.hourlyHostThroughput(stream), "hourly",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val got = spark.table("hourly")
      // update mode can emit a key several times; the last update wins
      .groupBy("window_start", "host")
      .agg(max("n_pages").as("n_pages"), max("bytes").as("bytes"))
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet

    val exp = spark.read.parquet(pagesDir)
      .withColumn("host", graft.core.Canonicalize.hostOf($"url"))
      .groupBy(window($"warc_ts", "1 hour").as("win"), $"host")
      .agg(count(lit(1)).as("n_pages"), sum(octet_length($"html")).as("bytes"))
      .select($"win.start", $"host", $"n_pages", $"bytes")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    assert(got === exp)
  }

  test("session windows produce per-host sessions") {
    // Append-mode session windows only emit once the watermark passes a
    // session's end — split the input into several files so the watermark
    // advances across micro-batches (time-ordered files).
    val multiDir = s"${graft.core.Constants.workDir}/stream_multi"
    spark.read.parquet(pagesDir)
      .repartitionByRange(8, $"warc_ts")
      .write.mode("overwrite").parquet(multiDir)
    // Complete mode emits the full session table every batch — deterministic
    // regardless of whether a final watermark-flush trigger fires.
    val stream = StreamingIngest.pagesStream(spark, multiDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.captureSessions(stream), "sessions",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    val rows = spark.table("sessions").count()
    assert(rows > 0)
  }

  test("streaming frontier growth == batch link extraction (op 48 streaming flavor)") {
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.frontierGrowthStream(stream), "frontier_growth",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("frontier_growth")
      .select($"url", $"host").as[(String, String)].collect().toSet

    // Batch truth: canonical links of every listing page, first-seen distinct.
    val linksUdf = udf((html: Array[Byte]) => graft.core.Parsers.extractLinks(html))
    val exp = spark.read.parquet(pagesDir)
      .select(explode(linksUdf($"html")).as("raw"))
      .select(graft.core.Canonicalize.canonicalUrl($"raw").as("url"))
      .filter($"url".isNotNull)
      .distinct()
      .withColumn("host", graft.core.Canonicalize.hostOf($"url"))
      .as[(String, String)].collect().toSet
    assert(exp.nonEmpty)
    assert(got === exp)
    // Every candidate is scheduling-ready: canonical (idempotent) + hashed.
    val hashes = spark.table("frontier_growth").select($"url", $"url_hash")
      .as[(String, Long)].collect()
    for ((u, h) <- hashes)
      assert(graft.core.Canonicalize.canonicalScala(u) === Some(u), s"non-canonical $u")
    assert(hashes.map(_._2).distinct.length === hashes.length)
  }

  test("streaming dedup emits exactly one row per canonical url") {
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.dedupStream(stream), "dedup",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("dedup").select("url").as[String].collect().sorted.toSeq
    val exp = spark.read.parquet(pagesDir)
      .filter(graft.core.Canonicalize.isHttpScheme($"url"))
      .select(graft.core.Canonicalize.canonicalUrl($"url").as("url"))
      .filter($"url".isNotNull)
      .distinct()
      .as[String].collect().sorted.toSeq
    assert(got === exp)
  }

  test("streaming document dedup emits exactly one row per distinct text") {
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.docDedupStream(stream), "doc_dedup",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val got = spark.table("doc_dedup").select("text_hash").as[Long].collect().sorted.toSeq
    val exp = spark.read.parquet(pagesDir)
      .select(xxhash64(coalesce($"text", lit("\u0000<null>"))).as("h"))
      .distinct().as[Long].collect().sorted.toSeq
    assert(got === exp)
    // Tier parity: the streaming tier's group count matches the batch
    // exact-dedup's keeper count over the same corpus (one keeper per
    // distinct text — Dedup.exactByText is the durable tier behind this).
    val batchKeepers = graft.ml.Dedup.exactByText(
      spark.read.parquet(pagesDir).select($"url", $"text")).count()
    assert(got.size.toLong === batchKeepers)
  }

  test("live indexing: streamed deduped docs == batch index; replayed epoch is a no-op") {
    import graft.ml.Search
    val idx = java.nio.file.Files.createTempDirectory("liveidx").toString + "/idx"
    // poll → dedup → index: the deduped stream's (text_hash, text) is the
    // live index's (doc_id, text) — one indexed doc per distinct text.
    val docs = StreamingIngest.docDedupStream(
      StreamingIngest.pagesStream(spark, pagesDir))
      .select($"text_hash".as("doc_id"), coalesce($"text", lit("")).as("text"))
    val q = StreamingIngest.liveIndexStream(docs, idx).start()
    try q.processAllAvailable() finally q.stop()
    assert(Search.indexCommitted(idx), "stream committed the index")
    // the live index answers == a from-scratch batch index of the same
    // deduped corpus (df/stats globally remerged across stream segments).
    val batchDocs = spark.read.parquet(pagesDir)
      .select(xxhash64(coalesce($"text", lit("\u0000<null>"))).as("doc_id"),
        coalesce($"text", lit("")).as("text"))
      .groupBy("doc_id").agg(first("text").as("text"))
    val terms = Seq("the", "a", "of")
    val live = Search.bm25ScoresFromIndex(spark, idx, terms)
      .as[(Long, Double)].collect().toMap
    assert(live.nonEmpty)
    assert(live === Search.bm25Scores(batchDocs, terms)
      .as[(Long, Double)].collect().toMap)
    // replay guard: re-delivering an epoch the manifest already committed
    // (foreachBatch retry after commit-then-crash) must not re-append.
    val committed = Search.indexEpoch(idx)
    assert(committed >= 0)
    val replay = batchDocs.limit(3)
    assert(!Search.indexBatch(replay, idx, committed), "stale epoch applied")
    assert(Search.bm25ScoresFromIndex(spark, idx, terms)
      .as[(Long, Double)].collect().toMap === live, "replay mutated the index")
    // an epoch REGRESSION (fresh checkpoint pointed at a live index:
    // epochIds restart at 0) is an error, not a silent skip — skipping
    // would drop every batch up to the old high-water mark.
    if (committed > 0)
      intercept[IllegalStateException] {
        Search.indexBatch(replay, idx, committed - 1)
      }
    // a genuinely new epoch still applies (with fresh doc_ids).
    val fresh = Seq((Long.MaxValue, "the of a")).toDF("doc_id", "text")
    assert(Search.indexBatch(fresh, idx, committed + 1))
    assert(Search.bm25ScoresFromIndex(spark, idx, terms).count() === (live.size + 1).toLong)
  }

  test("live takedowns: streamed deletes hide docs; replay idempotent; merge == filtered corpus") {
    import graft.ml.Search
    val idx = java.nio.file.Files.createTempDirectory("livedel").toString + "/idx"
    val batchDocs = spark.read.parquet(pagesDir)
      .select(xxhash64(coalesce($"text", lit("\u0000<null>"))).as("doc_id"),
        coalesce($"text", lit("")).as("text"))
      .groupBy("doc_id").agg(first("text").as("text"))
    Search.saveIndex(batchDocs, idx)
    val terms = Seq("the", "a", "of")
    val before = Search.bm25ScoresFromIndex(spark, idx, terms)
      .as[(Long, Double)].collect().toMap
    // live takedowns: every even doc_id arrives on the stream for deletion
    val dels = StreamingIngest.docDedupStream(
      StreamingIngest.pagesStream(spark, pagesDir))
      .select($"text_hash".as("doc_id"))
      .filter($"doc_id" % 2 === 0)
    val q = StreamingIngest.liveTakedownStream(dels, idx).start()
    try q.processAllAvailable() finally q.stop()
    val after = Search.bm25ScoresFromIndex(spark, idx, terms)
      .as[(Long, Double)].collect().toMap
    assert(after.keySet === before.keySet.filter(_ % 2 != 0),
      "streamed takedowns not hidden from the reader")
    // tombstoning is idempotent: re-delivering the same delete set
    // (foreachBatch retry) changes nothing.
    Search.deleteDocs(spark, idx, batchDocs.filter($"doc_id" % 2 === 0).select("doc_id"))
    assert(Search.bm25ScoresFromIndex(spark, idx, terms)
      .as[(Long, Double)].collect().toMap === after, "replayed delete mutated results")
    // the merge reclaims: exact parity with the filtered corpus.
    Search.compactIndex(spark, idx)
    assert(Search.bm25ScoresFromIndex(spark, idx, terms)
      .as[(Long, Double)].collect().toMap ===
      Search.bm25Scores(batchDocs.filter($"doc_id" % 2 =!= 0), terms)
        .as[(Long, Double)].collect().toMap)
  }

  test("streaming trending-term counts equal the batch windowed aggregation") {
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.trendingStream(stream), "trending",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val got = spark.table("trending")
      // update mode can emit a key several times; the last update wins
      .groupBy("window_start", "term")
      .agg(max("df_window").as("df_window"))
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    val exp = spark.read.parquet(pagesDir)
      .select($"warc_ts",
        explode(array_distinct(split(coalesce($"text", lit("")), " "))).as("term"))
      .filter($"term" =!= "")
      .groupBy(window($"warc_ts", "1 hour").as("win"), $"term")
      .agg(count(lit(1)).as("df_window"))
      .select($"win.start", $"term", $"df_window")
      .as[(java.sql.Timestamp, String, Long)].collect().toSet
    assert(exp.nonEmpty && got === exp)
  }

  test("live alerting: streamed hits across micro-batches == batch matchAlerts; replay idempotent") {
    import graft.ml.Search
    val out = java.nio.file.Files.createTempDirectory("livealert").toString + "/hits"
    val alerts = Seq(
      (1L, Seq("the", "a"), Seq.empty[String]),
      (2L, Seq("of"), Seq("the")))
      .toDF("alert_id", "must", "must_not")
    val docs = StreamingIngest.docDedupStream(
      StreamingIngest.pagesStream(spark, pagesDir))
      .select($"text_hash".as("doc_id"), coalesce($"text", lit("")).as("text"))
    val q = StreamingIngest.liveAlertStream(docs, alerts, out).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("alert_id", "doc_id").as[(Long, Long)].collect().toSet
    // per-document decision ⇒ micro-batch boundaries are invisible: the
    // union of per-epoch hits equals the batch operator over the union.
    val batchDocs = spark.read.parquet(pagesDir)
      .select(xxhash64(coalesce($"text", lit("\u0000<null>"))).as("doc_id"),
        coalesce($"text", lit("")).as("text"))
      .groupBy("doc_id").agg(first("text").as("text"))
    val batch = Search.matchAlerts(batchDocs, alerts)
      .as[(Long, Long)].collect().toSet
    assert(streamed.nonEmpty && streamed === batch)
    // retry idempotence: a replayed epoch re-delivers the same hits and
    // OVERWRITES its own e=<epoch> directory — the total set is unchanged.
    val epochDirs = new java.io.File(out).listFiles().filter(_.getName.startsWith("e="))
    assert(epochDirs.nonEmpty)
    val e0 = epochDirs.map(_.getName.stripPrefix("e=").toLong).min
    val e0rows = spark.read.parquet(s"$out/e=$e0")
      .select("alert_id", "doc_id").as[(Long, Long)].collect().toSeq
    e0rows.toDF("alert_id", "doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(s"$out/e=$e0")
    val afterReplay = spark.read.parquet(out)
      .select("alert_id", "doc_id").as[(Long, Long)].collect().toSet
    assert(afterReplay === batch, "replay changed the hit set")
  }

  test("streaming→batch seen-set handoff: folded survivors dedup the batch tier") {
    // The two-tier design's seam (round-3 worklist item 7): the streaming
    // dedup is the IN-FLIGHT tier; its survivors are folded into the durable
    // bloom+exact store, and the BATCH pipeline must then treat exactly
    // those urls as seen. Fold HALF the survivors (even url_hash) so the
    // assertion distinguishes "seen works" from "everything filtered".
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.dedupStream(stream), "handoff_dedup",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val survivors = spark.table("handoff_dedup").select("url", "url_hash")
    val folded = survivors.filter(pmod($"url_hash", lit(2)) === 0)
    val seenExact = folded.withColumn("status", lit("fetched"))
    val shards = graft.operators.BloomSeen.buildShards(folded.select("url_hash"))

    val cands = spark.read.parquet(pagesDir)
      .filter(graft.core.Canonicalize.isHttpScheme($"url"))
      .select(graft.core.Canonicalize.canonicalUrl($"url").as("url"))
      .filter($"url".isNotNull)
      .distinct()
      .withColumn("url_hash", graft.core.Canonicalize.urlHash($"url"))
    val (newRows, cached) = graft.operators.BloomSeen.antiJoinSeen(
      spark, cands, seenExact, Some(shards))
    val got = newRows.select("url").as[String].collect().toSet
    cached.foreach(_.unpersist())

    // Batch parity: survivors == all canonical urls (the streaming tier saw
    // everything), so the batch must schedule exactly the un-folded half.
    val all = cands.select("url").as[String].collect().toSet
    val foldedSet = folded.select("url").as[String].collect().toSet
    assert(foldedSet.nonEmpty && foldedSet.size < all.size, "fold split degenerate")
    assert(got === (all -- foldedSet))
  }

  test("q175 driver entry == sequential FIFO rate-limiter simulation") {
    // Independent check of the q175 oracle's rank equation: replay the
    // first-capture feed through a hand-rolled sequential simulation of
    // the perBatch=1 limiter (invoke-on-data-only, FIFO carry, fresh
    // sorted, waited = was carried) and compare the full trace.
    val got = SparkEntry.queries("q175_stream_ratelimit")(spark, TestSpark.Sf0001)
      .as[(String, String, Boolean)].collect().toSet

    val firstCap = Fixtures.pages(spark, TestSpark.Sf0001)
      .filter(graft.core.Canonicalize.isHttpScheme($"url"))
      .select(graft.core.Canonicalize.canonicalUrl($"url").as("url"),
        floor(unix_timestamp($"warc_ts") / 3600).cast("long").as("b"))
      .filter($"url".isNotNull)
      .groupBy("url").agg(min("b").as("b"))
      .withColumn("host", graft.core.Canonicalize.hostOf($"url"))
      .as[(String, Long, String)].collect()

    val exp = firstCap.groupBy(_._3).flatMap { case (host, evs) =>
      val byBatch = evs.groupBy(_._2).view.mapValues(_.map(_._1).sorted.toVector)
      var queue = Vector.empty[String]
      byBatch.keys.toSeq.sorted.flatMap { b =>
        val carried = queue.toSet
        queue = queue ++ byBatch(b).filterNot(carried)
        val (emit, keep) = queue.splitAt(1)
        queue = keep
        emit.map(u => (host, u, carried(u)))
      }
    }.toSet
    assert(exp.nonEmpty && got === exp)
  }

  test("mapGroupsWithState accumulates per-host crawl state across batches") {
    val stream = StreamingIngest.pagesStream(spark, pagesDir)
    StreamingIngest.drainToMemory(spark,
      StreamingIngest.hostStateStream(spark, stream).toDF(), "hoststate",
      org.apache.spark.sql.streaming.OutputMode.Update())
    val finalSeen = spark.table("hoststate")
      .groupBy("host").agg(max("seen").as("seen"))
      .as[(String, Long)].collect().toMap
    val exp = spark.read.parquet(pagesDir)
      .withColumn("host", graft.core.Canonicalize.hostOf($"url"))
      .groupBy("host").count()
      .as[(String, Long)].collect().toMap
    assert(finalSeen === exp)
  }

  test("stream env overrides: absent → default; non-numeric or non-positive → error naming the variable") {
    import graft.queries.StreamingQueries.positiveIntEnv
    val name = "SPARK_GRAFT_STREAM_PARTITIONS"
    assert(positiveIntEnv(name, 8, Map.empty) === 8)
    assert(positiveIntEnv(name, 8, Map(name -> " 3 ")) === 3)
    for (bad <- Seq("", "abc", "2.5", "0", "-4", "99999999999")) {
      val e = intercept[IllegalArgumentException](positiveIntEnv(name, 8, Map(name -> bad)))
      assert(e.getMessage.contains(name), s"'$bad': ${e.getMessage}")
    }
  }

  test("pages feed hour range: empty or all-null warc_ts feeds fail with a clear message") {
    import graft.queries.StreamingQueries.hourRange
    val ts = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(7200L + 59L))
    val later = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(5 * 3600L))
    assert(hourRange(Seq(("u1", ts), ("u2", later), ("u3", null)).toDF("url", "warc_ts")) === ((2L, 5L)))
    val empty = Seq.empty[(String, java.sql.Timestamp)].toDF("url", "warc_ts")
    val allNull = Seq(("u1", null: java.sql.Timestamp)).toDF("url", "warc_ts")
    for ((what, df) <- Seq("empty" -> empty, "all-null warc_ts" -> allNull)) {
      val e = intercept[IllegalArgumentException](hourRange(df))
      assert(e.getMessage.contains("no capture hours"), s"$what: ${e.getMessage}")
    }
  }
}
