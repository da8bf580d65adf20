package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.{Constants, Fixtures, Parquet, SessionConf}
import graft.streaming.StreamingIngest

/** Driver-gated entries for the Structured Streaming flavors (SURVEY.md §2
  * ops 43-46 + the live-indexing/alerting/rate-limiting deployment loop) —
  * round-5 verdict item 2: each stream runs to completion over a
  * deterministic micro-batched file feed and dumps its FINAL state as a
  * relation, so the DuckDB gate covers the streaming loop itself, not just
  * its ScalaTest parity.
  *
  * The feed: the fixture `pages` (or `documents`) table split into one
  * parquet file per event-time hour (or doc_id residue), with strictly
  * increasing modification times — Spark's FileStreamSource orders new
  * files by mtime, and `maxFilesPerTrigger=1` makes file i exactly
  * micro-batch i, so arrival order is a pure function of the fixture (no
  * wall-clock, no directory-listing nondeterminism). That makes even the
  * cross-batch-STATEFUL rate limiter oracle-expressible: its arrival
  * batches are SQL-derivable (hour buckets), and its FIFO-carry semantics
  * reduce to a rank equation over them (see q175's oracle).
  */
object StreamingQueries {

  /** Materialize `df` (which must carry a `__b` batch-index column) as a
    * one-file-per-batch streaming input directory: file i = the rows with
    * the i-th smallest `__b`, mtime = (i+1) minutes since epoch — so the
    * file source's (mtime-ordered, maxFilesPerTrigger=1) drain replays the
    * fixture as micro-batch i = batch-group i. `__b` is a partition column
    * and never appears in the file contents. Regenerated on every call
    * (fixture-sized; Verify invokes each entry once). */
  private def streamDir(s: SparkSession, sfDir: String, name: String,
      df: DataFrame): String = {
    import java.nio.file.{Files, Paths}
    val sfName = Paths.get(sfDir).getFileName.toString
    val out = Paths.get(s"${Constants.workDir}/stream_in/${sfName}_$name")
    val tmp = s"$out.tmp"
    org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    // one task writes all batch groups → exactly one part file per __b
    df.sort("__b").coalesce(1).write.partitionBy("__b").parquet(tmp)
    Files.createDirectories(out)
    val groups = {
      val stream = Files.list(Paths.get(tmp))
      try stream.toArray.map(_.toString).filter(_.contains("__b="))
      finally stream.close()
    }.sortBy(p => p.substring(p.lastIndexOf("__b=") + 4).toDouble)
    groups.zipWithIndex.foreach { case (dirp, i) =>
      val parts = {
        val stream = Files.list(Paths.get(dirp))
        try stream.toArray.map(_.toString)
          .filter(p => p.endsWith(".parquet") &&
            !Paths.get(p).getFileName.toString.startsWith("."))
        finally stream.close()
      }
      require(parts.length == 1, s"expected one part file per batch, got ${parts.length}")
      val dest = out.resolve(f"b$i%05d.parquet")
      Files.move(Paths.get(parts.head), dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(60000L * (i + 1)))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    out.toString
  }

  /** Event-time hour index — the micro-batch key for the pages feeds.
    * SQL-mirrorable: CAST(floor(epoch(warc_ts)/3600) AS BIGINT). */
  private def hourBatch: Column =
    floor(unix_timestamp(col("warc_ts")) / 3600).cast("long")

  /** Micro-batch cap for the batch-split-invariant pages feeds (r6 —
    * round-5's one-file-per-CAPTURE-HOUR feed was 86 micro-batches at
    * sf0.1, ~1.7 s of fixed trigger overhead each, 3×147 s of bench wall
    * and the single largest cause of the r5 driver-bench timeout). The
    * grouping below folds CONSECUTIVE hours into ≤ this many batches. */
  private lazy val PagesFeedBatches: Int = positiveIntEnv("SPARK_GRAFT_STREAM_BATCHES", 8)

  /** First and last capture hour of `pages`; an empty feed or one whose
    * every `warc_ts` is null has no hour range and fails naming why. */
  private[graft] def hourRange(pages: DataFrame): (Long, Long) = {
    val r = pages.agg(min(hourBatch), max(hourBatch)).head()
    require(!r.isNullAt(0) && !r.isNullAt(1),
      "pages feed has no capture hours: the pages table is empty or every warc_ts is null")
    (r.getLong(0), r.getLong(1))
  }

  /** The pages feed split into ≤ [[PagesFeedBatches]] micro-batches of
    * CONSECUTIVE capture hours (r6). Contiguity is what keeps the regroup
    * output-invariant for the watermarked consumers (q170/q171/q172): file
    * mtime order == event-time order still holds, so no row ever arrives
    * behind the watermark (nothing is late-dropped), and the watermark
    * advances in strictly COARSER jumps than the hourly feed — state
    * evictions can only happen later, so the within-watermark dedup /
    * windowed-count relations are unchanged (an interleaved grouping such
    * as pmod(hour, K) would instead race event time back and forth across
    * batches and drop late rows). q175 keeps its one-batch-per-arrival-hour
    * feed: its rank-equation output is DEFINED by the per-hour trigger
    * structure. */
  private def pagesFeed(s: SparkSession, sfDir: String, name: String): DataFrame = {
    val pages = Fixtures.pages(s, sfDir)
    val (h0, h1) = hourRange(pages)
    val span = h1 - h0 + 1
    val group = (span + PagesFeedBatches - 1) / PagesFeedBatches // hours per batch
    val dir = streamDir(s, sfDir, name,
      pages.withColumn("__b", ((hourBatch - lit(h0)) / lit(group)).cast("long")))
    s.readStream.schema(StreamingIngest.PageSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  private val DocSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** The documents feed split into 4 micro-batches by doc_id residue
    * (the indexed/alerted relations are batch-split-invariant — global
    * df remerge / per-doc decisions — so any deterministic split works). */
  private def docsFeed(s: SparkSession, sfDir: String, name: String): DataFrame = {
    val dir = streamDir(s, sfDir, name,
      PipelineQueries.docs(s, sfDir).select(col("doc_id"), col("text"))
        .withColumn("__b", pmod(col("doc_id"), lit(4))))
    s.readStream.schema(DocSchema).option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** Shuffle/state-store partition count while a bench stream drains (r6).
    * A stateful streaming query pins `spark.sql.shuffle.partitions` at
    * START time as its state-store partition count for life; Bench's
    * 4×-cores policy (128 at local[32]) is sized for the mega-batch SCANS,
    * but here it schedules 128 state-store tasks + 128 delta-file commits
    * PER MICRO-BATCH over feeds whose per-trigger volume is a few hundred
    * rows — pure fixed overhead ×(batches × partitions). 8 keeps every
    * per-trigger state task meaningfully loaded at bench scale; a
    * production deployment sizes it to per-trigger volume / target
    * state-partition size via this env, NOT to the core count. Results are
    * partition-count-invariant (set semantics; per-key state transitions
    * don't cross partitions), pinned by the unchanged DuckDB oracles. */
  private lazy val StreamPartitions: Int = positiveIntEnv("SPARK_GRAFT_STREAM_PARTITIONS", 8)

  /** Integer override `name` from `env`, or `default` when absent; a
    * non-numeric or non-positive value fails naming the variable. */
  private[graft] def positiveIntEnv(name: String, default: Int,
      env: Map[String, String] = sys.env): Int =
    env.get(name) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(s"$name must be a positive integer, got '$v'"))
    }

  /** Run `body` with the stream-scoped shuffle-partition override (entries
    * run sequentially in Verify/Bench, so the scoped override is race-free). */
  private def withStreamConf[A](s: SparkSession)(body: => A): A =
    SessionConf.withConf(s, "spark.sql.shuffle.partitions", StreamPartitions.toString)(body)

  /** Drain a stream into a fresh named memory sink and return the table. */
  private def drained(s: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): DataFrame = {
    s.catalog.dropTempView(name): Unit
    withStreamConf(s) { StreamingIngest.drainToMemory(s, df, name, mode) }
    s.table(name)
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // op 12/45 streaming flavor, driver-gated: the in-flight URL-dedup
    // tier's final appended set == the distinct canonical urls (emit
    // order and first-capture row are arrival-dependent; the SET is not).
    "q170_stream_dedup" -> ((s, dir) =>
      drained(s,
        StreamingIngest.dedupStream(pagesFeed(s, dir, "dedup")),
        "q170_sink", OutputMode.Append())
        .select(col("url"))),

    // op 48 streaming flavor, driver-gated: frontier growth's final
    // candidate set (canonical link, host) — the relation the batch
    // scheduler consumes.
    "q171_stream_frontier" -> ((s, dir) =>
      drained(s,
        StreamingIngest.frontierGrowthStream(pagesFeed(s, dir, "frontier")),
        "q171_sink", OutputMode.Append())
        .select(col("url"), col("host"))),

    // streaming trending-term counts, driver-gated: update-mode emissions
    // are per-key monotone partial counts — the final value per
    // (window, term) is the max, == the batch windowed aggregation.
    "q172_stream_trending" -> ((s, dir) =>
      drained(s,
        StreamingIngest.trendingStream(pagesFeed(s, dir, "trending")),
        "q172_sink", OutputMode.Update())
        .groupBy("window_start", "term")
        .agg(max("df_window").as("df_window"))),

    // live indexing, driver-gated: poll → index each micro-batch
    // (segment append + manifest commit) → the final index answers ==
    // the q57 BM25 relation (global df remerge makes the segment split
    // invisible). Index rebuilt from scratch every run so the streaming
    // append path is always exercised.
    "q173_stream_live_index" -> ((s, dir) => {
      val sfName = java.nio.file.Paths.get(dir).getFileName.toString
      val idx = s"${Constants.workDir}/models/stream_idx_$sfName"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
      withStreamConf(s) {
        val q = StreamingIngest
          .liveIndexStream(docsFeed(s, dir, "liveidx"), idx).start()
        try q.processAllAvailable() finally q.stop()
      }
      graft.ml.Search.bm25ScoresFromIndex(s, idx, PipelineQueries.Bm25QueryTerms)
    }),

    // live alerting, driver-gated: per-epoch hit directories unioned ==
    // the q76 batch matchAlerts relation (per-document decision — batch
    // boundaries are invisible by construction).
    "q174_stream_alerts" -> ((s, dir) => {
      import s.implicits._
      val sfName = java.nio.file.Paths.get(dir).getFileName.toString
      val out = s"${Constants.workDir}/stream_alerts_$sfName"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      val alerts = PipelineQueries.AlertRows.toDF("alert_id", "must", "must_not")
      withStreamConf(s) {
        val q = StreamingIngest
          .liveAlertStream(docsFeed(s, dir, "livealert"), alerts, out).start()
        try q.processAllAvailable() finally q.stop()
      }
      Parquet.read(s, out).select(col("alert_id"), col("doc_id"))
    }),

    // streaming per-host rate limiter, driver-gated — and fully
    // oracle-checkable despite being cross-batch-stateful: the feed is
    // the FIRST-CAPTURE relation (the dedup tier's output — each url
    // arrives exactly once) batched by first-capture hour, perBatch=1.
    // flatMapGroupsWithState invokes a host only on batches where it has
    // fresh arrivals, emitting the FIFO queue head — so the p-th queued
    // url (per host, (arrival, url) order) emits at the host's p-th
    // invocation, i.e. its p-th distinct arrival hour; leftovers beyond
    // the invocation count stay in state (never emitted). waited ⇔ the
    // emit hour exceeds the arrival hour. The oracle states exactly that
    // rank equation (no recursion needed).
    "q175_stream_ratelimit" -> ((s, dir) => {
      val firstCap = Fixtures.pages(s, dir)
        .filter(graft.core.Canonicalize.isHttpScheme(col("url")))
        .select(graft.core.Canonicalize.canonicalUrl(col("url")).as("url"),
          hourBatch.as("b"))
        .filter(col("url").isNotNull)
        .groupBy("url").agg(min("b").as("__b"))
      val feedDir = streamDir(s, dir, "ratelimit", firstCap)
      val stream = s.readStream
        .schema(StructType(Seq(StructField("url", StringType))))
        .option("maxFilesPerTrigger", 1).parquet(feedDir)
      drained(s,
        StreamingIngest.rateLimitStream(s, stream, perBatch = 1).toDF(),
        "q175_sink", OutputMode.Append())
        .select(col("host"), col("url"), col("waited"))
    }))

  val oracles: Map[String, String] = Map(

    "q170_stream_dedup" ->
      s"""${CrawlQueries.PagesCte}
         |SELECT DISTINCT url FROM canon""".stripMargin,

    // q09's listing-link relation, distinct (the stream's first-seen
    // dedup) — links are already-canonical article urls by construction.
    "q171_stream_frontier" ->
      s"""WITH ranked AS (
         |  SELECT source, doc_id,
         |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         |    FROM documents
         |)
         |SELECT DISTINCT
         |       'https://' || source || '.example.com/articles/' || doc_id AS url,
         |       source || '.example.com' AS host
         |  FROM ranked WHERE rn <= ${Constants.ListingLinks}""".stripMargin,

    // the batch windowed term-df aggregation over the raw pages feed
    // (Spark's window('1 hour') is epoch-aligned == date_trunc('hour')).
    "q172_stream_trending" ->
      s"""${CrawlQueries.PagesCte}
         |SELECT date_trunc('hour', warc_ts) AS window_start, term,
         |       count(*) AS df_window
         |  FROM (SELECT warc_ts,
         |               unnest(list_distinct(string_split(coalesce(text, ''), ' '))) AS term
         |          FROM pages) AS u
         | WHERE term <> ''
         | GROUP BY 1, 2""".stripMargin,

    // the live index must answer exactly the q53/q57 BM25 relation.
    "q173_stream_live_index" -> PipelineQueries.Bm25OracleSql,

    // the streamed hit union must equal the q76 batch relation.
    "q174_stream_alerts" -> PipelineQueries.AlertsOracleSql,

    // The rank equation for perBatch=1 FIFO carry under
    // invoke-on-data-only semantics (see the entry's scaladoc): position
    // p (per host, (arrival-hour, url) order — fresh urls enqueue sorted
    // within a batch) emits at the host's p-th distinct arrival hour;
    // the inner join drops never-emitted leftovers; waited ⇔ emitted
    // later than arrived.
    "q175_stream_ratelimit" ->
      s"""${CrawlQueries.PagesCte},
         |fc AS (SELECT url, host,
         |              min(CAST(floor(epoch(warc_ts) / 3600) AS BIGINT)) AS arrb
         |         FROM canon GROUP BY url, host),
         |pos AS (SELECT url, host, arrb,
         |               ROW_NUMBER() OVER (PARTITION BY host ORDER BY arrb, url) AS p
         |          FROM fc),
         |inv AS (SELECT host, arrb AS ib,
         |               ROW_NUMBER() OVER (PARTITION BY host ORDER BY arrb) AS i
         |          FROM (SELECT DISTINCT host, arrb FROM fc) AS d)
         |SELECT pos.host, pos.url, (inv.ib > pos.arrb) AS waited
         |  FROM pos JOIN inv ON pos.host = inv.host AND pos.p = inv.i""".stripMargin)
}
