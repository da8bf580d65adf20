package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Canonicalize, Constants, Parsers, Priority, SessionConf}

/** Crawl-loop tuning knobs. All values deterministic; nothing reads clocks. */
final case class CrawlConfig(
    /** Width of the Δ-scan high-water-mark window per batch (op 1). */
    deltaPerBatchSec: Long = 3600L,
    /** Safety cap on batches per run. */
    maxBatches: Int = 200,
    /** Multiplier on per-host politeness budgets (bench uses >1 so the
      * measured quantity is pipeline throughput, not loop overhead). */
    budgetScale: Int = 1,
    /** Number of host buckets. Also the shuffle width of the rank and
      * salted-parse repartitions above [[Scheduler.BroadcastFetchBound]];
      * at or below it AQE sizes those from the data (see runBatch).
      * Outputs are invariant to it (rank key is (host_bucket, host)). */
    numBuckets: Int = 32,
    /** Two-tier Bloom-filter dedup (true) vs exact-only anti-join (false);
      * final sets are identical — the flag exists for the parity test. A
      * batch with no shard table to probe runs exact-only either way
      * (CrawlLoop: batches before the first seen compaction). */
    useBloom: Boolean = true,
    /** Tier-1 probe shape: false (default) = shard-bucketed cogroup — the
      * 10^10-scale shape, no driver collect / monolithic broadcast; true =
      * broadcast-map fast path for small seen-states. Final sets are
      * identical either way (BloomSeenSpec parity). */
    bloomBroadcastProbe: Boolean = false,
    /** Post-budget salted repartition of the fetch/parse stage (op 51). */
    saltParse: Boolean = true,
    /** Cache the pages table across batches. Right at bench scale (the whole
      * corpus re-enters every batch's Δ-scan + fetch join); at 100 TB you
      * would instead rely on the pushed-down Δ-window predicate + runtime
      * filters and NOT cache. */
    cacheInputs: Boolean = true,
    /** Salted local-top-k pre-ranking (op 51 skew handling for the RANK
      * stage): with S > 1, candidates are spread over (host_bucket, salt)
      * partitions, ranked locally, and only the per-(host, salt) top-budget
      * survivors enter the global per-host rank window — a mega-host's
      * millions of candidates never sort in one task. 0/1 = off (fine when
      * per-batch candidate counts are small). Outputs are identical either
      * way (exact top-k refinement). */
    localTopKSalt: Int = 0,
    /** Compact per-batch state deltas to one file each (right for small
      * politeness-bounded batches; disable for stress/scale batches so the
      * checkpoint writes stay parallel). */
    compactState: Boolean = true,
    /** Explicit scheduled-count bound for the fetch_order strategy choice
      * (> 0 overrides the Σbudgets-derived per-run bound — see CrawlLoop).
      * Output-invariant either way; this is a physical-plan knob. */
    scheduledBoundOverride: Long = -1L,
    /** Fold the append-only seen deltas into a compacted snapshot every K
      * batches (0 = off). Keeps the per-batch seen read at O(K) file
      * sources instead of O(batches) — the O(k²) cumulative-read leak a
      * 10^10-URL crawl's batch count would otherwise hit. Output-invariant
      * (Checkpoints.compactSeen; parity + resume pinned in
      * CrawlParitySpec). The cadence also sets when the seen-set shard table
      * is built: each compaction builds the table that summarizes it, and
      * until the first one (or with 0) the batches anti-join the seen
      * deltas exactly (CrawlLoop). */
    seenCompactEvery: Int = 8,
    /** State/checkpoint namespace under Constants.workDir/state/. */
    runTag: String = "default") {
  /** Always false: the seen tier has one filter family (BloomSeen). Kept,
    * not settable, only because the traced crawl mirror in perfbench reads
    * it; it goes with the next benchmark change (ROADMAP item 2). */
  def cuckooSeen: Boolean = false
}

/** One fetch-and-parse micro-batch's outputs (E1).
  *
  * fetched/parsed/article counters are NOT computed here — they are columns
  * of `fetchLog` (urls_fetched / urls_parsed / urls_article), aggregated by
  * the same job that persists the lineage table, and the loop reads them
  * back from the committed (tiny) file: one fewer action per batch. */
final case class BatchResult(
    /** Parsed article rows appended this batch. */
    articles: DataFrame,
    /** Frontier snapshot after the batch ('queued' rows only). */
    frontier: DataFrame,
    /** Rows newly added to the seen set (fetched | excluded | missing). */
    seenDelta: DataFrame,
    /** Per-partition lineage/throughput rows (op 21). */
    fetchLog: DataFrame,
    /** Per-host politeness accounting rows (op 18; carries urls_scheduled). */
    hostLog: DataFrame,
    /** Frames cached inside the batch; caller unpersists after materializing. */
    cached: Seq[DataFrame])

/** The E1 micro-batch — SURVEY.md §3.
  *
  * candidates = pages Δ-scan ∪ frontier('queued')
  *   → canonicalize / host / xxhash64                       (ops 7-9)
  *   → two-tier bloom+exact anti-join vs seen               (op 12)    [map-side + residue shuffle]
  *   → broadcast robots tag → split excluded                (ops 13,49)
  *   → broadcast weights → priority                         (ops 13,38)
  *   → repartition(P, host_bucket)                          (op 51)    [SHUFFLE 1]
  *   → window rank over (host_bucket, host) ≤ budget        (ops 24,25) [no extra shuffle — key subset rule]
  *   → fetch-join pages on canonical url                    (ops 3,14) [broadcast of budget-capped set]
  *   → salted repartition → parse / byte-identity           (ops 51,47,35)
  *   → link extraction (explode)                            (op 48)
  *   → articles + seen delta + metrics                      (ops 4,19,21)
  *
  * Scale notes (the 100 TB story):
  *  - The scheduling path never touches `html` — column pruning keeps the
  *    Δ-scan at (url, warc_ts), verified by PlanShapeSpec.
  *  - The window key is (host_bucket, host), NOT host: HashPartitioning on
  *    host_bucket already satisfies the window's required distribution
  *    (subset rule), so ranking reuses SHUFFLE 1 (probe-verified on 4.1.2,
  *    SURVEY.md §4).
  *  - The scheduled set is ≤ Σ budgets per batch — bounded by design, but
  *    Σ budgets scales with HOST COUNT, so the fetch join broadcasts it only
  *    below [[Scheduler.BroadcastFetchBound]]; above, it (and the capture
  *    winners, and the fetch_order rank) switch to shuffle-based strategies
  *    with identical output.
  *  - Per-host budgets are enforced pre-salt (per-host-global), salting is
  *    applied only to the post-budget fetch/parse stage where per-host
  *    grouping no longer matters (SURVEY.md §4 skew note).
  *  - Shuffle widths: above the bound the rank and salted-parse
  *    repartitions are pinned at `numBuckets`. At or below it the batch is
  *    small enough that a fixed width is mostly per-task overhead, paid
  *    again by every state write that re-reads a cached frame, so the
  *    batch leaves both repartitions and all its caches to AQE's
  *    data-sized coalescing (runBatch).
  */
object Scheduler {

  /** Scheduled-count bound below which the fetch stage broadcasts the
    * scheduled / capture-winner key sets (and the global fetch_order runs as
    * a single-partition window). Σ budgets grows with HOST COUNT: at the
    * design scale (~10^7 hosts × budget ~10) the scheduled set is ~10^8
    * rows — far past any sane broadcast — so above this bound both joins
    * flip to plain shuffled equi-joins and the order rank flips to the
    * two-phase distributed GlobalOrder. All four shapes are
    * output-identical (CrawlParitySpec pins parity; PlanShapeSpec pins the
    * plan shapes on both sides of the bound). */
  val BroadcastFetchBound: Long = 50000L

  /** Spark's switch that lets AQE coalesce a cached plan's final stage
    * (off by default in 4.1); runBatch scopes it around its caches. */
  private[graft] val CoalesceCachedPlansKey =
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"

  private val extractUdf = udf((host: String, html: Array[Byte]) => Parsers.extract(host, html))
  private val linksUdf = udf((html: Array[Byte]) => Parsers.extractLinks(html))

  /** Candidate urls newly visible in the hwm window (lo, hi], canonicalized.
    * Reads only (url, warc_ts) — predicate pushed to the parquet scan. */
  def deltaScan(pages: DataFrame, loSec: Long, hiSec: Long): DataFrame = {
    val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(loSec))
    val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(hiSec))
    pages
      .select(col("url"), col("warc_ts"))
      .filter(col("warc_ts") >= lit(lo) && col("warc_ts") < lit(hi))
      .filter(Canonicalize.isHttpScheme(col("url")))
      .select(Canonicalize.canonicalUrl(col("url")).as("url"), col("warc_ts").as("discovered_ts"))
      .filter(col("url").isNotNull)
      .groupBy("url")
      .agg(max("discovered_ts").as("discovered_ts"))
      .withColumn("host", try_parse_url(col("url"), lit("HOST")))
  }

  /** Batch late-data policy (op 45's batch half — the documented
    * counterpart of the streaming watermark): rows of a delivery whose
    * warc_ts is at or before the loop's current high-water mark belong to
    * a Δ-window that has ALREADY been scanned ([[deltaScan]] windows are
    * (lo, hi] and never revisit), so silently appending them to `pages`
    * would lose them forever. The policy: route them to a quarantine
    * table — (url, warc_ts, host, lateness_sec), the raw row plus how far
    * behind the hwm it arrived — for an explicit replay/backfill decision,
    * and report the straggler count + worst lateness as observe() metrics
    * on the same pass (op 21 discipline; no second scan). `hwmSec` is
    * seconds since the corpus epoch, the loop's own hwm clock.
    *
    * Plan shape at 100 TB: one pushed-down timestamp range filter on the
    * delivery scan, a codegen'd projection, no shuffle, no UDF — the
    * quarantine write is a map-only job. */
  def lateQuarantine(delivery: DataFrame, hwmSec: Long): DataFrame = {
    val hwmTs = java.sql.Timestamp.from(Constants.EPOCH.plusSeconds(hwmSec))
    delivery
      .filter(col("warc_ts") <= lit(hwmTs))
      .select(col("url"), col("warc_ts"),
        Canonicalize.hostOf(col("url")).as("host"),
        (lit(hwmSec) -
          (unix_timestamp(col("warc_ts")) - lit(Constants.EPOCH.getEpochSecond)))
          .as("lateness_sec"))
      .observe("late_quarantine",
        count(lit(1)).as("n_late"),
        max(col("lateness_sec")).as("max_lateness_sec"))
  }

  /** Adaptive per-host politeness replay (round 5) — the AIMD controller
    * (Chiu & Jain '88's rule family; Heritrix-style adaptive crawl delay
    * keyed to observed server latency) that production crawlers layer on
    * top of the static robots crawl_delay: replay each host's capture
    * timeline in time order, doubling the delay (capped at `maxDelayMs`)
    * whenever the observed fetch latency crosses `slowMs` — multiplicative
    * backoff — and recovering additively (−`stepMs`, floored at
    * `minDelayMs`) on fast responses. Output per host: captures seen,
    * backoffs triggered, and the delay the controller settled on — the
    * operational dim the next batch's budget layer consumes.
    *
    * Same scalable shape as [[graft.operators.Robots.robotsCacheAudit]]:
    * the control chain is sequential PER HOST by definition, so per-host
    * sorted (t, latency) structs become aggregate state (bounded by the
    * politeness ceiling) and ONE `aggregate()` fold replays the
    * controller — all-integer state, hash-exact, mirrored by a
    * recursive-CTE oracle stepping capture-by-capture. */
  def adaptiveDelayReplay(captures: DataFrame, slowMs: Long = 300L,
      initDelayMs: Long = 1000L, minDelayMs: Long = 250L,
      maxDelayMs: Long = 8000L, stepMs: Long = 250L): DataFrame = {
    val init = struct(lit(initDelayMs).as("delay"), lit(0L).as("backoffs"))
    val step = (acc: org.apache.spark.sql.Column, e: org.apache.spark.sql.Column) =>
      when(e.getField("lat") >= slowMs,
        struct(least(acc.getField("delay") * 2L, lit(maxDelayMs)).as("delay"),
          (acc.getField("backoffs") + 1L).as("backoffs")))
        .otherwise(
          struct(greatest(acc.getField("delay") - stepMs, lit(minDelayMs)).as("delay"),
            acc.getField("backoffs").as("backoffs")))
    captures
      .select(col("host"), col("warc_ts").cast("long").as("t"),
        col("latency_ms").cast("long").as("lat"))
      .groupBy("host")
      .agg(sort_array(collect_list(struct(col("t"), col("lat")))).as("es"))
      .select(col("host"), size(col("es")).cast("long").as("n_captures"),
        aggregate(col("es"), init, step).as("st"))
      .select(col("host"), col("n_captures"),
        col("st.backoffs").as("n_backoffs"),
        col("st.delay").as("final_delay_ms"))
  }

  /** Schedule-fairness audit (round 5): how evenly a scheduled batch
    * spreads across hosts — Gini coefficient by the rank formula over
    * per-host counts sorted (count, host), plus the max single-host
    * share. A rising Gini or max_share is the operational tell that one
    * publisher is monopolizing the batch (skew fixture B6 territory).
    * The ONLY window runs on the host-dim grain (bounded — the q164
    * host-cardinality argument), never the url grain; all sums are
    * integer until the single division per output column. */
  def fairnessStats(scheduled: DataFrame): DataFrame = {
    val counts = scheduled.groupBy("host").agg(count(lit(1)).as("x"))
    val ranked = counts.withColumn("i",
      row_number().over(Window.orderBy(col("x"), col("host"))))
    ranked.agg(
      count(lit(1)).as("n_hosts"),
      sum("x").as("n_scheduled"),
      round(max(col("x")).cast("double") / sum(col("x")), 4).as("max_share"),
      round(lit(2.0) * sum(col("i") * col("x")) / (count(lit(1)) * sum(col("x"))) -
        (count(lit(1)) + lit(1)).cast("double") / count(lit(1)), 4).as("gini"))
  }

  /** Mercator back-queue emit schedule (Heydon & Najork, "Mercator: a
    * scalable, extensible web crawler", WWW'99 §3.2): the order a
    * politeness-capped batch actually LEAVES the frontier when each host
    * is served by one of `backQueues` fetch workers and consecutive
    * fetches from the same host are spaced by its crawl delay.
    *
    * Model (the paper's back-end, batch-replayed deterministically):
    * each host maps to one back queue (Mercator's host→queue table —
    * here round-robin over the lexicographic host order, a bounded
    * host-dim rank); url k of a host becomes READY at (k−1)·delay
    * seconds (k = the politeness rank the scheduler already assigned);
    * the global emit order is the back-queue heap's pop order —
    * (ready_sec, host, rank), a total key — and queue_seq is the
    * per-worker fetch sequence. All-integer arithmetic (delays are
    * whole seconds) → hash-exact across engines.
    *
    * Scale shape: one bounded host-dim window for the queue table, one
    * broadcast host-dim join to attach (queue, delay), and the global
    * rank via [[GlobalOrder.withRank]]'s range-partitioned two-phase
    * scan — never a corpus-wide single-partition window. The per-queue
    * sequence IS a window on the queue grain: its frames partition the
    * politeness-capped batch (≤ Σ host budgets, the op-25/30 bound),
    * not the corpus. */
  def mercatorSchedule(batch: DataFrame, delays: DataFrame,
      backQueues: Int, defaultDelaySec: Long = 1L,
      parts: Int = 32): DataFrame = {
    require(backQueues >= 1, "need at least one back queue")
    val hostQueue = batch.select("host").distinct()
      .withColumn("queue_id",
        pmod(row_number().over(Window.orderBy(col("host"))) - 1,
          lit(backQueues)).cast("int"))
    val ready = batch
      .join(broadcast(hostQueue), Seq("host"))
      .join(broadcast(delays.select(col("host"),
        col("crawl_delay").cast("long").as("delay_sec"))), Seq("host"), "left")
      .select(col("url"), col("host"), col("host_rank"), col("queue_id"),
        ((col("host_rank") - 1) *
          coalesce(col("delay_sec"), lit(defaultDelaySec))).as("ready_sec"))
    val emitted = GlobalOrder.withRank(ready,
      Seq(col("ready_sec").asc, col("host").asc, col("host_rank").asc),
      parts, "emit_order")
    emitted
      .withColumn("queue_seq",
        row_number().over(Window.partitionBy(col("queue_id"))
          .orderBy(col("ready_sec"), col("host"), col("host_rank"))))
      .select("url", "host", "queue_id", "ready_sec", "emit_order", "queue_seq")
  }

  /** Scheduling-stage outputs (pre-fetch). `cached` holds the shared cached
    * parents of the three outputs — unpersist when done. */
  final case class ScheduleOut(scheduled: DataFrame, deferred: DataFrame,
      excluded: DataFrame, cached: Seq[DataFrame])

  /** Robots + priority + politeness ranking over deduped candidates
    * (url, host, discovered_ts, url_hash) — ops 13/49/38/51/24/25.
    * Shared by runBatch and the standalone query entries. */
  def schedule(
      cands: DataFrame,
      robots: DataFrame,
      weights: DataFrame,
      budgets: DataFrame,
      cfg: CrawlConfig,
      distHostRank: Boolean = false,
      fixedWidth: Boolean = true): ScheduleOut = {
    // Cache the tagged candidate set: both the excluded split and the
    // ranking path read it.
    val tagged = Robots.tag(cands, robots).cache()
    val excluded = tagged
      .filter(col("robots_excluded"))
      .select(col("url_hash"), col("url"), lit("excluded").as("status"))
    val allowed = tagged.filter(!col("robots_excluded")).drop("robots_excluded")

    // Per-host crawl_delay (robots rule) caps the batch budget — see
    // rankCandidates. Tolerates delay-less robots dims (tests, exotic deps).
    val delays =
      if (robots.columns.contains("crawl_delay"))
        Some(robots.select(col("host"), col("crawl_delay")))
      else None

    // Cache the ranked stage: scheduled, deferred, and the downstream state
    // writes all read it — without the cache each consumer would re-run the
    // whole candidate+dedup+rank pipeline (one full pass per output).
    val ranked = rankCandidates(allowed, weights, budgets, cfg, delays, distHostRank,
      fixedWidth).cache()

    ScheduleOut(
      ranked.filter(col("host_rank") <= col("budget"))
        .select("url", "url_hash", "host", "discovered_ts", "priority", "host_bucket", "host_rank"),
      ranked.filter(col("host_rank") > col("budget")).select("url", "host", "discovered_ts"),
      excluded,
      Seq(tagged, ranked))
  }

  /** The priority/politeness ranking pipeline (uncached — plan-shape tests
    * inspect its exchanges directly). `fixedWidth = false` leaves the width
    * of the rank window's repartition to spark.sql.shuffle.partitions and
    * AQE coalescing instead of pinning it at `cfg.numBuckets`. */
  private[graft] def rankCandidates(
      allowed: DataFrame,
      weights: DataFrame,
      budgets: DataFrame,
      cfg: CrawlConfig,
      delays: Option[DataFrame] = None,
      distHostRank: Boolean = false,
      fixedWidth: Boolean = true): DataFrame = {
    val budgeted = allowed
      .join(broadcast(weights), Seq("host"), "left")
      .withColumn("weight", coalesce(col("weight"), lit(1.0)))
      .join(broadcast(budgets), Seq("host"), "left")
      .withColumn("budget",
        (coalesce(col("budget"), lit(2)) * cfg.budgetScale).cast("long"))
    // Politeness op 2/2 — robots crawl_delay ENFORCEMENT: in a Δ-window of
    // `deltaPerBatchSec` seconds a polite crawler issues at most
    // ⌊window / delay⌋ fetches to that host (the batched analogue of the
    // inter-request delay; min 1 so a delay longer than the window slows
    // the host to one fetch per batch rather than starving it). The cap
    // composes with the budget as a per-(host, batch) minimum; the
    // sequential oracle applies the identical formula.
    val capped = delays match {
      case Some(d) =>
        budgeted
          .join(broadcast(d), Seq("host"), "left")
          .withColumn("budget",
            when(col("crawl_delay").isNotNull && col("crawl_delay") > 0,
              least(col("budget"), greatest(lit(1L),
                floor(lit(cfg.deltaPerBatchSec) / col("crawl_delay")).cast("long"))))
              .otherwise(col("budget")))
          .drop("crawl_delay")
      case None => budgeted
    }
    val prioritized = capped
      .withColumn("priority", Priority.score(col("weight"), col("discovered_ts")))
      .withColumn("host_bucket", pmod(xxhash64(col("host")), lit(cfg.numBuckets)))

    val rankOrder = Seq(desc("priority"), desc("discovered_ts"), asc("url"))

    // Salted local-top-k pre-ranking (see CrawlConfig.localTopKSalt): exact
    // refinement — a row in the global per-host top-B is necessarily in its
    // salt slice's top-B, so filtering each (host, salt) slice to rank ≤ B
    // drops nothing from the final result, while a mega-host's candidates
    // sort spread over (host_bucket, salt) partitions instead of one task.
    val preFiltered =
      if (cfg.localTopKSalt > 1) {
        val localWindow = Window
          .partitionBy(col("host_bucket"), col("__salt"), col("host"))
          .orderBy(rankOrder: _*)
        prioritized
          .withColumn("__salt", pmod(xxhash64(col("url")), lit(cfg.localTopKSalt)))
          .repartition(cfg.numBuckets, col("host_bucket"), col("__salt"))
          .withColumn("__lrank", row_number().over(localWindow))
          .filter(col("__lrank") <= col("budget"))
          .drop("__salt", "__lrank")
      } else prioritized

    // Final per-host rank. Two output-identical physical strategies
    // (CrawlParitySpec pins parity):
    //  - WINDOW (the norm): partition by (host_bucket, host), row_number.
    //    HashPartitioning(host_bucket) satisfies the required
    //    ClusteredDistribution by the subset rule — ranking reuses the
    //    repartition exchange (probe-verified on 4.1.2, SURVEY.md §4).
    //    Scales whenever hosts ≫ cores (the open-web norm: host-grain
    //    groups spread evenly, the salted pre-rank has already split any
    //    mega-host).
    //  - DISTRIBUTED (mega-batches over a SMALL host universe — the
    //    consolidated-publisher regime this engine's fixture models, ~20
    //    hosts): the window's parallelism is capped at the number of
    //    occupied host buckets, so at 32 threads most cores idle through
    //    the rank sort (round-5 stage profile: par ≈ 4 of 32). Instead,
    //    range-partition by the GLOBAL rank order and take a per-host
    //    running count — per-host rank == the window's row_number because
    //    a host's rows stay relatively ordered inside a global sort.
    //    Parallelism = range partitions, balanced regardless of host skew.
    //    Driver partials are parts × |hosts present| rows, which is why
    //    this path is gated to small host universes (CrawlLoop's
    //    DistHostRankMaxHosts bound).
    if (distHostRank) {
      GlobalOrder.withRunningSum(
        preFiltered.withColumn("__one", lit(1L)),
        "host", "__one", rankOrder, cfg.numBuckets, "host_rank")
        .drop("__one")
    } else {
      val rankWindow = Window
        .partitionBy(col("host_bucket"), col("host"))
        .orderBy(rankOrder: _*)
      val byBucket =
        if (fixedWidth) preFiltered.repartition(cfg.numBuckets, col("host_bucket"))
        else preFiltered.repartition(col("host_bucket"))
      byBucket.withColumn("host_rank", row_number().over(rankWindow))
    }
  }

  /** Run one micro-batch. `frontier`: (url, host, discovered_ts) queued rows;
    * `seenExact`: (url_hash, url, status); `seenShards`: the Bloom blobs
    * summarizing `seenExact`; `seenRecent`: seen rows the shard table does
    * not cover (the deltas after the compaction it summarizes, see
    * CrawlLoop), anti-joined exactly before the two-tier probe — the seen
    * set is then `seenRecent ∪ seenExact`; dims: robots/weights/budgets
    * fixtures. `scheduledBound`: a per-run upper bound on the batch's
    * scheduled count (Σ budgets × budgetScale, computed once per run) —
    * picks the fetch_order strategy without a per-batch counting action.
    * Returns the batch outputs as LAZY frames: the batch issues NO Spark
    * action itself; the caller's checkpoint writes are the single job wave.
    *
    * Partition widths at or below [[BroadcastFetchBound]]: the caches are
    * re-read by every state write, one job per writer at the cached
    * frame's width, so the batch lets AQE size them. The rank and
    * salted-parse repartitions drop their explicit `numBuckets` count
    * (an explicit count is never coalesced), and the caches are registered
    * with spark.sql.optimizer.canChangeCachedPlanOutputPartitioning set,
    * without which a cached plan's final stage is never coalesced. The
    * setting is read only when `.cache()` registers a frame, so it is
    * scoped to those calls and the caller's value is restored. Above the
    * bound both stay pinned: coalescing a mega-batch would undo the salted
    * parse's skew balance (SkewSpec). */
  def runBatch(
      spark: SparkSession,
      pages: DataFrame,
      frontier: DataFrame,
      seenExact: DataFrame,
      seenShards: DataFrame,
      robots: DataFrame,
      weights: DataFrame,
      budgets: DataFrame,
      batchId: Long,
      articleCountSoFar: Long,
      cfg: CrawlConfig,
      scheduledBound: Long = Long.MaxValue,
      distHostRank: Boolean = false,
      seenRecent: Option[DataFrame] = None): BatchResult = {

    val loSec = Constants.EPOCH.getEpochSecond + (batchId - 1) * cfg.deltaPerBatchSec
    val hiSec = loSec + cfg.deltaPerBatchSec
    val broadcastFetch = scheduledBound <= BroadcastFetchBound
    def registerCaches[A](body: => A): A =
      if (broadcastFetch) SessionConf.withConf(spark, CoalesceCachedPlansKey, "true")(body)
      else body

    // ---- candidates = Δ-scan ∪ frontier, deduped by canonical url --------
    val cands = deltaScan(pages, loSec, hiSec)
      .unionByName(frontier.select("url", "discovered_ts", "host"))
      .groupBy("url", "host")
      .agg(max("discovered_ts").as("discovered_ts"))
      .withColumn("url_hash", Canonicalize.urlHash(col("url")))

    // ---- seen-set anti-join (op 12): exact vs the recent rows, then ------
    // ---- two-tier vs the rows the shard table summarizes -----------------
    val unseenRecent = seenRecent.fold(cands)(recent =>
      cands.join(recent.select("url_hash"), Seq("url_hash"), "left_anti"))
    val (newRows, dedupCached) = registerCaches(
      BloomSeen.antiJoinSeen(spark, unseenRecent, seenExact,
        Option.when(cfg.useBloom)(seenShards), cfg.bloomBroadcastProbe))

    // ---- robots + priority + politeness ranking (ops 13/49/38/51/24/25) ---
    val sched = registerCaches(
      schedule(newRows, robots, weights, budgets, cfg, distHostRank, fixedWidth = !broadcastFetch))
    val excluded = sched.excluded
    val scheduled = sched.scheduled
      .select("url", "url_hash", "host", "discovered_ts", "priority", "host_bucket")
    val deferred = sched.deferred

    // ---- fetch (ops 3/14): scheduled ⋈ pages on canonical url -------------
    // Capture-dedup ("latest capture wins") runs on a NARROW
    // (url, raw_url, warc_ts) projection of the scan; the fat `html` column
    // only ever enters the final winners rejoin. Strategy is gated on the
    // per-run scheduled bound:
    //  - bound ≤ BroadcastFetchBound (politeness-bounded batches, the norm):
    //    the scheduled set and the winning raw keys are BROADCAST, so html
    //    flows scan → map-side join → parse inside one stage and never
    //    shuffles at all (PlanShapeSpec pins this).
    //  - above the bound (Σ budgets ~ host count; ~10^8 rows at the 10^10-URL
    //    design point — a guaranteed driver/executor OOM if broadcast): both
    //    joins run as plain shuffled equi-joins. The scheduled/winner KEY
    //    sets that shuffle are narrow O(batch) rows, and the scan side is
    //    pruned to ≈ the winning captures before its html rows reach the
    //    exchange by Spark's runtime bloom-filter injection
    //    (spark.sql.optimizer.runtime.bloomFilter.enabled) / AQE, so the
    //    html that moves is the fetch batch itself — which must move to be
    //    parsed — never the corpus.
    // Both shapes produce byte-identical output (CrawlParitySpec
    // fetch-strategy invariance).
    def fetchSide(df: DataFrame): DataFrame = if (broadcastFetch) broadcast(df) else df
    val hiTs = lit(java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(hiSec)))
    val pagesVisible = pages
      .filter(Canonicalize.isHttpScheme(col("url")))
      .filter(col("warc_ts") < hiTs)
    val narrow = pagesVisible
      .select(
        Canonicalize.canonicalUrl(col("url")).as("url"),
        col("url").as("raw_url"), col("warc_ts"))
      .filter(col("url").isNotNull)
      .join(fetchSide(scheduled.select(
        col("url"), col("url_hash"), col("priority"), col("host"), col("host_bucket"))),
        Seq("url"), "inner")
    // Latest capture wins per canonical url (alias rows differ only in ts).
    // winners carries (raw_url, warc_ts) and the rejoin below keys on BOTH:
    // a raw url recaptured at several warc_ts (the normal re-crawl case) must
    // contribute exactly its winning capture, not every capture of the
    // winning raw url.
    val captureWindow = Window.partitionBy(col("url")).orderBy(desc("warc_ts"), desc("raw_url"))
    val winners = narrow
      .withColumn("__rn", row_number().over(captureWindow))
      .filter(col("__rn") === 1)
      .select("raw_url", "warc_ts", "url", "url_hash", "priority", "host", "host_bucket")

    val fetched0 = pagesVisible
      .select(col("url").as("raw_url"), col("warc_ts"), col("html"), col("text"), col("lang"))
      .join(fetchSide(winners), Seq("raw_url", "warc_ts"), "inner")
      .drop("raw_url")

    // ---- parse stage (ops 47/35), optionally salted (op 51) ----------------
    // With the broadcast fetch the scan partitions are already block-
    // balanced; the salted repartition remains available for sources whose
    // block layout is skewed.
    val salt = pmod(xxhash64(col("url")), lit(cfg.numBuckets))
    val balanced =
      if (!cfg.saltParse) fetched0
      else if (broadcastFetch) fetched0.repartition(salt)
      else fetched0.repartition(cfg.numBuckets, salt)
    val parsed = registerCaches(balanced
      .withColumn("bytes", octet_length(col("html")))
      .withColumn("extracted", extractUdf(col("host"), col("html")))
      .withColumn("parse_ok", col("extracted") === col("text"))
      .withColumn("is_listing", col("extracted") === lit(""))
      .cache())

    // ---- link extraction (op 48): listing pages grow the frontier ---------
    val links = parsed
      .filter(col("is_listing"))
      .select(explode(linksUdf(col("html"))).as("raw_link"), col("warc_ts"))
      .filter(Canonicalize.isHttpScheme(col("raw_link")))
      .select(
        Canonicalize.canonicalUrl(col("raw_link")).as("url"),
        col("warc_ts").as("discovered_ts"))
      .filter(col("url").isNotNull)
      .groupBy("url")
      .agg(max("discovered_ts").as("discovered_ts"))
      .withColumn("host", try_parse_url(col("url"), lit("HOST")))

    // ---- articles (op 4) with global fetch_order (op 29) -------------------
    // Small batches (the politeness-bounded norm) use a single-partition
    // row_number window; big batches (stress/scaling) switch to the two-phase
    // distributed global rank (range-sort + zipWithIndex). Same total order
    // either way — (priority desc, url asc) is unique via the url tie-break —
    // so the bound-based choice affects only the physical plan.
    val articleBase = parsed
      .filter(!col("is_listing"))
      .select(col("url"), col("warc_ts"), col("extracted").as("text"), col("lang"), col("priority"))
      .withColumn("url_hash", Canonicalize.urlHash(col("url")))
    val orderCols = Seq(desc("priority"), asc("url"))
    val withOrd =
      if (broadcastFetch)
        articleBase.withColumn("__ord", row_number().over(Window.orderBy(orderCols: _*)).cast("long"))
      else {
        // NARROW two-phase rank (round-5 stage profile: range-sorting the
        // text-fat article rows was the single largest CPU sink of the XL
        // mega-batch — the sorted shuffle is read+sorted by BOTH
        // zipWithIndex jobs). Rank a (url_hash, priority, url) projection
        // instead, then hash-join the 16-byte rank relation back on
        // url_hash (unique per batch — capture winners are per-url; 64-bit
        // collisions are the same accepted trade the seen tier documents).
        // Article text now crosses exactly ONE exchange, un-sorted.
        val ranks = GlobalOrder.withRank(
          articleBase.select(col("url_hash"), col("priority"), col("url")),
          orderCols, cfg.numBuckets, "__ord")
          .select(col("url_hash"), col("__ord"))
        articleBase.join(ranks.hint("shuffle_hash"), Seq("url_hash"))
      }
    val articles = withOrd
      .withColumn("fetch_order", lit(articleCountSoFar) + col("__ord"))
      .withColumn("batch_id", lit(batchId))
      .select("url", "url_hash", "warc_ts", "text", "lang", "batch_id", "fetch_order")

    // ---- seen delta: fetched ∪ excluded ∪ fetch-misses ---------------------
    val fetchedKeys = parsed.select(col("url"), col("url_hash"))
    val missing = scheduled
      .join(parsed.select("url"), Seq("url"), "left_anti")
      .select(col("url_hash"), col("url"), lit("missing").as("status"))
    val seenDelta = fetchedKeys
      .select(col("url_hash"), col("url"), lit("fetched").as("status"))
      .unionByName(excluded)
      .unionByName(missing)

    // ---- next frontier: deferred ∪ new links, deduped ----------------------
    val newFrontier = deferred
      .unionByName(links.select("url", "host", "discovered_ts"))
      .groupBy("url", "host")
      .agg(max("discovered_ts").as("discovered_ts"))

    // ---- lineage + metrics (ops 18/21) --------------------------------------
    val fetchLog = parsed
      .groupBy(spark_partition_id().as("partition_id"), col("host_bucket"))
      .agg(
        count(lit(1)).as("urls_fetched"),
        sum(when(col("parse_ok"), 1L).otherwise(0L)).as("urls_parsed"),
        sum(when(col("is_listing"), 0L).otherwise(1L)).as("urls_article"),
        sum(col("bytes")).cast("long").as("bytes"))
      .withColumn("batch_id", lit(batchId))
    val hostLog = scheduled
      .groupBy("host")
      .agg(count(lit(1)).as("urls_scheduled"))
      .join(
        parsed.groupBy("host").agg(
          count(lit(1)).as("urls_fetched"),
          sum(when(col("parse_ok"), 1L).otherwise(0L)).as("urls_parsed"),
          sum(col("bytes")).cast("long").as("bytes")),
        Seq("host"), "full_outer")
      .na.fill(0L, Seq("urls_scheduled", "urls_fetched", "urls_parsed", "bytes"))
      .withColumn("batch_id", lit(batchId))

    BatchResult(
      articles, newFrontier, seenDelta, fetchLog, hostLog,
      dedupCached ++ sched.cached :+ parsed)
  }
}
