package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.core.{Canonicalize, Constants, Fixtures}
import graft.operators.{BatchResult, BloomSeen, Checkpoints, CrawlConfig, CrawlLoop, Scheduler}

/** Physical-plan shape pins (SURVEY.md §4): these are the load-bearing
  * optimizer facts the 100 TB design relies on. If a Spark upgrade or a
  * refactor silently adds a shuffle or widens a scan, these fail.
  *
  * AQE is disabled inside this suite so executedPlan shapes are static. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withStaticPlans[A](f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] =
    df.queryExecution.executedPlan.collect { case e: ShuffleExchangeExec => e }

  private def scans(df: DataFrame): Seq[FileSourceScanExec] =
    df.queryExecution.executedPlan.collect { case s: FileSourceScanExec => s }

  /** One whole-corpus sf0.001 batch (salted parse on, exact seen tier). */
  private val batchCfg = CrawlConfig(deltaPerBatchSec = 365L * 24 * 3600,
    useBloom = false, runTag = "planshape_width")

  private def sf0001Batch(scheduledBound: Long, robotsDrop: Seq[String] = Nil): BatchResult = {
    val fixDir = Fixtures.ensure(spark, TestSpark.Sf0001)
    val pages = spark.read.parquet(s"$fixDir/pages.parquet")
    val robots = spark.read.parquet(s"$fixDir/robots.parquet").drop(robotsDrop: _*)
    val weights = spark.read.parquet(s"$fixDir/source_weights.parquet")
    val budgets = spark.read.parquet(s"$fixDir/budgets.parquet")
    Scheduler.runBatch(spark, pages, CrawlLoop.seedFrontier(spark, fixDir),
      Checkpoints.emptyFrame(spark, CrawlLoop.SeenSchema),
      Checkpoints.emptyFrame(spark, CrawlLoop.ShardSchema),
      robots, weights, budgets, 1L, 0L, batchCfg, scheduledBound = scheduledBound)
  }

  /** The batch's cached frame carrying `column`: host_rank → ranked,
    * parse_ok → parsed. */
  private def cachedWith(r: BatchResult, column: String): InMemoryRelation =
    r.cached.filter(_.columns.contains(column)) match {
      case Seq(df) => df.queryExecution.withCachedData.collectFirst {
        case m: InMemoryRelation => m
      }.getOrElse(fail(s"frame with $column is not cached"))
      case other => fail(s"${other.size} cached frames carry $column")
    }

  test("delta-scan: html pruned from the scan, warc_ts predicate pushed down") {
    withStaticPlans {
      val pages = Fixtures.pages(spark, TestSpark.Sf0001)
      val d = Scheduler.deltaScan(pages, 0L, Constants.NowEpochSec)
      val scan = scans(d).head
      val readCols = scan.requiredSchema.fieldNames.toSet
      assert(readCols === Set("url", "warc_ts"), s"scan reads $readCols")
      assert(scan.metadata("PushedFilters").contains("warc_ts"),
        s"no pushed warc_ts filter: ${scan.metadata("PushedFilters")}")
    }
  }

  test("rank window reuses the host_bucket repartition exchange (1 shuffle)") {
    withStaticPlans {
      val cands = (1 to 100)
        .map(i => (s"https://h${i % 5}.example.com/a/$i", s"h${i % 5}.example.com"))
        .toDF("url", "host")
        .withColumn("discovered_ts", lit(Constants.EpochTs))
        .withColumn("url_hash", xxhash64($"url"))
      val robots = Seq(("h0.example.com", Seq("/private/"))).toDF("host", "disallow")
      val weights = Seq(("h0.example.com", 2.0)).toDF("host", "weight")
      val budgets = Seq(("h0.example.com", 3)).toDF("host", "budget")
      val ranked = Scheduler.rankCandidates(cands, weights, budgets, CrawlConfig())
      val n = shuffles(ranked).size
      assert(n === 1, s"expected exactly 1 shuffle (repartition reused by window), got $n")
    }
  }

  test("salted local-top-k path adds exactly one extra exchange") {
    withStaticPlans {
      val cands = (1 to 100)
        .map(i => (s"https://h${i % 5}.example.com/a/$i", s"h${i % 5}.example.com"))
        .toDF("url", "host")
        .withColumn("discovered_ts", lit(Constants.EpochTs))
        .withColumn("url_hash", xxhash64($"url"))
      val robots = Seq(("h0.example.com", Seq("/private/"))).toDF("host", "disallow")
      val weights = Seq(("h0.example.com", 2.0)).toDF("host", "weight")
      val budgets = Seq(("h0.example.com", 3)).toDF("host", "budget")
      val ranked = Scheduler.rankCandidates(cands, weights, budgets,
        CrawlConfig(localTopKSalt = 4))
      val n = shuffles(ranked).size
      assert(n === 2, s"expected 2 shuffles (salted local + global), got $n")
    }
  }

  test("fetch/parse: the fat html column never enters a shuffle") {
    withStaticPlans {
      val fixDir = Fixtures.ensure(spark, TestSpark.Sf0001)
      val pages = spark.read.parquet(s"$fixDir/pages.parquet")
      val robots = spark.read.parquet(s"$fixDir/robots.parquet")
      val weights = spark.read.parquet(s"$fixDir/source_weights.parquet")
      val budgets = spark.read.parquet(s"$fixDir/budgets.parquet")
      val cfg = CrawlConfig(deltaPerBatchSec = 365L * 24 * 3600,
        saltParse = false, runTag = "planshape")
      val frontier = graft.operators.CrawlLoop.seedFrontier(spark, fixDir)
      val emptySeen = graft.operators.Checkpoints.emptyFrame(spark, graft.operators.CrawlLoop.SeenSchema)
      val emptyShards = graft.operators.Checkpoints.emptyFrame(spark, graft.operators.CrawlLoop.ShardSchema)
      val r = Scheduler.runBatch(spark, pages, frontier, emptySeen, emptyShards,
        robots, weights, budgets, 1L, 0L, cfg.copy(useBloom = false),
        scheduledBound = 1000L)
      val htmlShuffles = shuffles(r.articles).filter(
        _.child.output.exists(_.name == "html"))
      val plan = r.articles.queryExecution.executedPlan.toString
      r.cached.foreach(_.unpersist())
      assert(htmlShuffles.isEmpty,
        s"html flows through ${htmlShuffles.size} shuffle(s)")
      assert(plan.contains("BroadcastHashJoin"), "fetch join is not broadcast")
    }
  }

  test("fetch join above BroadcastFetchBound: no forced broadcast of scheduled/winners") {
    // Above the bound the scheduled set is ~Σ budgets ~ host count (10^8
    // rows at the design point) — a forced broadcast there is a guaranteed
    // OOM. With auto-broadcast disabled, any surviving BroadcastExchange
    // could only come from an explicit hint: the dim joins (robots/weights/
    // budgets — genuinely tiny at any scale) keep theirs, but no broadcast
    // side may carry the scheduled/winner columns (recognizable by
    // `priority`, which no dim has).
    withStaticPlans {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val fixDir = Fixtures.ensure(spark, TestSpark.Sf0001)
        val pages = spark.read.parquet(s"$fixDir/pages.parquet")
        val robots = spark.read.parquet(s"$fixDir/robots.parquet")
        val weights = spark.read.parquet(s"$fixDir/source_weights.parquet")
        val budgets = spark.read.parquet(s"$fixDir/budgets.parquet")
        val cfg = CrawlConfig(deltaPerBatchSec = 365L * 24 * 3600,
          saltParse = false, useBloom = false, runTag = "planshape_shuffled")
        val frontier = graft.operators.CrawlLoop.seedFrontier(spark, fixDir)
        val emptySeen = graft.operators.Checkpoints.emptyFrame(spark, graft.operators.CrawlLoop.SeenSchema)
        val emptyShards = graft.operators.Checkpoints.emptyFrame(spark, graft.operators.CrawlLoop.ShardSchema)
        val r = Scheduler.runBatch(spark, pages, frontier, emptySeen, emptyShards,
          robots, weights, budgets, 1L, 0L, cfg,
          scheduledBound = Scheduler.BroadcastFetchBound + 1)
        val plan = r.articles.queryExecution.executedPlan
        r.cached.foreach(_.unpersist())
        val schedBcasts = plan.collect {
          case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
              if b.output.exists(_.name == "priority") => b
        }
        assert(schedBcasts.isEmpty,
          s"scheduled/winner set still force-broadcast above the bound:\n$plan")
        // Narrow fetch_order (round 5): the text-fat article rows must cross
        // exactly ONE exchange, hash-partitioned (the rank-attach join) —
        // never a RangePartitioning one (the rank's range sort runs on the
        // 16-byte (url_hash, priority, url) projection only).
        val textShuffles = plan.collect {
          case e: ShuffleExchangeExec if e.child.output.exists(_.name == "text") => e
        }
        assert(textShuffles.size <= 1,
          s"text crosses ${textShuffles.size} exchanges:\n$plan")
        assert(!textShuffles.exists(
          _.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RangePartitioning]),
          s"text rides a sorted (range) exchange:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("politeness-bounded batch: AQE sizes the rank and parse caches below numBuckets") {
    // AQE stays on here: the widths under test are AQE's coalescing.
    val r = sf0001Batch(scheduledBound = 1000L)
    try {
      r.articles.count()
      val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
      for (c <- Seq("host_rank", "parse_ok")) {
        val width = cachedWith(r, c).cacheBuilder.cachedColumnBuffers.getNumPartitions
        // Below the session width too: the cached plan's final stage coalesced.
        assert(width < batchCfg.numBuckets && width < shufflePartitions,
          s"cache with $c is $width partitions wide")
      }
    } finally r.cached.foreach(_.unpersist())
  }

  test("above BroadcastFetchBound: rank and parse repartitions stay pinned at numBuckets") {
    withStaticPlans {
      val r = sf0001Batch(scheduledBound = Scheduler.BroadcastFetchBound + 1)
      try for (c <- Seq("host_rank", "parse_ok")) {
        val plan = cachedWith(r, c).cacheBuilder.cachedPlan
        val pinned = plan.collect {
          case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM &&
            e.outputPartitioning.numPartitions == batchCfg.numBuckets => e
        }
        assert(pinned.size === 1, s"cache with $c:\n$plan")
      } finally r.cached.foreach(_.unpersist())
    }
  }

  test("runBatch restores the caller's cached-plan partitioning setting") {
    val key = Scheduler.CoalesceCachedPlansKey
    def state = spark.conf.getAll.get(key)
    val prev = state
    try for (start <- Seq(None, Some("false"))) {
      start.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      sf0001Batch(scheduledBound = 1000L).cached.foreach(_.unpersist())
      assert(state === start, "after a batch that returned")
      // A robots dim without `disallow` fails while the batch registers its caches.
      intercept[org.apache.spark.sql.AnalysisException](
        sf0001Batch(scheduledBound = 1000L, robotsDrop = Seq("disallow")))
      assert(state === start, "after a batch that threw")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("distributed host rank: no window operator, no single-task rank stage") {
    // The mega-batch/small-host-universe strategy (round 5) replaces the
    // (host_bucket, host) row_number window — whose parallelism is capped at
    // the occupied-bucket count — with GlobalOrder's range-partitioned
    // running count (an RDD-backed relation; its inner range shuffle lives
    // in the RDD lineage). Pin: no WindowExec and no single-partition
    // exchange may appear in the executed plan — a regression that routes
    // the distHostRank branch back through the window WOULD surface both.
    withStaticPlans {
      val cands = (1 to 100)
        .map(i => (s"https://h${i % 5}.example.com/a/$i", s"h${i % 5}.example.com"))
        .toDF("url", "host")
        .withColumn("discovered_ts", lit(Constants.EpochTs))
        .withColumn("url_hash", xxhash64($"url"))
      val weights = Seq(("h0.example.com", 2.0)).toDF("host", "weight")
      val budgets = Seq(("h0.example.com", 3)).toDF("host", "budget")
      val ranked = Scheduler.rankCandidates(cands, weights, budgets,
        CrawlConfig(), None, distHostRank = true)
      val plan = ranked.queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"distributed rank still plans a window:\n$plan")
      val singleTask = shuffles(ranked).filter(
        _.outputPartitioning.numPartitions == 1)
      assert(singleTask.isEmpty, s"single-partition exchange in rank plan:\n$plan")
    }
  }

  test("exact-dedup anti-join plans as a real join, robots dim broadcasts") {
    withStaticPlans {
      val cands = (1L to 50L).map(i => (i, s"u$i")).toDF("url_hash", "url")
      val seen = (1L to 25L).map(i => (i, s"u$i", "fetched")).toDF("url_hash", "url", "status")
      val out = graft.operators.BloomSeen.antiJoinSeen(spark, cands, seen, None)._1
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("LeftAnti"), s"anti-join missing: $plan")
    }
  }

  test("bucketed bloom probe: cogroup, blob never joins per-candidate") {
    withStaticPlans {
      val seen = (1L to 100L).map(i => (i * 13L, s"u$i")).toDF("url_hash", "url")
      val shards = BloomSeen.buildShards(seen.select("url_hash"))
      val cands = (1L to 50L).map(i => (i * 13L, s"c$i")).toDF("url_hash", "url")
      val flagged = BloomSeen.tagMaybeSeenBucketed(cands, shards)
      val plan = flagged.queryExecution.executedPlan
      assert(plan.toString.contains("CoGroup"),
        s"bucketed probe did not plan a CoGroup:\n$plan")
      // the blob column must never appear in a join output (it only feeds
      // the cogroup's right iterator)
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
      }
      assert(!joins.exists(_.output.exists(_.name == "filter")),
        "bloom blob column attached to a per-candidate join")
    }
  }

  test("buildShards: explicit repartition satisfies the agg distribution (1 shuffle)") {
    withStaticPlans {
      val shards = BloomSeen.buildShards((1L to 1000L).toDF("url_hash"))
      val n = shuffles(shards).size
      assert(n === 1, s"expected 1 shuffle (repartition reused by agg), got $n")
    }
  }

  test("q34 tiled cosine pairs: equi-join plan, no nested-loop / cartesian") {
    withStaticPlans {
      val vecs = (1L to 60L)
        .map(i => (i, Seq.tabulate(8)(d => ((i * 31 + d * 7) % 13 - 6).toFloat)))
        .toDF("vec_id", "embedding")
      val pairs = graft.ml.Similarity.cosineNearDupPairs(vecs, 0.35, blocks = 4)
      val plan = pairs.queryExecution.executedPlan
      val bad = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(bad.isEmpty, s"all-pairs operator planned a non-equi join:\n$plan")
    }
  }

  test("q31 minhash pairs: no forced broadcast of the representative table") {
    // The reps table is corpus-sized (every distinct token-set) — a
    // broadcast hint on the attach joins is a 10^10-doc OOM. With the
    // auto-broadcast threshold disabled, any surviving BroadcastHashJoin
    // can only come from an explicit hint — pin that none exists. (AQE may
    // still choose a broadcast at runtime from MEASURED small sizes; that
    // adaptive choice is correct and is not what this pins.)
    withStaticPlans {
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val docs = (1L to 40L)
          .map(i => (i, (0 until 20).map(w => s"w${(i * 7 + w) % 30}").mkString(" ")))
          .toDF("doc_id", "text")
        val pairs = graft.ml.Dedup.minhashPairs(docs, threshold = 0.95)
        val plan = pairs.queryExecution.executedPlan
        val bcasts = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        }
        assert(bcasts.isEmpty,
          s"forced broadcast survives in the minhash attach plan:\n$plan")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("native expressions stay inside whole-stage codegen (no fallback)") {
    // shingles3 / pct_decode_unreserved / minhash_sig are hot-path kernels;
    // if one regressed to CodegenFallback (the lambda-HOF trap, BENCH.md
    // §5) it would run interpreted at ~16x cost. Pin: the projection
    // evaluating them sits under a WholeStageCodegen node.
    withStaticPlans {
      import graft.functions.expressions._
      // spark.range (a real leaf operator), not a local Seq: Catalyst folds
      // projections over LocalRelation at optimization time, which would
      // bypass codegen entirely and vacuously pass/fail this pin.
      val df = spark.range(50)
        .select(concat_ws(" ", $"id".cast("string"), lit("w1 w2 w3")).as("text"),
          concat(lit("/a%4"), ($"id" % 10).cast("string"), lit("/x")).as("path"))
        .select(
          shingles3($"text").as("sh"),
          pct_decode_unreserved($"path").as("p"),
          minhash_sig(split($"text", " "), 8).as("sig"))
      val plan = df.queryExecution.executedPlan
      val codegenContainsProject = plan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
            if w.collect { case p: org.apache.spark.sql.execution.ProjectExec => p }.nonEmpty => w
      }
      assert(codegenContainsProject.nonEmpty,
        s"native-expression projection fell out of whole-stage codegen:\n$plan")
      assert(df.collect().length === 50) // and it actually executes compiled
    }
  }

  test("q35 brute-force knn: no global window; partial/final top-k agg") {
    withStaticPlans {
      val vecs = (1L to 60L)
        .map(i => (i, Seq.tabulate(8)(d => ((i * 17 + d * 5) % 11 - 5).toFloat)))
        .toDF("vec_id", "embedding")
      val knn = graft.ml.Similarity.knnBruteForce(
        vecs.filter($"vec_id" % 10 === 0), vecs, 5)
      val plan = knn.queryExecution.executedPlan
      val windows = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.isEmpty, s"top-k still funnels through a window:\n$plan")
      assert(plan.toString.contains("Aggregate"), "no aggregate in top-k plan")
    }
  }

  test("q147 champion pruning: rank<=p plans as WindowGroupLimit (partial below the exchange)") {
    withStaticPlans {
      val docs = (1L to 60L)
        .map(i => (i, s"spark merge w${i % 7} w${i % 5} filler"))
        .toDF("doc_id", "text")
      val plan = graft.ml.Search.championTopK(docs, Seq("spark", "merge"), p = 3, k = 10)
        .queryExecution.executedPlan
      val limits = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      }
      assert(limits.size >= 2, // partial (pre-shuffle) + final
        s"champion rank filter did not plan as partial+final WindowGroupLimit:\n$plan")
      // and the global cut stays TakeOrderedAndProject — no global sort
      assert(plan.toString.contains("TakeOrderedAndProject"), s"no top-k operator:\n$plan")
    }
  }

  test("q152 hard negatives: equi-joins only — no nested-loop / cartesian on the pair path") {
    withStaticPlans {
      val docs = (1L to 40L)
        .map(i => (i, s"a${i % 11} b${i % 7} c${i % 5} d${i % 3} common"))
        .toDF("doc_id", "text")
      val plan = graft.ml.Corpus.hardNegatives(docs, col("doc_id") % 5 === 0, k = 3)
        .queryExecution.executedPlan
      val bad = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(bad.isEmpty, s"pair generation fell back to a nested loop:\n$plan")
    }
  }

  test("q156 novelty curve: first-occurrence join carries 8-byte keys, not shingle strings") {
    withStaticPlans {
      import java.sql.Timestamp
      val docs = (1L to 30L)
        .map(i => (i, s"w${i % 9} w${i % 7} w${i % 5} w${i % 3} tail",
          Timestamp.from(java.time.Instant.ofEpochSecond(i * 3600))))
        .toDF("doc_id", "text", "ts")
      val plan = graft.ml.Corpus.noveltyCurve(docs)
        .queryExecution.executedPlan
      for (ex <- plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }) {
        val carried = ex.child.output.map(_.name).toSet
        assert(!carried.contains("s"),
          s"a shuffle carries raw shingle strings ($carried):\n$plan")
      }
    }
  }

  test("q178 dust mining: equi-join on content keys — no nested loop, text never shuffles") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q178_dust_rules")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      val bad = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      assert(bad.isEmpty, s"dust pair join fell back to a nested loop:\n$plan")
      for (s <- shuffles(df))
        assert(!s.output.exists(_.name == "text"),
          s"page text rides a shuffle:\n$plan")
    }
  }

  test("q182 dust apply: the ONLY nested loop is the deliberate broadcast rule probe") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q182_dust_apply")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      val bnl = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      assert(bnl.size === 1, s"expected exactly the rules probe BNLJ:\n$plan")
      val sides = Seq(bnl.head.left.output.map(_.name), bnl.head.right.output.map(_.name))
      assert(sides.exists(_ == Seq("rule_suffix")),
        s"the broadcast side is not the 1-column rule dim: $sides")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty)
    }
  }

  test("q183 cdc chunks: one per-capture window; chunk identity shuffles as hashes") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q183_cdc_chunks")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.size === 1, s"expected exactly one window:\n$plan")
      assert(wins.head.partitionSpec.nonEmpty, "boundary window is unpartitioned")
      for (s <- shuffles(df))
        assert(!s.output.exists(n => n.name == "chunk" || n.name == "text"),
          s"chunk/text strings ride a shuffle:\n$plan")
    }
  }

  test("q196 spam mass: ONE fused in-mass agg per round carries both rank columns") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q196_spam_mass")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty, s"cartesian on the rank path:\n$plan")
      // the whole point of spamMass vs q69+q143 composed: each round's
      // in-mass shuffle aggregates BOTH recursions' columns at once.
      val fused = plan.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
            if a.output.map(_.name).toSet.intersect(Set("cinp", "cint")).size == 2 => a
      }
      assert(fused.nonEmpty, s"no fused cinp+cint aggregate — recursions split:\n$plan")
      // every nested-loop join is a 1-row constant attach (the N broadcast)
      val bnl = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      for (j <- bnl) {
        val sides = Seq(j.left.output.map(_.name), j.right.output.map(_.name))
        assert(sides.exists(s => s.forall(Set("n_nodes", "n_seeds"))),
          s"a BNLJ that is not the 1-row count attach: $sides")
      }
    }
  }

  test("q197 mercator: queue_seq window is queue-partitioned; host-queue dim stays bounded") {
    withStaticPlans {
      // final plan (above GlobalOrder's RDD rank boundary): exactly the
      // queue_seq window, PARTITIONED by queue_id — batch-bounded frames
      val df = graft.SparkEntry.queries("q197_mercator_schedule")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.size === 1 && wins.head.partitionSpec.nonEmpty,
        s"expected exactly the queue-partitioned queue_seq window:\n$plan")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty)
      // pre-rank stage (below the boundary, pinned directly): the ONLY
      // unpartitioned window runs on the DISTINCT host dim — its input is
      // the 1-column host relation, never the url-grain batch
      val batch = Seq(("u1", "h1.com", 1), ("u2", "h2.com", 1))
        .toDF("url", "host", "host_rank")
      val hostWin = org.apache.spark.sql.expressions.Window.orderBy(col("host"))
      val hostQueue = batch.select("host").distinct()
        .withColumn("queue_id", pmod(row_number().over(hostWin) - 1, lit(4)))
      val hw = hostQueue.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(hw.size === 1 && hw.head.partitionSpec.isEmpty &&
        hw.head.child.output.map(_.name) === Seq("host"),
        "host→queue window is not the bounded 1-column host dim")
    }
  }

  test("q198 refresh policy: map + broadcast-total + agg — no windows anywhere") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q198_refresh_policy")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      // the λ̂ table itself needs its per-url lag window; the AUDIT adds none:
      // every window in the plan is the rate estimator's url-partitioned one
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.forall(_.partitionSpec.nonEmpty),
        s"audit added an unpartitioned window:\n$plan")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }.isEmpty)
    }
  }

  test("q186 static pruning: windows stay per-term partitioned, never corpus-wide") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q186_static_pruning")(spark, TestSpark.Sf0001)
      val wins = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty)
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "an unpartitioned (single-task) window appeared on the pruning path")
    }
  }

  test("q199 vbyte audit: index-build agg shape — no windows, no nested loops") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q199_postings_vbyte")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"gap coding must ride the per-term agg state, not a window:\n$plan")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty)
    }
  }

  test("q200 pmi: top-k is TakeOrderedAndProject; totals are 1-row broadcast attaches") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q200_pmi_collocations")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s"global top-50 must plan as TakeOrderedAndProject:\n$plan")
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty)
      // every nested loop is a 1-row total attach (tt / bb)
      val bnl = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      for (j <- bnl) {
        val sides = Seq(j.left.output.map(_.name), j.right.output.map(_.name))
        assert(sides.exists(s => s.forall(Set("tt", "bb"))),
          s"a BNLJ that is not the 1-row totals attach: $sides")
      }
    }
  }

  test("q203 textrank: every window/rank is doc-partitioned; equi-joins only") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q203_textrank")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
        s"per-doc rank must stay doc-partitioned:\n$plan")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"nested loop on the per-doc graph path:\n$plan")
    }
  }

  test("q210 triangles: oriented wedge join is equi-only — no nested loop, no window") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q210_triangles")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"the orientation exists to keep this equi-join-only:\n$plan")
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"triangle credit must be explode+agg, not a window:\n$plan")
    }
  }

  test("q211 degree mix: every nested loop is a 1-row stat attach") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q211_degree_mix")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      val bnl = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      }
      val statCols = Set("n_nodes", "in_slope", "out_slope", "slope")
      for (j <- bnl) {
        val sides = Seq(j.children.head.output.map(_.name),
          j.children.last.output.map(_.name))
        assert(sides.exists(s => s.nonEmpty && s.forall(statCols)),
          s"a nested loop that is not the 1-row stat attach: $sides\n$plan")
      }
    }
  }

  test("q221/q222 community grading: equi-joins + 1-row attaches only") {
    withStaticPlans {
      for (q <- Seq("q221_community_quality", "q222_modularity")) {
        val df = graft.SparkEntry.queries(q)(spark, TestSpark.Sf0001)
        val plan = df.queryExecution.executedPlan
        val bnl = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
          case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        }
        // every nested loop is a 1-row stat attach (m total / modularity
        // sums) — possibly column-pruned to an EMPTY output when only
        // its cardinality-1 effect is used
        val statCols = Set("m", "n_communities", "s_intra", "s_vol2")
        for (j <- bnl) {
          val sides = Seq(j.children.head.output.map(_.name),
            j.children.last.output.map(_.name))
          assert(sides.exists(s => s.forall(statCols)),
            s"$q: a nested loop that is not the 1-row attach: $sides")
        }
      }
    }
  }

  test("q224 bloom decontam: the bloom probe filters BEFORE the join exchange") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q224_bloom_decontam")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      // the probe UDF must appear in a Filter that sits BELOW the join:
      // walk the plan; the filter containing the UDF must have a scan
      // (not a join) subtree — i.e. it prunes the corpus side map-side
      val filters = plan.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.toString.contains("UDF") => f
      }
      assert(filters.nonEmpty, s"no bloom-probe filter found:\n$plan")
      assert(filters.exists(f => f.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      }.isEmpty), s"the probe must prune BEFORE any join, not after:\n$plan")
    }
  }

  test("q226 llr: top-k is TakeOrderedAndProject; totals are 1-row attaches") {
    withStaticPlans {
      val df = graft.SparkEntry.queries("q226_llr_collocations")(spark, TestSpark.Sf0001)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
      }.nonEmpty, s"global top-50 must plan as TakeOrderedAndProject:\n$plan")
      val bnl = plan.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }
      for (j <- bnl) {
        val sides = Seq(j.children.head.output.map(_.name),
          j.children.last.output.map(_.name))
        assert(sides.exists(s => s.nonEmpty && s.forall(Set("nn"))),
          s"a BNLJ that is not the 1-row total attach: $sides")
      }
    }
  }

  test("q212 harmonic (exact host grain): hash joins/aggs only — no window, no nested loop") {
    withStaticPlans {
      // the pair-table state is built via localCheckpoint rounds; pin the
      // FINAL aggregation plan plus one BFS round's join shape
      val he = graft.queries.PipelineQueries.hostEdges(spark, TestSpark.Sf0001)
      val df = graft.operators.LinkGraph.harmonicExact(he, rounds = 3)
      val plan = df.queryExecution.executedPlan
      assert(plan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }.isEmpty, s"harmonic sum must be a hash agg, not a window:\n$plan")
      assert(plan.collect {
        case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
        case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
      }.isEmpty, s"nested loop in the BFS/aggregate path:\n$plan")
    }
  }

  test("linkEdges: one documents scan for the edges, one for the semi join's ids") {
    withStaticPlans {
      val fs = scans(graft.queries.PipelineQueries.linkEdges(spark, TestSpark.Sf0001))
      assert(fs.nonEmpty && fs.size <= 2, s"${fs.size} scans")
      assert(fs.forall(_.relation.location.rootPaths.forall(_.getName == "documents.parquet")))
    }
  }

  test("LPA rounds read the hoisted neighbor table, never the documents scan") {
    withStaticPlans {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
        def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
      }
      def has[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]) = p.collect(pf).nonEmpty
      def scansDocs(p: SparkPlan) = has(p) { case s: FileSourceScanExec => s }
      // a round's checkpoint is the one with the label-pick window
      def rounds = plans.asScala.toSeq
        .filter(p => has(p) { case w: org.apache.spark.sql.execution.window.WindowExec => w })
      spark.listenerManager.register(listener)
      try {
        graft.operators.LinkGraph.lpaCommunities(
          graft.queries.PipelineQueries.linkEdges(spark, TestSpark.Sf0001), rounds = 3)
        // listener delivery is asynchronous (and in order: the hoist comes first)
        eventually(timeout(Span(60, Seconds))) { assert(rounds.size === 3) }
      } finally spark.listenerManager.unregister(listener)
      rounds.foreach(p => assert(!scansDocs(p), s"an LPA round scans the documents:\n$p"))
      assert(plans.asScala.exists(scansDocs), "the hoisted neighbor table reads the documents")
    }
  }
}
