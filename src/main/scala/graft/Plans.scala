package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Canonicalize, Constants, Fixtures, Parquet}
import graft.operators.{Checkpoints, CrawlConfig, CrawlLoop, Scheduler}

/** Regenerates PLANS.md: `explain("formatted")` dumps of the load-bearing
  * physical plans (the evidence behind PlanShapeSpec's assertions). Run:
  * `sbt -batch "runMain graft.Plans"`. AQE disabled so shapes are static. */
object Plans {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sfDir = "/root/testdata/sf0.001"
    val fixDir = Fixtures.ensure(spark, sfDir)
    val pages = Parquet.read(spark, s"$fixDir/pages.parquet")
    val robots = Parquet.read(spark, s"$fixDir/robots.parquet")
    val weights = Parquet.read(spark, s"$fixDir/source_weights.parquet")
    val budgets = Parquet.read(spark, s"$fixDir/budgets.parquet")

    def fmt(df: DataFrame): String = {
      val qe = df.queryExecution
      qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }

    val sb = new StringBuilder
    sb.append("# PLANS — key physical plans (generated by `runMain graft.Plans`)\n\n")
    sb.append("AQE off; sf0.001 fixtures. These are the shapes PlanShapeSpec pins.\n\n")

    sb.append("## 1. Δ-scan (op 1): html pruned, warc_ts pushed down\n\n```\n")
    sb.append(fmt(Scheduler.deltaScan(pages, 0L, Constants.NowEpochSec)))
    sb.append("```\n\n")

    val cands = Scheduler.deltaScan(pages, 0L, Constants.NowEpochSec)
      .withColumn("url_hash", Canonicalize.urlHash(col("url")))
    sb.append("## 2. Priority/politeness ranking (ops 24/25/51): window reuses the repartition exchange\n\n```\n")
    sb.append(fmt(Scheduler.rankCandidates(cands, weights, budgets, CrawlConfig())))
    sb.append("```\n\n")

    sb.append("## 3. Salted local-top-k variant (exactly one extra exchange)\n\n```\n")
    sb.append(fmt(Scheduler.rankCandidates(cands, weights, budgets,
      CrawlConfig(localTopKSalt = 8))))
    sb.append("```\n\n")

    val frontier = CrawlLoop.seedFrontier(spark, fixDir)
    val emptySeen = Checkpoints.emptyFrame(spark, CrawlLoop.SeenSchema)
    val emptyShards = Checkpoints.emptyFrame(spark, CrawlLoop.ShardSchema)
    val r = Scheduler.runBatch(spark, pages, frontier, emptySeen, emptyShards,
      robots, weights, budgets, 1L, 0L,
      CrawlConfig(deltaPerBatchSec = 365L * 24 * 3600, saltParse = false,
        useBloom = false, runTag = "plans"),
      scheduledBound = 1000L)
    sb.append("## 4. Articles pipeline (ops 3/14/47/35): broadcast fetch join, html never shuffles\n\n```\n")
    sb.append(fmt(r.articles))
    sb.append("```\n\n")
    r.cached.foreach(_.unpersist())

    val seen = (1L to 200L).map(i => (i * 13L, s"u$i")).toDF("url_hash", "url")
    val shards = graft.operators.BloomSeen.buildShards(seen.select("url_hash"))
    val probeCands = (1L to 100L).map(i => (i * 13L, s"c$i")).toDF("url_hash", "url")
    sb.append("## 5. Shard-bucketed Bloom probe (op 12 tier 1): cogroup, one blob deserialize per task, no driver collect\n\n```\n")
    sb.append(fmt(graft.operators.BloomSeen.tagMaybeSeenBucketed(probeCands, shards)))
    sb.append("```\n\n")

    val emb = Parquet.read(spark, s"$sfDir/embeddings.parquet")
    sb.append("## 6. Exact cosine near-dup (q34): triangle-tiled block EQUI-join — no BroadcastNestedLoopJoin\n\n```\n")
    sb.append(fmt(graft.ml.Similarity.cosineNearDupPairs(emb, 0.35)))
    sb.append("```\n\n")

    sb.append("## 7. Brute-force knn (q35): partial/final top-k aggregate — no global window over the scored set\n\n")
    sb.append("(The Q×N scoring join IS an intentional BroadcastNestedLoopJoin — broadcast the small query set, one pass over N; that is the brute-force baseline's contract. The scale-path ANN variant q36 is a bucketed equi-join.)\n\n```\n")
    sb.append(fmt(graft.ml.Similarity.knnBruteForce(
      emb.filter(col("vec_id") % 50 === 0), emb, 5)))
    sb.append("```\n\n")

    val docs = Parquet.read(spark, s"$sfDir/documents.parquet")
    sb.append("## 8. Decontamination (q47): postings equi-join on hashed shingles, eval side pre-collapsed to distinct keys, no forced broadcast\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.decontaminate(docs, col("doc_id") % 37 === 0)))
    sb.append("```\n\n")

    sb.append("## 9. Top-k tokens (q49): map-side partial agg collapses the token stream before the shuffle; the window runs on the aggregated (lang, token) grain\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.topTokens(docs, 10)))
    sb.append("```\n\n")

    val bmTerms = Seq("spark", "merge", "vector")
    sb.append("## 10. BM25 top-k (q53 family): query-term filter BEFORE any agg; two-level tf agg; 1-row stats broadcast (the BNLJ below is a per-row constant attach, not a quadratic join); top-k = TakeOrderedAndProject, no global sort, no window\n\n```\n")
    sb.append(fmt(graft.ml.Search.bm25TopK(docs, bmTerms, 10)))
    sb.append("```\n\n")

    sb.append("## 11. BM25 over the persisted index (q57): NO corpus scan — the term IN (...) predicate pushes into the sorted postings/dfreq parquet scans (see PushedFilters), lens/stats are the only other inputs\n\n```\n")
    val idxPath = s"${Constants.workDir}/plans_bm25idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxPath))
    graft.ml.Search.saveIndex(docs, idxPath)
    sb.append(fmt(graft.ml.Search.bm25ScoresFromIndex(spark, idxPath, bmTerms)))
    sb.append("```\n\n")

    sb.append("## 12. Fuzzy lookup (q74): deletion-neighborhood EQUI-join — the levenshtein verify is a post-join filter on candidates, never a |V|×|Q| nested loop\n\n```\n")
    sb.append(fmt(graft.ml.Search.fuzzySuggest(docs,
      Seq("sprk", "merje").toDF("q"), 10)))
    sb.append("```\n\n")

    sb.append("## 13. Mixture resample (q75): source-cardinality quota frames on broadcasts; per-source rank = range-partitioned global rank minus a broadcast offset — no per-source window task\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.mixtureSample(docs,
      Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), parts = 8)))
    sb.append("```\n\n")

    sb.append("## 14. TF-IDF keywords (q72): two-level tf agg, vocabulary-keyed df join, 1-row N broadcast; the rank window partitions BY DOCUMENT (frame bounded by doc length)\n\n```\n")
    sb.append(fmt(graft.ml.Search.tfidfKeywords(docs, 3)))
    sb.append("```\n\n")

    sb.append("## 15. Saved alerts (q76): ONE corpus scan — must/must_not fold into one flagged alert-term broadcast dim; the broadcast inner join prunes AND fans out; one hash agg decides match + exclusion together\n\n```\n")
    sb.append(fmt(graft.ml.Search.matchAlerts(docs,
      graft.queries.PipelineQueries.AlertRows.toDF("alert_id", "must", "must_not"))))
    sb.append("```\n\n")

    sb.append("## 16. Next-word suggestion (q78): codegen'd array_contains seed-prefilter BEFORE the arrays_zip bigram stage (one projected map stage, no lambda HOF); two-level agg; 1-row total broadcast; TakeOrderedAndProject top-k\n\n```\n")
    sb.append(fmt(graft.ml.Search.nextWords(docs, "spark", 10)))
    sb.append("```\n\n")

    sb.append("## 17. Phrase over the positional index (q80): NO corpus scan — the only file sources are the postings segments, term-filter pushed (PushedFilters: In(term)); candidates + alignment run on the per-doc position-list map\n\n```\n")
    val posIdx = s"${Constants.workDir}/plans_positx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(posIdx))
    graft.ml.Search.saveIndex(docs, posIdx)
    sb.append(fmt(graft.ml.Search.phraseDocsFromIndex(spark, posIdx, "spark merge")))
    sb.append("```\n\n")

    sb.append("## 18. Containment pairs (q84): one-sided prefix pruning — prefix(A) ⋈ FULL postings(B) equi-join on hashed shingle keys + size bound; exact array_intersect verify only on candidates\n\n```\n")
    sb.append(fmt(graft.ml.Dedup.containmentPairs(docs, 0.8)))
    sb.append("```\n\n")

    sb.append("## 19. Recrawl change stats (q85): ONE hash agg on the canonical url — the exchange carries (url, warc_ts, text_h); page content is hashed map-side and never shuffles\n\n```\n")
    sb.append(fmt(graft.operators.Recrawl.changeStats(pages)))
    sb.append("```\n\n")

    sb.append("## 20. Bigram LM quality (q87): ONE corpus scan (model branch ReusedExchange — the explicit not-null filter makes both consumers' subtrees canonical-equal); arrays_zip pairing in one map stage (no lambda HOF); left-context totals = window over the vocabulary²-bounded model, never a corpus re-agg\n\n```\n")
    sb.append(fmt(graft.ml.TextAnalysis.bigramLogProb(docs)))
    sb.append("```\n\n")

    sb.append("## 21. Paragraph dedup (q91): keeper = one hash agg on the paragraph HASH + (hash, doc, idx) semi-join — NO window over the corpus; the regroup's array_sort makes collect_list arrival order irrelevant\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.dedupParagraphs(
      graft.queries.PipelineQueries.paraDocs(docs))))
    sb.append("```\n\n")

    sb.append("## 22. Vocab coverage (q92): token stream collapses to the vocabulary grain in a two-level hash agg BEFORE any ordering; the cumulative sum is the range-partitioned two-phase prefix sum (no empty-partition window — every Window here runs inside a range partition or on the 1-row offset frame)\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.vocabCoverage(docs, 100)))
    sb.append("```\n\n")

    sb.append("## 23. Exact-k allocation (q98): row_number <= k plans as WindowGroupLimit with a PARTIAL pass below the exchange — each map task emits at most k rows per stratum, the shuffle never carries a stratum's documents\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.exactStratifiedSample(docs, 8)))
    sb.append("```\n\n")

    sb.append("## 24. BM25 over a tombstoned index (q103's pre-merge state): the only file sources are index tables — postings keep PushedFilters: In(term) (row-group pruning); the tombstone anti-join is doc_id-keyed against the O(deleted) tombstone set and is absent entirely when none are committed\n\n```\n")
    // Reusable workDir path (the §12/§17 convention) — rebuilt each run,
    // never orphaned in /tmp.
    val delDir = s"${Constants.workDir}/models/plans_bm25del"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(delDir))
    graft.ml.Search.saveIndex(docs.select($"doc_id", $"text"), delDir)
    graft.ml.Search.deleteDocs(spark, delDir,
      docs.filter($"doc_id" % 10 === 0).select("doc_id"))
    sb.append(fmt(graft.ml.Search.bm25ScoresFromIndex(spark, delDir, Seq("spark", "merge"))))
    sb.append("```\n\n")

    sb.append("## 25. Boilerplate mining (q107): native shingle kernel → explode → ONE (source, shingle) hash agg with map-side partial combine; per-source doc totals ride a broadcast dim\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.boilerplateShingles(docs, 0.5)))
    sb.append("```\n\n")

    sb.append("## 26. DSIR weights (q112): ONE vocabulary-grain conditional-sum agg trains BOTH unigram models (map-side partial combine on the token stream); |V| + totals ride a 1-row BroadcastExchange; the model joins the per-(doc, tok) frame on the token key with no forced broadcast\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.importanceWeights(docs, col("lang") === "en")))
    sb.append("```\n\n")

    sb.append("## 27. Token-window chunking (q115): a pure generator stage — split/sequence/posexplode/slice/array_join inside one WholeStageCodegen span over the scan, ZERO exchanges\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.chunkWindows(docs, 20, 10)))
    sb.append("```\n\n")

    sb.append("## 28. Hard negatives (q152): distinct-postings equi-join on 8-byte term hashes (df-pruned vocabulary bounds the pair space); the Jaccard gate is a post-agg filter on the SAME counts; the rank window runs on the aggregated (eval, candidate) pair grain with an all-integer key\n\n```\n")
    sb.append(fmt(graft.ml.Corpus.hardNegatives(docs, col("doc_id") % 37 === 0,
      k = 5, maxDf = 400L)))
    sb.append("```\n\n")

    sb.append("## 29. CDX block index (q157): in-shard rank = the range-partitioned two-phase prefix-COUNT scan (no per-shard window over captures); the block grain then hash-aggregates with min_by firsts\n\n```\n")
    sb.append(fmt(graft.operators.Recrawl.cdxBlockIndex(pages, blockSize = 16, parts = 8)))
    sb.append("```\n\n")

    sb.append("## 30. Anchor-field BM25F (q161): body and incoming-anchor posting streams union BEFORE one shared two-field pipeline — query-term filter first, (doc, field, term) two-level agg, 2-row avgfl broadcast, 1-row n_docs broadcast; no window anywhere\n\n```\n")
    val linkEdges = graft.queries.PipelineQueries.linkEdges(spark, sfDir)
    sb.append(fmt(graft.ml.Search.bm25AnchorScores(docs, linkEdges, bmTerms)))
    sb.append("```\n\n")

    sb.append("## 31. SERP host collapse (q145): the per-host rank window runs on the MATCHED-docs frame (post query-filter, post score-agg), never the corpus; the global cut is TakeOrderedAndProject\n\n```\n")
    sb.append(fmt(graft.ml.Search.bm25HostCollapsed(
      docs.withColumn("host", concat(col("source"), lit(".example.com"))),
      bmTerms, k = 20, maxPerHost = 2)))
    sb.append("```\n")

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${sb.length} chars)")
    spark.stop()
  }
}
