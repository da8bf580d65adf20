package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Fixtures
import graft.functions.expressions.rolling_hash
import graft.ml.{Corpus, Dedup, Multimodal, Search, Similarity, TextAnalysis}

/** Training-data pipeline operators (task brief): dedup family, similarity
  * search, text analysis, multimodal plumbing. Oracle SQL runs over the
  * driver's `documents`/`embeddings` tables; hash-valued outputs
  * (minhash/simhash/LSH/fingerprints) are rows-only and covered by
  * ScalaTest instead (recall vs brute force, banding exactness). */
object PipelineQueries {

  private[queries] def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** ONE cached exact ngram-Jaccard pair relation per (session, sf,
    * threshold) per JVM: q33/q46/q88/q99/q101 all compose over the same
    * PPJoin pair kernel, and Verify/Bench used to re-derive it per entry
    * (~18 s of artifact wall for zero semantic difference — round-4
    * VERDICT item 10). The memo caches the RESULT relation, which is
    * pair-count-sized (candidate-bounded by the prefix pruning), never
    * the corpus. Keyed by session so test-local sessions don't collide
    * with the driver's. */
  private val pairsMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Double), DataFrame]
  private def ngramPairs(s: SparkSession, dir: String, threshold: Double): DataFrame =
    pairsMemo.getOrElseUpdate((s, dir, threshold),
      Dedup.ngramJaccardPairs(docs(s, dir), threshold).cache())

  /** Fingerprint-keyed artifact cache under the work dir — the ONE
    * definition of the q45/q57 pattern. The artifact lives at
    * `models/<base>_<hash of Fixtures.sourceFingerprint(inputFile)>`, so
    * a regenerated input under the same basename rebuilds instead of
    * silently reusing a stale artifact. On a miss, `build(path)` writes it
    * and commits last via its own marker (checked by `committed`); THEN superseded
    * same-base siblings are evicted — build-then-evict, because
    * deleting first would race a concurrent session (e.g. Verify and
    * Bench sharing GRAFT_WORK_DIR) mid-`load` on the evicted path. A
    * `load` hitting a half-deleted or corrupt dir rebuilds in place
    * once. First run pays the build inside the query; later runs only
    * load — the documented timing asymmetry of the train-once/
    * probe-many deployment shape being demonstrated. */
  private def workdirCached[T](base: String, inputFile: String)(
      committed: String => Boolean)(build: String => Unit)(
      load: String => T): T = {
    val modelsDir = java.nio.file.Paths.get(s"${graft.core.Constants.workDir}/models")
    val fp = scala.util.hashing.MurmurHash3.stringHash(Fixtures.sourceFingerprint(inputFile))
    val path = s"$modelsDir/${base}_${Integer.toHexString(fp)}"
    def evictSiblings(): Unit =
      if (java.nio.file.Files.isDirectory(modelsDir)) {
        val stream = java.nio.file.Files.list(modelsDir)
        try stream.toArray.map(_.toString).filter { p =>
          val n = java.nio.file.Paths.get(p).getFileName.toString
          (n == base || n.startsWith(base + "_")) && p != path
        }.foreach { p =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
        } finally stream.close()
      }
    def buildCommitEvict(): Unit = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      build(path)
      evictSiblings()
    }
    if (!committed(path)) buildCommitEvict()
    try load(path)
    catch { case _: Exception => buildCommitEvict(); load(path) }
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup by full text over pages (alias rows form the dup groups).
    "q30_dedup_exact" -> ((s, dir) =>
      Dedup.exactByText(Fixtures.pages(s, dir))),

    // MinHash+LSH near-dup pairs over token sets (hash-valued: rows-only).
    "q31_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(docs(s, dir), threshold = 0.95)),

    // SimHash near-dup pairs, exact ≤3-bit banding (rows-only).
    "q32_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxDist = 3)),

    // exact word-3-gram Jaccard near-dups, lang-blocked (the shared cached
    // pair kernel — q46/q88/q99/q101 compose over the same relation).
    "q33_ngram_jaccard" -> ((s, dir) => ngramPairs(s, dir, 0.5)),

    // DIRECTED shingle-containment pairs (syndication wrappers / quote
    // subsets — high containment, low Jaccard): one-sided prefix-pruned
    // inverted-index join, exact verification.
    "q84_containment" -> ((s, dir) =>
      Dedup.containmentPairs(docs(s, dir), threshold = 0.8)),

    // embedding-cosine near-dup pairs (native codegen'd cosine kernel).
    "q34_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(emb(s, dir), threshold = 0.35)),

    // brute-force cosine top-k (ANN correctness baseline).
    "q35_knn_brute" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnBruteForce(e.filter(col("vec_id") % 50 === 0), e, k = 5)
    }),

    // LSH-bucketed approximate top-k (scale path; recall tested vs q35).
    "q36_knn_lsh" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnLsh(s, e.filter(col("vec_id") % 50 === 0), e, k = 5)
    }),

    // IVF-bucketed approximate top-k (second scale path; recall tested vs
    // q35 in MlSpec; hash/centroid-valued candidacy: rows-only).
    "q43_knn_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnIvf(s, e.filter(col("vec_id") % 50 === 0), e, k = 5)
    }),

    // IVF with a PERSISTED model: train-once (tiny parquet model table),
    // probe-many — the deployment shape at 10^10 vectors. Output grain
    // matches q43 (rows-only; model-vs-memory parity pinned in MlSpec).
    "q45_knn_ivf_model" -> ((s, dir) => {
      val e = emb(s, dir)
      val cents = workdirCached(
        s"ivf_${java.nio.file.Paths.get(dir).getFileName}",
        s"$dir/embeddings.parquet")(
        p => java.nio.file.Files.exists(java.nio.file.Paths.get(p, "_SUCCESS")))(
        p => { Similarity.saveIvfModel(s, e, p); () })( // parquet commit writes _SUCCESS
        p => Similarity.loadIvfModel(s, p))
      Similarity.knnIvfModel(s, e.filter(col("vec_id") % 50 === 0), e, k = 5, cents)
    }),

    // PQ-coded ANN with ADC + exact re-rank: the memory-bounded scale
    // path (m-byte codes instead of 4·dim — the hot scan never reads an
    // embedding). Centroid/seed-valued like IVF: rows-only; the
    // full-refine == brute-force identity, recall floor, and model
    // persistence are pinned in MlSpec.
    "q82_knn_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.knnPq(s, e.filter(col("vec_id") % 50 === 0), e, k = 5, refine = 30)
    }),

    // language-ID heuristic.
    "q37_lang_id" -> ((s, dir) => TextAnalysis.langId(docs(s, dir))),

    // quality scoring.
    "q38_quality" -> ((s, dir) => TextAnalysis.quality(docs(s, dir))),

    // token counting (whitespace + BPE-ish regex).
    "q39_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(docs(s, dir))),

    // document fingerprinting via the native RollingHash expression.
    "q40_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), rolling_hash(col("text")).as("fingerprint"))),

    // multimodal metadata passthrough (oracle-checked plumbing).
    "q41_media_meta" -> ((s, dir) =>
      Fixtures.table(s, dir, "media")
        .select(col("doc_id"), col("kind"), col("format"),
          octet_length(col("payload")).cast("long").as("byte_len"),
          col("width"), col("height"))),

    // multimodal decode/feature-extract/resize/frame-sample — real pure-JVM
    // codecs (BMP/WAV/Y4M, core.MediaCodecs) over partition-batched typed
    // plumbing; rows-only (DuckDB has no media decoders).
    "q42_media_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(s, Fixtures.table(s, dir, "media")).toDF()),

    // pairs → CLUSTERS: connected components over the exact ngram-Jaccard
    // near-dup pairs (min-id rep per transitive duplicate group).
    "q46_dedup_clusters" -> ((s, dir) =>
      Corpus.dedupClustersFrom(ngramPairs(s, dir, 0.5))),

    // news story threading: time-bounded near-dup pairs → connected
    // components → thread-grain summaries ("related coverage"). The ts
    // column is the fixture's publish-time mapping (EPOCH + doc_id min —
    // the same mapping the pages fixture uses for warc_ts).
    "q88_story_threads" -> ((s, dir) =>
      Corpus.storyThreadsFrom(
        docs(s, dir).withColumn("ts",
          expr("timestampadd(MINUTE, doc_id, TIMESTAMP '2024-01-01 00:00:00')")),
        ngramPairs(s, dir, 0.5), maxGapSec = 10800L)),

    // benchmark decontamination: corpus docs sharing any word-3-gram with
    // the eval slice (doc_id % 37 == 0).
    "q47_decontaminate" -> ((s, dir) =>
      Corpus.decontaminate(docs(s, dir), col("doc_id") % 37 === 0)),

    // deterministic key-stable stratified sample (200‰).
    "q48_sample_stratified" -> ((s, dir) =>
      Corpus.stratifiedSample(docs(s, dir), permille = 200)),

    // corpus vocabulary head: per-lang top-10 tokens.
    "q49_top_tokens" -> ((s, dir) => Corpus.topTokens(docs(s, dir), k = 10)),

    // repetition quality signals (Gopher-family filter): top-token /
    // unique-token / duplicate-3-gram fractions per document.
    "q51_repetition" -> ((s, dir) => TextAnalysis.repetition(docs(s, dir))),

    // 8-gram decontamination (the industry-standard long-n-gram variant;
    // wider eval slice so the precise matcher still fires on the fixture).
    "q52_decontaminate_8gram" -> ((s, dir) =>
      Corpus.decontaminate(docs(s, dir), col("doc_id") % 5 === 0, n = 8)),

    // round 5: the Bloom-pruned decon scale path — same relation as q52
    // (lossless broadcast-bitset prune + exact verify; the BloomSeen
    // architecture applied to the eval set). Shares q52's oracle.
    "q224_bloom_decontam" -> ((s, dir) =>
      Corpus.bloomDecontaminate(docs(s, dir), col("doc_id") % 5 === 0, n = 8)),

    // BM25 ranked keyword retrieval (the indexing engine's search half);
    // full matching relation so float noise at a rank cut can't flip
    // membership — top-k is bm25TopK, plan-pinned in SearchSpec.
    "q53_bm25" -> ((s, dir) =>
      Search.bm25Scores(docs(s, dir), Bm25QueryTerms)),

    // round 5: static score-based index pruning (Carmel et al. 2001) —
    // per-term top-K postings by BM25 impact form the small serving tier;
    // the entry audits pruned vs full scores on the standard query.
    "q186_static_pruning" -> ((s, dir) =>
      Search.staticPrunedScores(docs(s, dir), Bm25QueryTerms, StaticPruneK)),

    // round 5: pruned-tier recall@k curve — the go/no-go audit before
    // routing traffic to the q186 small tier (both rankings on the
    // rounded-score/doc_id key; top-k = TakeOrderedAndProject).
    "q188_pruning_recall" -> ((s, dir) =>
      Search.prunedRecallAtK(docs(s, dir), Bm25QueryTerms, StaticPruneK,
        PruningRecallKs)),

    // PII detection + redaction (emails/IPv4/phones → tokens + counts)
    // over fixture text with deterministically injected PII spans.
    "q54_pii_scrub" -> ((s, dir) => TextAnalysis.piiScrub(piiDocs(s, dir))),

    // CCNet-style LM quality proxy: mean corpus-unigram log-prob per doc.
    "q55_lm_quality" -> ((s, dir) => TextAnalysis.unigramLogProb(docs(s, dir))),

    // bigram LM quality (CCNet ladder, next rung above q55's unigram):
    // mean conditional log-prob over the doc's bigrams under the corpus
    // bigram MLE — word-salad scores low even when every token is common.
    "q87_bigram_lm" -> ((s, dir) => TextAnalysis.bigramLogProb(docs(s, dir))),

    // exact phrase search over the shingles_n kernel (phrase = n-gram).
    "q56_phrase_search" -> ((s, dir) => Search.phraseDocs(docs(s, dir), PhraseNeedle)),

    // BM25 over the PERSISTED inverted index (index-once/query-many, the
    // deployment split q45 demonstrates for IVF). First run builds+commits
    // the index under the work dir (fingerprint-keyed, stale siblings
    // evicted after commit); later runs only read. Result == q53.
    "q57_bm25_indexed" -> ((s, dir) =>
      workdirCached(
        s"bm25idx_${java.nio.file.Paths.get(dir).getFileName}",
        s"$dir/documents.parquet")(
        Search.indexCommitted)(
        p => Search.saveIndex(docs(s, dir), p))(
        p => Search.bm25ScoresFromIndex(s, p, Bm25QueryTerms))),

    // Incremental index maintenance end-to-end: index the even half,
    // APPEND the odd half as a segment (O(new docs) + vocab-sized df
    // remerge), query the merged index — must equal the q53 relation.
    // Rebuilt every run (cheap) so the update path is always exercised.
    "q58_bm25_incremental" -> ((s, dir) => {
      val path = s"${graft.core.Constants.workDir}/models/bm25inc_" +
        s"${java.nio.file.Paths.get(dir).getFileName}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      Search.saveIndex(docs(s, dir).filter(col("doc_id") % 2 === 0), path)
      Search.updateIndex(s, path, docs(s, dir).filter(col("doc_id") % 2 =!= 0))
      Search.bm25ScoresFromIndex(s, path, Bm25QueryTerms)
    }),

    // search-result snippets: ±3-token window around the first 'spark'.
    "q59_snippets" -> ((s, dir) => Search.snippets(docs(s, dir), "spark", window = 3)),

    // related terms: top-15 co-occurring terms for the seed 'spark'.
    "q60_cooccurrence" -> ((s, dir) => Search.cooccurringTerms(docs(s, dir), "spark", k = 15)),

    // lexicon sentiment (financial-news polarity) per document.
    "q61_sentiment" -> ((s, dir) => TextAnalysis.sentiment(docs(s, dir))),

    // boolean retrieval (ALL must terms, NO mustNot terms) — postings
    // shape, so the same plan runs over the persisted index (parity
    // pinned in SearchSpec against booleanDocsFromIndex).
    "q64_boolean_search" -> ((s, dir) =>
      Search.booleanDocs(docs(s, dir), BoolMust, BoolMustNot)),

    // faceted search: per-(source, lang) hit counts for one term — the
    // result-page facet panel.
    "q65_search_facets" -> ((s, dir) =>
      Search.searchFacets(docs(s, dir), "spark", Seq("source", "lang"))),

    // trending terms: per-time-bucket burst ratio vs the term's all-bucket
    // mean (the fixture's publish time is doc_id-determined, so the bucket
    // derives from doc_id — integral division, no doubles).
    "q66_trending_terms" -> ((s, dir) =>
      Search.trendingTerms(docs(s, dir),
        expr(s"doc_id div $TrendBucketWidth"), k = 5, minDf = 4)),

    // prefix autocomplete: top-k dictionary terms by document frequency.
    "q68_prefix_suggest" -> ((s, dir) =>
      Search.prefixSuggest(docs(s, dir), SuggestPrefix, k = 10)),

    // hybrid retrieval: BM25 more-like-this + embedding cosine, fused by
    // reciprocal-rank fusion (query document 7; top-10 of 50-per-leg).
    "q63_hybrid_search" -> ((s, dir) =>
      Search.hybridSearch(docs(s, dir), emb(s, dir), queryDocId = 7L, k = 10)),

    // flagship composed pipeline: quality gate + decontamination +
    // dedup-keeper selection + deterministic sample, one DataFrame.
    "q50_curate" -> ((s, dir) =>
      Corpus.curate(docs(s, dir), col("doc_id") % 37 === 0)),

    // per-document TF-IDF keyword extraction: the top-3 most
    // characteristic terms per doc (doc tagging next to BM25's per-query
    // ranking); rank cuts on the 4-dp-rounded score.
    "q72_tfidf_keywords" -> ((s, dir) =>
      Search.tfidfKeywords(docs(s, dir), k = 3)),

    // proximity search: documents where the two terms occur within
    // ProxWindow token positions ("merger NEAR/5 lawsuit").
    "q73_proximity_search" -> ((s, dir) =>
      Search.proximityDocs(docs(s, dir), ProxTermA, ProxTermB, ProxWindow)),

    // fuzzy term lookup (typo tolerance): dictionary terms within edit
    // distance 1 of each query, by df — SymSpell deletion-neighborhood
    // equi-join + levenshtein verify, never a vocab × queries cross join.
    "q74_fuzzy_suggest" -> ((s, dir) => {
      import s.implicits._
      Search.fuzzySuggest(docs(s, dir),
        FuzzyNeedles.toDF("q"), k = 10)
    }),

    // domain-mixture resampling: the largest deterministic sub-corpus
    // matching the target source shares (training-data mixing).
    "q75_source_mixture" -> ((s, dir) =>
      Corpus.mixtureSample(docs(s, dir), MixTargets)),

    // token-budget mixture: fill each source's TOKEN quota (share of a
    // global budget) in deterministic hash order — document-count
    // mixing's (q75) training-grain sibling, via the distributed
    // prefix-sum operator (no per-source window).
    "q83_token_budget" -> ((s, dir) =>
      Corpus.tokenBudgetMixture(docs(s, dir), MixTargets, TokenBudget)),

    // saved-alert evaluation: a TABLE of standing boolean queries
    // (must/mustNot) matched against the corpus in one plan — the
    // multi-query batch of q64.
    "q76_alerts" -> ((s, dir) => {
      import s.implicits._
      Search.matchAlerts(docs(s, dir),
        AlertRows.toDF("alert_id", "must", "must_not"))
    }),

    // corpus profiling: per-source doc-length percentiles (exact,
    // type-7 interpolation — quantile_cont's definition); the approx
    // sketch path is lengthQuantilesApprox (CorpusSpec-pinned).
    "q77_length_quantiles" -> ((s, dir) =>
      Corpus.lengthQuantiles(docs(s, dir))),

    // bigram next-word suggestion: top-k followers of the seed term
    // with conditional probability.
    "q78_next_word" -> ((s, dir) =>
      Search.nextWords(docs(s, dir), "spark", k = 10)),

    // mergeable-sketch distinct counting: per-source HLL distinct-token
    // estimates (sketch-valued — rows-only; accuracy + merge identity
    // pinned in CorpusSpec).
    "q79_hll_distinct" -> ((s, dir) =>
      Corpus.distinctTokenSketches(docs(s, dir))),

    // phrase search over the POSITIONAL index (no corpus scan) — q56's
    // relation served from stored position lists. Own cache base: the
    // q57 bm25 index may predate positional postings.
    "q80_phrase_indexed" -> ((s, dir) =>
      workdirCached(
        s"posidx_${java.nio.file.Paths.get(dir).getFileName}",
        s"$dir/documents.parquet")(
        Search.indexCommitted)(
        p => Search.saveIndex(docs(s, dir), p))(
        p => Search.phraseDocsFromIndex(s, p, PhraseNeedle))),

    // proximity search over the positional index — q73's relation with
    // the band check over stored position lists.
    "q81_proximity_indexed" -> ((s, dir) =>
      workdirCached(
        s"posidx_${java.nio.file.Paths.get(dir).getFileName}",
        s"$dir/documents.parquet")(
        Search.indexCommitted)(
        p => Search.saveIndex(docs(s, dir), p))(
        p => Search.proximityDocsFromIndex(s, p, ProxTermA, ProxTermB, ProxWindow))),

    // paragraph-grain exact dedup (CCNet/Dolma boilerplate pass): keep
    // each distinct paragraph's FIRST occurrence corpus-wide, rebuild
    // docs. Paragraph breaks are fixture plumbing (word-soup text has no
    // newlines): fixed 12-token chunks plus deterministically injected
    // boilerplate paragraphs — the shared footers the op exists to strip.
    "q91_paragraph_dedup" -> ((s, dir) =>
      Corpus.dedupParagraphs(paraDocs(docs(s, dir)))),

    // tokenizer vocabulary-coverage curve: top-100 vocabulary ranks with
    // cumulative share of the corpus token stream (distributed prefix
    // sum — no single-task global window).
    "q92_vocab_coverage" -> ((s, dir) =>
      Corpus.vocabCoverage(docs(s, dir), topK = 100)),

    // cross-snapshot incremental dedup: today's batch (deterministic
    // transform of the corpus: re-crawled exact dups, within-batch wire
    // dups, fresh docs) deduped against the existing corpus by text
    // hash + within-batch first-keeper.
    "q93_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      val incoming = d.select(
        (col("doc_id") + 100000L).as("doc_id"),
        when(col("doc_id") % 4 === 0, col("text"))
          .when(col("doc_id") % 8 === 1,
            concat(lit("breaking wire item "),
              expr("(doc_id - 1) div 16").cast("string")))
          .otherwise(concat(col("text"), lit(" fresh angle"))).as("text"),
        col("lang"), col("source"))
      Corpus.dedupAgainstCorpus(d, incoming)
    }),

    // winnowing fingerprint selection (Schleimer et al. 2003): per doc,
    // the min word-3-gram of every 4-gram window, deduped — the MOSS
    // local-dedup index at ~2/(w+1) density with the shared-run
    // guarantee (pinned in MlSpec).
    "q94_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), k = 3, w = 4)),

    // exact-k stratified allocation: EXACTLY 8 docs per source by a
    // deterministic hash permutation (q48's permille cut only hits k in
    // expectation); WindowGroupLimit keeps the rank partial-aggregated.
    "q98_sample_exact_k" -> ((s, dir) =>
      Corpus.exactStratifiedSample(docs(s, dir), k = 8)),

    // quality-keeper near-dup dedup: per duplicate cluster keep the
    // longest member (RefinedWeb-style), not the min-id one.
    "q99_dedup_keep_best" -> ((s, dir) =>
      Corpus.dedupKeepBestFrom(docs(s, dir), ngramPairs(s, dir, 0.5))),

    // fractional contamination profile: per training doc, the share of
    // its distinct 3-grams found in the eval slice (q47's graded signal,
    // zero-overlap docs included).
    "q100_contamination_share" -> ((s, dir) =>
      Corpus.contaminationShare(docs(s, dir), col("doc_id") % 37 === 0)),

    // syndication/mirror-host pairs: host-grain rollup of cross-host
    // near-dup document pairs (wire-copy mirror detection).
    "q101_syndication" -> ((s, dir) =>
      Corpus.syndicationPairsFrom(docs(s, dir), ngramPairs(s, dir, 0.5))),

    // round 5: mirror-host clusters — connected components over the q101
    // pair graph elect one canonical source per wire-copy mirror FARM
    // (shared PPJoin pair kernel; hash-keyed CC, no driver-side graph).
    "q184_mirror_clusters" -> ((s, dir) =>
      Corpus.mirrorClustersFrom(
        Corpus.syndicationPairsFrom(docs(s, dir), ngramPairs(s, dir, 0.5)))),

    // SemDeDup: embedding-space dedup (cluster → within-cell cosine pairs
    // → keep the member least similar to its centroid). Rows-only by
    // design: k-means is seed-deterministic fp (ivfCentroids' contract) —
    // parity with the exact pair operator, keeper rule and structure are
    // pinned in MlSpec.
    "q104_semdedup" -> ((s, dir) =>
      Similarity.semDedup(s, emb(s, dir), threshold = 0.35, nCells = 4)),

    // host-quality blocklist: per-source share of under-length docs →
    // domain-level block flag (C4/Dolma URL-blocklist signal).
    "q102_host_quality" -> ((s, dir) =>
      Corpus.hostQualityBlocklist(docs(s, dir),
        minTokens = HostQualityMinTokens, maxBadFrac = HostQualityMaxBadFrac)),

    // sequence packing: documents → fixed 256-token training contexts by
    // the chunked single-pass rule (distributed prefix sum; bounded
    // overflow pinned in CorpusSpec).
    "q110_sequence_pack" -> ((s, dir) =>
      Corpus.sequencePack(docs(s, dir), packBudget = 256L)),

    // curriculum ordering: global rank by the q55 LM-quality score
    // (range-partitioned rank, cuts on the rounded score).
    "q111_curriculum" -> ((s, dir) => Corpus.curriculum(docs(s, dir))),

    // freshness-weighted BM25: relevance × half-life recency decay (the
    // news-search ranking); published_ts from the fixture publish mapping,
    // NOW = the pinned fixture clock.
    "q109_fresh_bm25" -> ((s, dir) =>
      Search.bm25FreshScores(
        docs(s, dir).withColumn("published_ts",
          expr("timestampadd(MINUTE, doc_id, TIMESTAMP '2024-01-01 00:00:00')")),
        Bm25QueryTerms, graft.core.Constants.NowEpochSec, halfLifeDays = 7.0)),

    // corpus datasheet: the per-language release summary (doc/source
    // counts, token totals/extremes, mean length, token share).
    "q106_datasheet" -> ((s, dir) => Corpus.datasheet(docs(s, dir))),

    // per-host boilerplate-shingle mining over footer-injected docs (the
    // word-soup fixture has no natural templates — the injection mirrors
    // q91's discipline and is replicated in the oracle CTE).
    "q107_boilerplate" -> ((s, dir) =>
      Corpus.boilerplateShingles(boilerplateDocs(docs(s, dir)), minFrac = 0.5)),

    // embedding outlier audit: per-label centroid cosine, below-threshold
    // members flagged. Rows-only by design: centroids are distributed fp
    // means (order-dependent last ulp) — planted-outlier and
    // self-consistency properties pinned in MlSpec.
    // threshold 0.0 = anti-correlated with the group's mass: ~11% of the
    // near-random fixture vectors — the audit's actionable tail.
    "q108_embedding_outliers" -> ((s, dir) =>
      Similarity.embeddingOutliers(emb(s, dir), groupCol = "label", threshold = 0.0)),

    // index DELETE lifecycle end-to-end (takedown path): index the corpus,
    // tombstone one host's docs (O(deleted), no segment rewrite), compact
    // (reclaims + recomputes globals exactly) — scores must equal BM25
    // over the surviving corpus. Rebuilt every run so the delete path is
    // always exercised (q58's discipline).
    "q103_index_delete" -> ((s, dir) => {
      val path = s"${graft.core.Constants.workDir}/models/bm25del_" +
        s"${java.nio.file.Paths.get(dir).getFileName}"
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
      val d = docs(s, dir)
      Search.saveIndex(d, path)
      Search.deleteDocs(s, path,
        d.filter(col("source") === DeletedHost).select("doc_id"))
      Search.compactIndex(s, path)
      Search.bm25ScoresFromIndex(s, path, Bm25QueryTerms)
    }),

    // DSIR importance weights: score every raw doc by the target-vs-raw
    // unigram log-likelihood ratio (target domain = the English slice) —
    // the data-selection weight a resampling pass keys on.
    "q112_dsir_weights" -> ((s, dir) =>
      Corpus.importanceWeights(docs(s, dir), col("lang") === "en")),

    // document policy gate: source blocklist + banned-lexicon share cut,
    // every doc with evidence and verdict (the audit-view shape).
    "q113_policy_gate" -> ((s, dir) => TextAnalysis.policyGate(docs(s, dir))),

    // distributed BPE training: 24 merges over the corpus vocabulary.
    // Rows-only by design (iterative argmax is not one SQL query);
    // CorpusSpec pins the merge table against a scalar reference.
    "q114_bpe_train" -> ((s, dir) =>
      Corpus.bpeTrain(docs(s, dir), numMerges = 24)),

    // overlapping token-window chunking (embedding/RAG prep): 20-token
    // windows every 10 tokens, keyed (doc_id, chunk_id).
    "q115_chunk_windows" -> ((s, dir) =>
      Corpus.chunkWindows(docs(s, dir), window = 20, stride = 10)),

    // BPE encode with the learned q114 merges: per-doc BPE token count +
    // tokens-per-word fertility. Rows-only (depends on the learned merge
    // table); scalar-encode parity pinned in CorpusSpec.
    "q116_bpe_encode" -> ((s, dir) => {
      val d = docs(s, dir)
      Corpus.bpeEncode(d, Corpus.bpeTrain(d, numMerges = 24))
    }),

    // fuzzy decontamination: corpus docs that are token-set NEAR-dups of
    // an eval doc (paraphrase contamination the exact n-gram gate q47/q52
    // misses). Oracle = the all-pairs cross-side J>=0.95 join, valid via
    // the exhaustive-recall test (the q31 argument, pinned in MlSpec).
    "q117_fuzzy_decontam" -> ((s, dir) =>
      Dedup.minhashMatchesAgainst(docs(s, dir),
        evalPred = col("doc_id") % 25 === 0, threshold = 0.95)),

    // CCNet head/middle/tail quality bucketing: LM-score terciles (exact
    // percentile cuts, strict > at the boundary).
    "q118_quality_buckets" -> ((s, dir) =>
      Corpus.qualityBuckets(docs(s, dir))),

    // Exact-substring duplicate spans (Lee et al. 2021 ExactSubstr):
    // merged token ranges covered by duplicated 8-token windows, corpus
    // first occurrence kept canonical.
    "q119_substring_dedup" -> ((s, dir) =>
      Dedup.duplicateSpans(docs(s, dir), L = 8)),

    // Per-doc token-entropy quality signal (model-free repetition
    // detector next to q51's Gopher fractions and q55's corpus LM).
    "q120_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(docs(s, dir))),

    // Normalized ("fuzzy-exact") dedup: the corpus plus case/punctuation
    // variants of every doc_id % 3 == 0 doc (new ids +100000, mirrored in
    // the oracle CTE — the q91 synthesis pattern; the base corpus has no
    // byte-exact dups, so the variants are what the fold must collapse
    // and byte-exact dedup must NOT).
    "q121_normalized_dedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val variants = d.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(upper(col("text")), lit(" !!")).as("text"))
      Dedup.normalizedDupGroups(d.unionByName(variants))
    }),

    // Model-based quality filtering (GPT-3 App. A): logistic regression
    // over hashed-tf features, target = the English slice (the q112
    // convention). Rows-only: scores are fp-sum-order dependent
    // (iterative GD, like q104's k-means) — scalar-GD parity + planted
    // separation pinned in CorpusSpec.
    "q122_quality_classifier" -> ((s, dir) =>
      Corpus.qualityClassifier(docs(s, dir), col("lang") === "en")),

    // distinct-n diversity audit (Li et al. 2016): unique/total n-gram
    // ratio per (lang, n) for n = 1..3, one corpus scan.
    "q123_distinct_n" -> ((s, dir) => Corpus.distinctN(docs(s, dir))),

    // Zipf rank-frequency slope per language over the top-100 tokens —
    // natural text ≈ −1, template spam drifts flat.
    "q124_zipf_slope" -> ((s, dir) => Corpus.zipfSlope(docs(s, dir))),

    // round 5: posting-list delta-gap + VByte compression audit (Scholer
    // et al. SIGIR'02 / Zobel & Moffat CSUR'06) — what the q57 index
    // costs raw vs gap+VByte coded, per term with df ≥ 5. Exact-integer
    // byte ladder, identical in the oracle.
    "q199_postings_vbyte" -> ((s, dir) =>
      Search.postingCompressionAudit(docs(s, dir), minDf = 5)),

    // round 5: PMI collocation mining (Church & Hanks, CL'90) — top-50
    // adjacent bigrams by pointwise mutual information, c12 ≥ 5 guard;
    // the multiword-expression miner for tokenizer vocab decisions.
    "q200_pmi_collocations" -> ((s, dir) =>
      Corpus.pmiCollocations(docs(s, dir), minCount = 5L, k = 50)),

    // round 5: Heaps'-law vocabulary-growth fit V(N) = K·N^β over the
    // doc_id-ordered corpus prefix curve — coverage/saturation audit
    // next to q92/q124; ONE two-phase GlobalOrder scan carries both
    // prefix sums.
    "q201_heaps_fit" -> ((s, dir) => Corpus.heapsFit(docs(s, dir))),

    // round 5: TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04)
    // — per-document co-occurrence-graph PageRank, 3 unrolled rounds in
    // one plan for EVERY document at once, top-5 per doc.
    "q203_textrank" -> ((s, dir) =>
      TextAnalysis.textrankKeywords(docs(s, dir))),

    // round 5: interpolated Kneser–Ney bigram scoring (Kneser & Ney '95)
    // — the smoothed upgrade of q87's MLE bigram model, same per-doc
    // mean-logp grain; one fixed discount, continuation-count backoff.
    "q204_kn_bigram" -> ((s, dir) =>
      TextAnalysis.knBigramLogProb(docs(s, dir), KnDiscount)),

    // round 5: shard source-diversity audit — Shannon entropy + top-source
    // share of each q126 LPT shard's source mix (the release check that
    // dealing kept shards corpus-representative).
    "q206_shard_entropy" -> ((s, dir) =>
      Corpus.shardBalanceAudit(docs(s, dir), ShardCount)),

    // round 5: SALSA authorities (Lempel & Moran, WWW'00) — the closed-
    // form random-walk alternative to q138's HITS: within-component
    // in-degree normalization over the bipartite support graph, no
    // eigen-iteration; component discovery via the proven CC kernel.
    "q207_salsa" -> ((s, dir) =>
      graft.operators.LinkGraph.salsaAuthorities(linkEdges(s, dir))),

    // round 5: deterministic epoch shuffle — per-epoch affine-permutation
    // order over the id space (Lehmer/MINSTD multipliers mod 2^61−1),
    // the loader-facing order table a reproducible training run reads.
    "q208_epoch_shuffle" -> ((s, dir) => Corpus.epochShuffle(docs(s, dir))),

    // round 5: quality-gate calibration sweep — doc and token survival of
    // `mean_logp ≥ t` over the q55 score for each candidate threshold
    // (the q165 sensitivity-sweep pattern on the quality axis).
    "q209_quality_sweep" -> ((s, dir) =>
      TextAnalysis.qualityGateSweep(
        TextAnalysis.unigramLogProb(docs(s, dir)), QualitySweepThresholds)),

    // round 5: per-node triangle counts + local clustering coefficient
    // via degree-ordered orientation (Suri & Vassilvitskii, WWW'11) —
    // each triangle found once at its lowest-rank apex; the skew-proof
    // community-density audit next to q144's reciprocity.
    "q210_triangles" -> ((s, dir) =>
      graft.operators.LinkGraph.triangleStats(linkEdges(s, dir))),

    // round 5: one-row degree-mixing audit — Newman assortativity
    // (integer-exact moments) + Broder-style in/out-degree power-law
    // slopes over the degree histograms (heapsFit float discipline).
    "q211_degree_mix" -> ((s, dir) =>
      graft.operators.LinkGraph.degreeMixAudit(linkEdges(s, dir))),

    // round 5: R-truncated harmonic centrality at the host grain
    // (Boldi & Vigna 2014) — Σ 1/d(v,u) as an exact integer sum of
    // lcm/d; the HyperBall sketch path is parity-pinned in
    // LinkGraphSpec.
    "q212_harmonic" -> ((s, dir) =>
      graft.operators.LinkGraph.harmonicExact(hostEdges(s, dir), HarmonicRounds)),

    // round 5: MMR diversified re-ranking (Carbonell & Goldstein,
    // SIGIR'98) over the q53 BM25 pool — greedy λ-tradeoff between
    // relevance and max-Jaccard-to-selected; the oracle unrolls the k
    // greedy steps as chained CTEs.
    "q213_mmr" -> ((s, dir) =>
      Search.mmrRerank(docs(s, dir), Bm25QueryTerms, MmrPoolN, MmrK, MmrLambda)),

    // round 5: Elias–Fano posting-list size audit (Vigna, WSDM'13) —
    // the succinct-encoding companion of q199's VByte ladder; exact
    // integer bit arithmetic per term, per-list codec choice.
    "q214_elias_fano" -> ((s, dir) =>
      Search.eliasFanoAudit(docs(s, dir), minDf = 5)),

    // round 5: per-source length quantiles as MERGEABLE KLL sketches
    // (Karnin, Lang & Liberty FOCS'16) — the sketch-architecture flavor
    // of q77, completing the mergeable trio with q79 (HLL) and q125
    // (frequency). Estimate-valued (randomized compaction): rows-only;
    // exact-regime truth + merge identity + error envelope in CorpusSpec.
    "q215_length_sketch" -> ((s, dir) =>
      Corpus.lengthQuantilesFromSketches(
        Corpus.lengthQuantileSketches(docs(s, dir)))),

    // round 5: fixed-round synchronous label propagation (Raghavan et
    // al., 2007) — deterministic min-label tie-break, 3 rounds; the
    // community grain DENSER than q46's connected components.
    "q216_lpa_communities" -> ((s, dir) =>
      graft.operators.LinkGraph.lpaCommunities(linkEdges(s, dir), LpaRounds)),

    // round 5: SpotSigs near-duplicate pairs (Theobald et al., SIGIR'08)
    // — stopword-anchored signature chains through the proven PPJoin
    // kernel; tenth member of the dedup family.
    "q217_spotsigs" -> ((s, dir) =>
      Dedup.spotSigPairs(docs(s, dir), SpotSigThreshold)),

    // round 5: neighbourhood function + effective diameter (ANF,
    // Palmer et al. KDD'02; HyperANF's metric) — exact at the host
    // grain via the q212 BFS pair table; integer counts, one division.
    "q218_anf" -> ((s, dir) =>
      graft.operators.LinkGraph.neighborhoodFunction(
        hostEdges(s, dir), HarmonicRounds)),

    // round 5: theta-sketch publisher-overlap triage (DataSketches
    // theta: set ops in sketch space) — the estimation path for
    // q101/q184's exact syndication pairs; deterministic k-min-hash
    // state but DuckDB-inexpressible → rows-only; exact-regime
    // identity + error envelope in CorpusSpec.
    "q219_theta_overlap" -> ((s, dir) =>
      Corpus.thetaOverlapEstimates(
        Corpus.sourceShingleThetaSketches(docs(s, dir)))),

    // round 5: the H-index family iterate (Lü et al., Nat. Commun.
    // 2016: degree → h-index → … → coreness) at a fixed round count —
    // the dense-subgraph / link-farm spectrum; monotone upper bound on
    // coreness, exact coreness where the iteration has converged;
    // closed-form h-index per round, oracle unrolls.
    "q220_kcore" -> ((s, dir) =>
      graft.operators.LinkGraph.hIndexIterates(linkEdges(s, dir), KCoreRounds)),

    // round 5: per-community conductance audit (Kannan, Vempala &
    // Vetta, JACM'04) over the q216 labeling — the link-farm tell is a
    // high-volume near-zero-conductance community; integers until the
    // final division.
    "q221_community_quality" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.operators.LinkGraph.communityQuality(edges,
        graft.operators.LinkGraph.lpaCommunities(edges, LpaRounds)
          .select(col("doc_id"), col("community")))
    }),

    // round 5: Newman modularity of the q216 labeling (Newman &
    // Girvan, PRE'04) via the integer closed form — one division,
    // hash-exact.
    "q222_modularity" -> ((s, dir) => {
      val edges = linkEdges(s, dir)
      graft.operators.LinkGraph.modularityQ(edges,
        graft.operators.LinkGraph.lpaCommunities(edges, LpaRounds)
          .select(col("doc_id"), col("community")))
    }),

    // round 5: inter-gate agreement (Cohen's κ, 1960) between the q55
    // unigram and q87 bigram quality gates — κ ≈ 1 means the second
    // gate is redundant; integer contingency closed form.
    "q223_gate_kappa" -> ((s, dir) =>
      TextAnalysis.gateAgreement(
        TextAnalysis.unigramLogProb(docs(s, dir)),
        TextAnalysis.bigramLogProb(docs(s, dir)), KappaUniT, KappaBiT)),

    // round 5: one-row web-graph datasheet — reciprocity, global
    // clustering, assortativity, LPA modularity composed from the
    // proven q144/q210/q211/q216/q222 pieces; every statistic one
    // integer division.
    "q225_graph_datasheet" -> ((s, dir) =>
      graft.operators.LinkGraph.graphDatasheet(linkEdges(s, dir), LpaRounds)),

    // round 5: Dunning G² collocations (CL'93) — the evidence-weighted
    // sibling of q200's PMI (which overweights rare coincidences);
    // 2×2 contingency per bigram, fixed 4-term expression mirrored
    // operand-for-operand in the oracle.
    "q226_llr_collocations" -> ((s, dir) =>
      Corpus.llrCollocations(docs(s, dir), minCount = 5L, k = 50)),

    // round 5: rank-biased precision + residual (Moffat & Zobel, TOIS
    // 2008) — the persistence-model eval next to q153; p = 4/5 kept
    // RATIONAL so the weighted sum is exact integer arithmetic
    // (weights Scala-computed, interpolated into the oracle).
    "q227_rbp" -> ((s, dir) =>
      Search.rbpEval(docs(s, dir), Bm25QueryTerms, RbpK, RbpPNum, RbpPDen)),

    // round 5: dedup-family agreement matrix — pair-set Jaccard between
    // the four proven near-dup tiers at their standard thresholds (the
    // q223 κ idea at the operator grain: which tier is redundant, which
    // prunes an independent duplication mode).
    "q229_dedup_agreement" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.dedupAgreement(Map(
        "containment" -> Dedup.containmentPairs(d, threshold = 0.8),
        "minhash" -> Dedup.minhashPairs(d, threshold = 0.95),
        "ngram" -> ngramPairs(s, dir, 0.5),
        "spotsigs" -> Dedup.spotSigPairs(d, SpotSigThreshold)))
    }),

    // Mergeable frequency heavy-hitters sketch (DataSketches ItemsSketch)
    // per source. At the fixture's 31-token vocabulary the 64-counter
    // sketch never purges → EXACT regime (est == lb == ub == true count),
    // which licenses the plain-counts oracle; the eviction-regime bounds
    // and the segments→corpus merge identity are pinned in CorpusSpec.
    "q125_heavy_hitters" -> ((s, dir) =>
      Corpus.heavyHitters(
        Corpus.frequencySketches(docs(s, dir), maxMapSize = 64), threshold = 30L)),

    // Token-balanced export shard assignment (LPT round-robin over the
    // global token-count rank) — the corpus-release writer's bin-packing
    // step; range-partitioned rank, never a partition-less window.
    "q126_shard_assign" -> ((s, dir) =>
      Corpus.shardAssign(docs(s, dir), numShards = ShardCount)),

    // Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    // Lafferty) — the language-model ranking family next to q53's BM25;
    // EVERY doc scores (absent terms contribute via the smoothed
    // collection prior), which is what distinguishes the QL shape.
    "q127_qlm" -> ((s, dir) =>
      Search.qlmScores(docs(s, dir), Bm25QueryTerms)),

    // Pseudo-relevance-feedback expansion terms (Rocchio/RM1): top-k
    // BM25 feedback docs -> length-normalized candidate-term mass ->
    // top-m ranked expansion terms (query suggestion's second pass).
    "q128_prf_expansion" -> ((s, dir) =>
      Search.prfExpansionTerms(docs(s, dir), Bm25QueryTerms, k = PrfK, m = PrfM)),

    // Unicode NFC normalization + accent folding over native codegen'd
    // expressions (ASCII zero-copy fast path). The fixture corpus is pure
    // ASCII, so decomposed combining sequences are injected as a pure
    // function of doc_id (the piiDocs pattern) and mirrored chr-for-chr
    // in the oracle CTE — those rows must fold, everything else must
    // pass through unchanged.
    "q129_unicode_norm" -> ((s, dir) =>
      TextAnalysis.unicodeNormalize(unicodeDocs(s, dir))),

    // Compression-ratio quality signal (deflate len / byte len): template
    // spam deflates far below prose. Rows-only: no DEFLATE in DuckDB —
    // kernel pinned against java.util.zip + ordering properties in
    // SearchSpec.
    "q130_compress_ratio" -> ((s, dir) =>
      TextAnalysis.compressionRatio(docs(s, dir))),

    // The full Gopher rule gate (Rae et al. 2021 §A1.1) — word-count /
    // mean-word-length / symbol-ratio / bullet-line / ellipsis-line /
    // alpha-word / stop-word rules, audit view + verdict in one frame.
    // Rules 3-5 fire on injected trip rows (gopherDocs); 1/2/7 fire
    // naturally on the fixture's short or stopword-poor docs.
    "q133_gopher_gate" -> ((s, dir) =>
      TextAnalysis.gopherGate(gopherDocs(s, dir))),

    // Language-temperature resampling (mT5/XLM-R α=0.3): per-lang share,
    // temperature-flattened share, and the per-doc sampling factor.
    "q136_lang_temperature" -> ((s, dir) =>
      graft.ml.Corpus.temperatureWeights(docs(s, dir), TempAlpha)),

    // Cross-snapshot token drift: KL(new‖old) per lang, add-1 smoothing
    // over the union vocabulary; snapshots = doc_id parity halves (the
    // deterministic stand-in for two crawl windows).
    "q137_token_drift" -> ((s, dir) =>
      graft.ml.Corpus.tokenDrift(
        docs(s, dir).filter(col("doc_id") % 2 === 0),
        docs(s, dir).filter(col("doc_id") % 2 === 1))),

    // Per-lang source-concentration audit: top-share / HHI / Jain /
    // entropy over the publisher distribution — exact int-ratio metrics,
    // q55-discipline entropy.
    "q140_source_concentration" -> ((s, dir) =>
      graft.ml.Corpus.sourceConcentration(docs(s, dir))),

    // Weighted sampling without replacement (Efraimidis-Spirakis
    // exponential clocks), weight = token mass — the token-weighted epoch
    // draw. Deterministic LCG uniform; 6-dp-rounded cut, doc_id tiebreak.
    "q131_weighted_sample" -> ((s, dir) =>
      Corpus.weightedSample(docs(s, dir), k = WSampleK)),

    // op 144: anchor-text profiles — per link target the in-degree,
    // distinct incoming anchor-term count, and dominant anchor term
    // (the off-page relevance signal BM25F's anchor field consumes).
    // Window only on the (dst, term) AGGREGATED grain (op-49 rule).
    "q141_anchor_text" -> ((s, dir) =>
      graft.operators.LinkGraph.anchorProfiles(linkEdges(s, dir))),

    // op 145: BFS hop distance from the seed docs (crawl-depth policy
    // input): delta-iteration frontier expansion, min-depth free via the
    // anti-join (a discovered node never re-enters deeper). Oracle = a
    // hop-capped recursive CTE with min(depth) per node.
    "q142_seed_depth" -> ((s, dir) =>
      graft.operators.LinkGraph.seedDepths(
        linkEdges(s, dir), seedDocs(s, dir), rounds = SeedDepthRounds)),

    // op 146: TrustRank — PageRank personalized to the trusted seed set
    // (Gyöngyi et al. 2004): teleport uniform over seeds, 3 fixed
    // rounds, unit edge weights; link islands no trusted page reaches
    // score ~0. Oracle unrolls the same rounds (q69 float discipline).
    "q143_trustrank" -> ((s, dir) =>
      graft.operators.LinkGraph.trustrank(
        linkEdges(s, dir), seedDocs(s, dir), iters = 3, damping = TrustDamping)),

    // round 5: spam-mass estimation (Gyöngyi et al., VLDB'06) — how
    // much of a page's PageRank arrives via paths the trusted core
    // cannot explain: rel_mass = (PR − PR_core)/PR with PR_core the
    // PageRank whose teleport is 1/N AT THE SEEDS ONLY (so
    // PR_core ≤ PR component-wise and the ratio lands in [0,1]; a
    // link island no trusted page reaches scores ~1 — the demotion
    // signal). Both recursions run in ONE joint iteration (half the
    // shuffles of composing q69 with q143); oracle unrolls the same
    // rounds (q69 float discipline; the final ratio divides already-
    // 6-dp-rounded values, so it is bit-exact across engines).
    "q196_spam_mass" -> ((s, dir) =>
      graft.operators.LinkGraph.spamMass(
        linkEdges(s, dir), seedDocs(s, dir), iters = 3, damping = TrustDamping)),

    // round 5: OPIC frontier priority (Abiteboul et al., WWW'03) — the
    // page-importance estimate a crawler maintains ONLINE while
    // crawling (cash distributed per round + banked history), vs q69's
    // converge-then-read PageRank. Fixed 3 rounds, dangling cash
    // returned uniformly via the virtual root; oracle unrolls the same
    // rounds (q69 float discipline, 6-dp absorb).
    "q189_opic_priority" -> ((s, dir) =>
      graft.operators.LinkGraph.opicFixed(linkEdges(s, dir), iters = 3)),

    // round 5: focused-crawl harvest curve (Chakrabarti et al., WWW'99)
    // — frontier ordered by the PARENT pages' topic score (a target is
    // ranked on inherited promise, not its own unfetched text);
    // cumulative on-topic fraction at each decile of the crawl. Global
    // rank + running sum via GlobalOrder's two-phase scan, never a
    // corpus-wide window; on-topic gate is exact integer math.
    "q192_harvest_curve" -> ((s, dir) => {
      val rel = docs(s, dir).select(col("doc_id"),
        graft.functions.expressions
          .tokens_in_count(col("text"), TopicLexicon)
          .cast("long").as("topic_cnt"),
        size(filter(split(col("text"), " "), t => t =!= lit("")))
          .cast("long").as("total_cnt"))
      graft.operators.FrontierEval.harvestCurve(
        rel, linkEdges(s, dir), TopicTauPct)
    }),

    // round 5: URL-ordering evaluation (Cho, Garcia-Molina & Page,
    // WWW'98) — cumulative PageRank mass acquired per decile under
    // three frontier orderings: OPIC score (q189), in-degree, and a
    // deterministic LCG pseudo-random control. Mass and every sort key
    // are exact integers (6-dp-fixed PR ×1e6), so cumulative sums are
    // addition-order-free; one GlobalOrder scan per strategy.
    "q193_ordering_eval" -> ((s, dir) => {
      val edges = linkEdges(s, dir).select("src", "dst")
      val pr = graft.ml.Corpus.pagerankFixed(
        edges.withColumn("w", lit(1L)), iters = 3, damping = TrustDamping)
      val opic = graft.operators.LinkGraph.opicFixed(edges, iters = 3)
      val indeg = edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("ind"))
      val scores = pr
        .join(opic.withColumnRenamed("doc_id", "node"), Seq("node"))
        .join(indeg, Seq("node"), "left")
        .select(col("node").as("doc_id"),
          expr("CAST(round(pagerank * 1000000, 0) AS BIGINT)").as("pr_e6"),
          expr("CAST(round(opic * 1000000, 0) AS BIGINT)").as("opic_e6"),
          coalesce(col("ind"), lit(0L)).as("in_deg"))
      graft.operators.FrontierEval.orderingCurves(scores, "pr_e6", Seq(
        ("opic", -col("opic_e6")),
        ("indegree", -col("in_deg")),
        ("random", pmod(col("doc_id") * RandMul, lit(RandMod)))))
    }),

    // round 5: importance × change-rate recrawl priority — the q189 ×
    // q190 composition (the freshness/importance product rule of the
    // crawl-ordering literature): a url's recrawl urgency is its OPIC
    // importance times its expected changes per hour, both 6-dp-fixed
    // so the product is an exact integer; top-k is TakeOrderedAndProject
    // (orderBy+limit), never a global window.
    "q195_recrawl_priority" -> ((s, dir) => {
      val lam = graft.operators.Recrawl
        .poissonChangeRate(graft.core.Fixtures.pages(s, dir))
        .select(col("url"),
          nullif(regexp_extract(col("url"), "articles/([0-9]+)", 1), lit(""))
            .cast("long").as("doc_id"),
          expr("CAST(round(lambda_per_hour * 1000000, 0) AS BIGINT)").as("lam_e6"))
        .filter(col("doc_id").isNotNull)
      val opic = graft.operators.LinkGraph.opicFixed(linkEdges(s, dir), iters = 3)
        .select(col("doc_id"),
          expr("CAST(round(opic * 1000000, 0) AS BIGINT)").as("opic_e6"))
      lam.join(opic, Seq("doc_id"))
        .select(col("url"), col("lam_e6"), col("opic_e6"),
          (col("lam_e6") * col("opic_e6")).as("priority_e12"))
        .orderBy(desc("priority_e12"), col("url"))
        .limit(RecrawlTopK)
    }),

    // op 147: per-node degree/reciprocity audit (the link-farm tell):
    // out/in degree + reciprocated-out-edge count via one composite-key
    // self semi-join — never a cross product.
    "q144_degree_stats" -> ((s, dir) =>
      graft.operators.LinkGraph.degreeStats(linkEdges(s, dir))),

    // op 148: host-collapsed top-k (SERP diversity) — ≤ maxPerHost
    // results per publisher before the global cut; both rank boundaries
    // on the 4-dp-rounded score (the q63 rule).
    "q145_serp_collapse" -> ((s, dir) =>
      Search.bm25HostCollapsed(
        docs(s, dir).withColumn("host",
          concat(col("source"), lit(".example.com"))),
        Bm25QueryTerms, k = SerpK, maxPerHost = SerpPerHost)),

    // op 149: BM25F fielded ranking — title = first tokens, per-field
    // length normalization inside the field, ONE saturation of the
    // weighted combination (title hits outrank body hits without
    // double-saturating).
    "q146_bm25f" -> ((s, dir) =>
      Search.bm25fScores(docs(s, dir), Bm25QueryTerms, titleLen = Bm25fTitleLen,
        wTitle = Bm25fWTitle, wBody = Bm25fWBody,
        bTitle = Bm25fBTitle, bBody = Bm25fBBody)),

    // op 150: champion-list (statically pruned) retrieval — each term
    // scores only its top-p-by-tf postings; df/idf stay full-list stats.
    "q147_champion_topk" -> ((s, dir) =>
      Search.championTopK(docs(s, dir), Bm25QueryTerms, p = ChampionP, k = ChampionK)),

    // op 151: Flesch reading-ease audit — deterministic word/sentence/
    // vowel-group-syllable proxies; sentence punctuation injected on
    // doc_id % 8 == 1 (the word-soup corpus has none), oracle-mirrored.
    "q148_readability" -> ((s, dir) =>
      TextAnalysis.readability(readabilityDocs(s, dir))),

    // op 152: cross-snapshot content overlap — distinct token-SET
    // populations per snapshot (doc_id parity halves, the q137 stand-in),
    // intersection, Jaccard, and new-in-old containment ("re-crawl
    // waste"). Set keys are map-side xxhash64 — text never shuffles.
    "q149_snapshot_overlap" -> ((s, dir) =>
      Corpus.snapshotOverlap(
        docs(s, dir).filter(col("doc_id") % 2 === 0),
        docs(s, dir).filter(col("doc_id") % 2 === 1))),

    // op 153: leakage-free train/val/test split — near-dup clusters
    // assigned to splits atomically by the rep-keyed LCG bucket (no
    // near-dup pair can straddle train and eval); singletons split by
    // their own id.
    "q150_leakage_split" -> ((s, dir) =>
      Corpus.leakageFreeSplit(docs(s, dir), threshold = 0.5,
        trainPermille = SplitTrainPermille, valPermille = SplitValPermille)),

    // op 155: contrastive hard-negative mining for the q47 eval slice —
    // top-k lexically-close-but-not-near-dup corpus docs per eval doc;
    // the Jaccard gate falls out of the same postings counts (exact
    // int-ratio), the rank key is all-integer.
    "q152_hard_negatives" -> ((s, dir) =>
      Corpus.hardNegatives(docs(s, dir), col("doc_id") % 37 === 0,
        k = HardNegK, maxJaccard = HardNegMaxJ, maxDf = HardNegMaxDf)),

    // op 156: retrieval-quality evaluation (precision@k, MRR, NDCG@k) of
    // the BM25 ranking against the q64 conjunction as synthetic qrels —
    // the audit a ranking change ships with.
    "q153_retrieval_eval" -> ((s, dir) =>
      Search.retrievalEval(docs(s, dir), Bm25QueryTerms, k = EvalAtK)),

    // op 157: leading-wildcard (*suffix) term lookup via the reversed-
    // dictionary trick, df-ranked.
    "q154_suffix_lookup" -> ((s, dir) =>
      Search.suffixSuggest(docs(s, dir), SuffixStr, m = SuffixM)),

    // op 159: content-novelty curve over crawl time — per hour bucket
    // the distinct word-3-gram count and the share first-seen in that
    // bucket (the crawl-saturation audit); ts = the q88 publish-time
    // mapping. First-occurrence = min-bucket per 8-byte shingle key.
    "q156_novelty_curve" -> ((s, dir) =>
      Corpus.noveltyCurve(
        docs(s, dir).withColumn("ts",
          expr("timestampadd(MINUTE, doc_id, TIMESTAMP '2024-01-01 00:00:00')")),
        n = 3)),

    // op 167: MaxScore-bounded exact top-k — per-term score upper
    // bounds + a champion-pass kth-score threshold prune the rescoring
    // set with a PROVABLE exactness guarantee (output == q53's top-k).
    "q163_maxscore_topk" -> ((s, dir) =>
      Search.maxScoreTopK(docs(s, dir), Bm25QueryTerms, k = MaxScoreK, p = MaxScoreP)),

    // op 172: anchor/content agreement audit — link targets whose
    // DOMINANT incoming anchor term never appears in their own body
    // (the classic clickbait/nepotistic-link tell: the web calls the
    // page something it never says). Composes the q141 profile with one
    // codegen'd containment probe.
    "q168_anchor_mismatch" -> ((s, dir) =>
      graft.operators.LinkGraph.anchorProfiles(linkEdges(s, dir))
        .join(docs(s, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
        .select(col("doc_id"), col("top_term"), col("top_links"),
          array_contains(split(col("text"), " "), col("top_term")).as("in_body"))),

    // op 169: near-dup threshold sensitivity sweep — pairs and affected
    // docs per candidate threshold, ONE kernel pass at t_min (lossless
    // PPJoin superset) + a pair-grain constant-array explode.
    "q165_threshold_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(docs(s, dir), SweepThresholds)),

    // op 168: host-level link rollup — the inter-publisher citation
    // matrix (same-host navigation excluded); host²-bounded output.
    "q164_host_graph" -> ((s, dir) =>
      graft.operators.LinkGraph.hostGraph(
        linkEdges(s, dir),
        docs(s, dir).select(col("doc_id"),
          concat(col("source"), lit(".example.com")).as("host")))),

    // op 164: bibliographic-coupling pairs — pages linking to ≥2 common
    // targets ("cite the same sources" relatedness; orthogonal to
    // anchors/PageRank). dst-keyed self-join; super-connected targets
    // prunable via maxIndeg (stop-key discipline).
    "q160_coupling_pairs" -> ((s, dir) =>
      graft.operators.LinkGraph.couplingPairs(linkEdges(s, dir), minShared = 2)),

    // op 165: BM25F with the ANCHOR field — what other pages call a
    // page (the q141 incoming anchor stream) outweighs its own body;
    // per-field length norm, weighted combine, ONE saturation.
    "q161_anchor_rank" -> ((s, dir) =>
      Search.bm25AnchorScores(docs(s, dir), linkEdges(s, dir), Bm25QueryTerms,
        wAnchor = AnchorW, wBody = Bm25fWBody,
        bAnchor = AnchorB, bBody = Bm25fBBody)),

    // op 162: training-shard export SINK — the q126 LPT assignment
    // materialized as shard=N parquet dirs with the manifest-last commit
    // protocol; the entry returns the committed READ-BACK, so the oracle
    // (the q126 assignment itself) checks the full write→read loop.
    "q158_training_shards" -> ((s, dir) => {
      val path = s"${graft.core.Constants.workDir}/shards_${java.nio.file.Paths.get(dir).getFileName}"
      Corpus.writeTrainingShards(docs(s, dir), path, ShardCount)
      Corpus.readTrainingShards(s, path)
        .select(col("doc_id"), col("n_tokens"), col("shard"))
    })
  )

  /** q152/q153/q154 knobs — interpolated into the oracles (a2 rule). */
  val HardNegK: Int = 5
  val HardNegMaxJ: Double = 0.5
  val HardNegMaxDf: Long = 400L
  val EvalAtK: Int = 10
  val SuffixStr: String = "e"
  val SuffixM: Int = 8

  /** q161's anchor-field BM25F weights (a2 rule). */
  val AnchorW: Double = 3.0
  val AnchorB: Double = 0.5

  /** q163's cut and champion-pass sizes (a2 rule). */
  val MaxScoreK: Int = 12
  val MaxScoreP: Int = 4

  /** q165's candidate thresholds (a2 rule). */
  val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95)

  /** q150's split cuts — interpolated into the oracle (a2 rule). */
  val SplitTrainPermille: Int = 800
  val SplitValPermille: Int = 100

  /** q145's cut sizes / q146's BM25F parameters / q147's champion-list
    * sizes — interpolated into the oracles (the a2 discipline). */
  val SerpK: Int = 20
  val SerpPerHost: Int = 2
  val Bm25fTitleLen: Int = 6
  val Bm25fWTitle: Double = 2.0
  val Bm25fWBody: Double = 1.0
  val Bm25fBTitle: Double = 0.5
  val Bm25fBBody: Double = 0.75
  val ChampionP: Int = 5
  val ChampionK: Int = 15

  /** q148's documents with sentence punctuation injected as a pure
    * function of doc_id (the unicodeDocs pattern — the word-soup corpus
    * carries none, so the sentence count would be the floor everywhere). */
  private def readabilityDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 8 === 1,
        lit(" extra clause one. second tiny clause. end.")).otherwise(lit(""))).as("text"))

  /** q142's BFS round cap / q143's damping — interpolated into the
    * oracles (the a2 discipline: engine and oracle cannot drift). */
  val SeedDepthRounds: Int = 6
  val TrustDamping: Double = 0.85

  /** q192's topic lexicon + on-topic threshold (percent of tokens that
    * must be topical) and q193's Lehmer-LCG random-control constants —
    * all interpolated into the oracles (the a2 discipline). */
  val TopicLexicon: Seq[String] = Seq("stream", "window", "batch")
  val TopicTauPct: Int = 12
  val RandMul: Long = 48271L
  val RandMod: Long = 2147483647L

  /** q195's recrawl-list size — interpolated into the oracle. */
  val RecrawlTopK: Int = 25

  /** The hyperlink edge fixture (q141–q144) — a pure function of the
    * documents table, mirrored relationally in [[LinkEdgesCte]]:
    * chain edges d→d+1, d→d+2 (every doc), hub fan-out d→d+3..d+7 for
    * d%10==0 (in-degree variance), and back-edges d→d−1 for d%25==0
    * (reciprocal pairs for the q144 audit); targets must exist (semi
    * join on doc ids). The anchor text of (src→dst) is the 3-token
    * slice of the SOURCE's text starting at token (dst mod 4)+1 — the
    * linking page chooses the phrasing, sliced deterministically so
    * different sources contribute different anchors to one target
    * (fixture texts are ≥10 tokens, so every slice is full).
    *
    * Plan: ONE scan of the documents explodes each row's offset array
    * ([1,2], plus [3..7] and [-1] where the modulus rules hold), and a
    * second, id-only scan feeds the semi join — a constant-size plan
    * for every entry and kernel round that embeds it. A null doc_id
    * yields null targets, which the semi join drops. */
  private[graft] def linkEdges(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val none = typedLit(Seq.empty[Long])
    val off = concat(typedLit(Seq(1L, 2L)),
      when(col("doc_id") % 10 === 0, typedLit(Seq(3L, 4L, 5L, 6L, 7L))).otherwise(none),
      when(col("doc_id") % 25 === 0, typedLit(Seq(-1L))).otherwise(none))
    d.select(col("doc_id").as("src"), explode(off).as("off"), col("text"))
      .select(col("src"), (col("src") + col("off")).as("dst"), col("text"))
      .join(d.select(col("doc_id").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"),
        array_join(
          slice(split(col("text"), " "),
            (pmod(col("dst"), lit(4)) + 1).cast("int"), lit(3)), " ").as("anchor"))
  }

  /** q142/q143's trusted seed docs: doc_id % 50 == 0. */
  private def seedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).filter(col("doc_id") % 50 === 0).select(col("doc_id"))

  /** q212's host-grain edge list: the q164 host rollup's distinct
    * (src_host, dst_host) pairs — the dim-bounded universe the exact
    * harmonic-centrality mode is licensed on. */
  private[graft] def hostEdges(s: SparkSession, dir: String): DataFrame =
    graft.operators.LinkGraph.hostGraph(
      linkEdges(s, dir),
      docs(s, dir).select(col("doc_id"),
        concat(col("source"), lit(".example.com")).as("host")))
      .select(col("src_host").as("src"), col("dst_host").as("dst"))

  /** q212's BFS radius cap (≥ every sf's host-graph diameter — the
    * fixpoint is asserted in LinkGraphSpec; lcm(1..12) = 27720 is the
    * exact-sum denominator) and q213's MMR pool/size/λ — interpolated
    * into the oracles (the a2 discipline). */
  val HarmonicRounds: Int = 12
  private def lcmTo(n: Int): Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1 to n).foldLeft(1L)((a, k) => a / gcd(a, k) * k)
  }
  private[queries] val HarmonicLcm: Long = lcmTo(HarmonicRounds)
  val MmrPoolN: Int = 10
  val MmrK: Int = 5
  val MmrLambda: Double = 0.7

  /** q216's LPA round count, q217's SpotSigs Jaccard threshold, and
    * q220's h-index iteration count — interpolated into the oracles
    * (the a2 discipline). */
  val LpaRounds: Int = 3
  val SpotSigThreshold: Double = 0.5
  val KCoreRounds: Int = 6

  /** q223's gate thresholds — near the fixture score medians so both
    * raters split the corpus and κ's denominator stays non-degenerate;
    * interpolated into the oracle. */
  val KappaUniT: Double = -3.402
  val KappaBiT: Double = -3.386

  /** q227's RBP depth and rational persistence p = pNum/pDen —
    * interpolated into the oracle together with the Scala-computed
    * integer weight table (the a2 discipline). */
  val RbpK: Int = 10
  val RbpPNum: Int = 4
  val RbpPDen: Int = 5

  /** Shared q216/q221/q222 oracle CTE: the LinkEdges base + the
    * [[LpaRounds]] unrolled label-propagation rounds, ending with the
    * labeling relation l<rounds> (node, lab). The rn=1 pick spells the
    * engine's (count desc, label asc) tie-break identically. */
  private lazy val LpaOracleCte: String = {
    def rnd(prev: String, cur: String) =
      s"""$cur AS (SELECT node, lab FROM (
         |  SELECT n.node, l.lab,
         |         row_number() OVER (PARTITION BY n.node
         |                            ORDER BY count(*) DESC, l.lab) AS rn
         |    FROM nbr n JOIN $prev l ON l.node = n.nbr
         |   GROUP BY n.node, l.lab) r WHERE rn = 1)""".stripMargin
    val rounds = (1 to LpaRounds)
      .map(k => rnd(s"l${k - 1}", s"l$k")).mkString(",\n")
    s"""$LinkEdgesCte,
       |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
       |nbr AS (SELECT DISTINCT node, nbr FROM (
       |          SELECT src AS node, dst AS nbr FROM e
       |          UNION ALL SELECT dst, src FROM e)),
       |l0 AS (SELECT DISTINCT node, node AS lab FROM nbr),
       |$rounds""".stripMargin
  }

  /** DuckDB mirror of [[linkEdges]] (ends with the `edges` relation). */
  private val LinkEdgesCte: String =
    """WITH eraw AS (
      |  SELECT doc_id AS src, doc_id + 1 AS dst, text FROM documents
      |  UNION ALL SELECT doc_id, doc_id + 2, text FROM documents
      |  UNION ALL SELECT doc_id, doc_id + j, text
      |    FROM (SELECT doc_id, text, unnest(generate_series(3, 7)) AS j
      |            FROM documents WHERE doc_id % 10 = 0)
      |  UNION ALL SELECT doc_id, doc_id - 1, text
      |    FROM documents WHERE doc_id % 25 = 0
      |),
      |edges AS (
      |  SELECT src, dst,
      |         array_to_string(list_slice(string_split(text, ' '),
      |           CAST(dst % 4 AS INT) + 1, CAST(dst % 4 AS INT) + 3), ' ') AS anchor
      |    FROM eraw WHERE dst IN (SELECT doc_id FROM documents)
      |)""".stripMargin

  /** q126's shard count / q128's feedback-set + expansion sizes / q131's
    * sample size — interpolated into the oracles (the a2 discipline). */
  val ShardCount: Int = 8
  val PrfK: Int = 10
  val PrfM: Int = 8
  val WSampleK: Int = 64

  /** q204's Kneser–Ney absolute discount — interpolated into the oracle. */
  val KnDiscount: Double = 0.75

  /** q209's candidate quality thresholds — interpolated into the oracle;
    * chosen around the fixture's q55 score mass so both gate branches
    * fire at every sf. */
  val QualitySweepThresholds: Seq[Double] = Seq(-5.0, -4.5, -4.0, -3.5, -3.0)

  /** The documents table with decomposed-unicode suffixes injected as a
    * pure function of doc_id (the fixture corpus is pure ASCII; the
    * oracle CTE mirrors these with chr(769)/chr(776) combining marks).
    * The literal below is DECOMPOSED on purpose — 'e' + U+0301 / 'e' +
    * U+0308, what the NFC fold must rewrite (precomposed would make the
    * fixture a no-op). */
  private def unicodeDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 9 === 4,
        lit(" exposé naivë")).otherwise(lit(""))).as("text"))

  /** q133's documents with Gopher-rule trip cases injected as a pure
    * function of doc_id (the unicodeDocs pattern — the base corpus is
    * single-line lowercase prose, so rules 3–5 would never fire): a
    * hashtag-spam suffix (symbol ratio), a bullet-list tail of 10 lines
    * (bullet fraction 10/11 > 0.9), and two '...'-terminated teaser lines
    * (ellipsis fraction 2/3 > 0.3) — each mirrored clause-for-clause in
    * the oracle CTE. */
  private def gopherDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 13 === 5,
        lit(" ### ## # #### ### ## ### # ## ###"))
        .when(col("doc_id") % 13 === 9, lit(GopherBulletTail))
        .when(col("doc_id") % 13 === 2,
          lit("\nread more...\nstory developing..."))
        .otherwise(lit(""))).as("text"))

  /** q136's sampling temperature (the mT5 α) — interpolated into the
    * oracle so engine and oracle cannot drift (the a2 rule). */
  val TempAlpha: Double = 0.3

  /** q133's injected bullet-list tail (10 lines → bullet_frac 10/11). */
  val GopherBulletTail: String =
    "\n- click here\n- read more\n- subscribe now\n- sign up\n- breaking news" +
      "\n- top stories\n- more inside\n- live blog\n- photo gallery\n- newsletter"

  /** q91's paragraphized documents: fixed 12-token chunks (the fixture's
    * deterministic stand-in for newline paragraph breaks) plus two
    * injected boilerplate paragraphs — a global subscribe footer on
    * doc_id % 6 == 0 and a per-source follow footer on doc_id % 4 == 1 —
    * mirrored clause-for-clause in the q91 oracle CTE (the piiDocs
    * pattern). */
  private[graft] def paraDocs(d: DataFrame): DataFrame =
    d.withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"),
        expr(s"""concat(
          transform(sequence(0, (size(tk) - 1) div $ParaChunk),
            i -> array_join(slice(tk, i * $ParaChunk + 1, $ParaChunk), ' ')),
          CASE WHEN doc_id % 6 = 0 THEN array('$BoilerplatePara')
               ELSE cast(array() as array<string>) END,
          CASE WHEN doc_id % 4 = 1
               THEN array(concat('follow ', source, ' for breaking news'))
               ELSE cast(array() as array<string>) END)""").as("paras"))

  /** q91's paragraph chunk width (tokens) and injected global footer. */
  val ParaChunk: Int = 12
  val BoilerplatePara: String =
    "subscribe to our newsletter for daily market updates"

  /** q76's standing alerts: a two-term conjunction with an exclusion, a
    * single-term alert with no exclusions, an unsatisfiable alert (term
    * absent from the fixture vocabulary), and a duplicate-term alert
    * (array_distinct discipline). */
  val AlertRows: Seq[(Long, Seq[String], Seq[String])] = Seq(
    (1L, Seq("spark", "merge"), Seq("error")),
    (2L, Seq("vector"), Seq.empty),
    (3L, Seq("spark", "zzznope"), Seq.empty),
    (4L, Seq("batch", "batch", "join"), Seq("slow", "small")))

  /** q76's oracle — shared with the streaming flavor (q174): alert rows
    * interpolated from AlertRows (engine and oracle cannot drift),
    * list_distinct mirrors the engine's array_distinct, the conjunction
    * is the same count == n_terms group, the exclusion a NOT EXISTS over
    * the must_not hit pairs. alert_id CAST to BIGINT so the schemas line
    * up with the Spark Long. */
  private[queries] lazy val AlertsOracleSql: String = {
    def l(xs: Seq[String]) =
      if (xs.isEmpty) "[]::VARCHAR[]"
      else xs.map(x => s"'$x'").mkString("[", ",", "]")
    val vals = AlertRows
      .map { case (id, m, mn) => s"(CAST($id AS BIGINT), ${l(m)}, ${l(mn)})" }
      .mkString(", ")
    s"""WITH alerts(alert_id, must, must_not) AS (VALUES $vals),
       |am AS (SELECT alert_id, len(list_distinct(must)) AS n_terms,
       |              unnest(list_distinct(must)) AS term FROM alerts),
       |an AS (SELECT alert_id, unnest(list_distinct(must_not)) AS term FROM alerts),
       |p AS (SELECT DISTINCT doc_id, term
       |        FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
       |                FROM documents) AS u),
       |pos AS (SELECT alert_id, doc_id FROM p JOIN am USING (term)
       |        GROUP BY alert_id, doc_id, n_terms HAVING count(*) = n_terms)
       |SELECT alert_id, doc_id FROM pos
       | WHERE NOT EXISTS (SELECT 1 FROM p JOIN an USING (term)
       |                    WHERE an.alert_id = pos.alert_id
       |                      AND p.doc_id = pos.doc_id)""".stripMargin
  }

  /** q53's query — mid-frequency fixture vocabulary so df varies by term. */
  val Bm25QueryTerms: Seq[String] = Seq("spark", "merge", "vector")

  /** q186's per-term pruned-tier size — interpolated into the oracle. */
  val StaticPruneK: Int = 8

  /** q188's recall cuts — interpolated into the oracle. */
  val PruningRecallKs: Seq[Int] = Seq(5, 10, 20)

  /** q56's phrase — occurs in a handful of sf0.01 fixture docs. */
  val PhraseNeedle: String = "row column sort"

  /** q64's boolean query — mid-frequency terms so the conjunction and the
    * exclusion both prune. */
  val BoolMust: Seq[String] = Seq("spark", "merge")
  val BoolMustNot: Seq[String] = Seq("error")

  /** q66's time bucket width in doc_ids (publish time is doc_id-determined
    * in the fixture: EPOCH + doc_id minutes). */
  val TrendBucketWidth: Int = 64

  /** q68's autocomplete prefix. */
  val SuggestPrefix: String = "s"

  /** q73's proximity query: both mid-frequency fixture terms, window in
    * token positions (base-0 vs base-1 cancels in the |pa-pb| band). */
  val ProxTermA: String = "spark"
  val ProxTermB: String = "merge"
  val ProxWindow: Int = 5

  /** q74's typo'd needles: one deletion, one substitution, one exact,
    * one with no distance-1 vocabulary neighbor. */
  val FuzzyNeedles: Seq[String] = Seq("sprk", "merje", "table", "zzzzz")

  /** q75's target source shares (normalized by the operator). */
  val MixTargets: Seq[(String, Double)] =
    Seq("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)

  /** q83's global token budget — sized so the fixture exercises BOTH
    * regimes: src0's quota exceeds its supply (everything taken), while
    * src1/src2 are quota-truncated mid-stream. */
  val TokenBudget = 3000L

  /** Shared by q56 (corpus scan) and q80 (positional index) — same
    * relation. */
  private val PhraseOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents)
       |SELECT doc_id FROM t
       | WHERE list_contains(list_transform(generate_series(1, len(tk)-2),
       |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]), '${PhraseNeedle}')""".stripMargin

  /** Shared by q73 (corpus scan) and q81 (positional index) — same
    * relation. */
  private val ProximityOracleSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
       |p AS (SELECT doc_id, unnest(tk) AS term,
       |             unnest(generate_series(1, len(tk))) AS pos
       |        FROM t),
       |a AS (SELECT doc_id, pos AS pa FROM p WHERE term = '$ProxTermA'),
       |b AS (SELECT doc_id, pos AS pb FROM p WHERE term = '$ProxTermB')
       |SELECT DISTINCT a.doc_id
       |  FROM a JOIN b USING (doc_id)
       | WHERE abs(pa - pb) <= $ProxWindow""".stripMargin

  /** Shared by q53 (inline) and q57 (persisted index) — same relation. */
  /** q102's gate constants — interpolated into the oracle so engine and
    * oracle cannot drift (the a2 discipline). */
  val HostQualityMinTokens: Int = 60
  val HostQualityMaxBadFrac: Double = 0.6

  /** q103's tombstoned host. */
  val DeletedHost: String = "src7"

  /** The BM25 relation over `documents` restricted by `whereClause`
    * ("" = full corpus, q53/q57/q58; a filter = q103's post-delete
    * index). */
  private def bm25OracleSqlOver(whereClause: String): String =
    s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents $whereClause),
       |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
       |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
       |        GROUP BY doc_id, term),
       |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
       |SELECT doc_id,
       |       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
       |                 / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))), 4) AS bm25
       |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
       | GROUP BY doc_id""".stripMargin

  private[queries] val Bm25OracleSql: String = bm25OracleSqlOver("")

  /** Shared q52/q224 oracle: the exact 8-gram decontamination relation
    * (q224's Bloom prune is lossless, so both entries emit it). */
  private val Decon8OracleSql: String =
    """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
      |sh AS (SELECT doc_id,
      |         unnest(list_distinct(list_transform(generate_series(1, len(tk)-7),
      |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
      |                     tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7]))) AS s
      |  FROM t),
      |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 5 = 0)
      |SELECT c.doc_id, count(*) AS n_overlap
      |  FROM (SELECT doc_id, s FROM sh WHERE doc_id % 5 <> 0) AS c
      |  JOIN ev USING (s)
      | GROUP BY c.doc_id""".stripMargin

  /** q107's documents with a per-source boilerplate footer appended to 3
    * of every 4 docs (doc_id % 4 != 0) — the site-template text the miner
    * must surface (the word-soup fixture has no natural templates);
    * mirrored character-for-character in the q107 oracle CTE. Boundary
    * shingles (footer words paired with each doc's distinct tail) stay
    * doc-specific and must NOT cross the threshold. */
  private def boilerplateDocs(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 4 =!= 0,
          concat(lit(" subscribe to "), col("source"),
            lit(" newsletter updates today"))).otherwise(lit(""))).as("text"))

  /** The documents table with PII spans injected as a pure function of
    * doc_id (the word-soup fixture contains none) — mirrored
    * character-for-character in the q54 oracle's CTE. */
  private def piiDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      when(col("doc_id") % 7 === 0,
        concat(lit(" mail user"), col("doc_id").cast("string"),
          lit("@news-example.com"))).otherwise(lit("")),
      when(col("doc_id") % 5 === 0,
        concat(lit(" src 10."), (col("doc_id") % 200).cast("string"),
          lit(".0."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit(" tel +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(lit(""))).as("text"))

  val oracles: Map[String, String] = Map(
    "q30_dedup_exact" ->
      s"""${CrawlQueries.PagesCte}
         |SELECT min(url) AS keeper_url, count(*) AS n_copies
         |  FROM pages GROUP BY text""".stripMargin,

    // Valid because banding recall is exhaustively 1.0 on this fixture
    // (MlSpec pins got == truth at sf0.01) and exact verification makes
    // precision 1.0 unconditionally — so the LSH output EQUALS the
    // all-pairs J>=0.95 join over identical-token-set representatives,
    // which IS oracle-expressible. (The signature/banding hashes themselves
    // never appear in the output.)
    "q31_minhash_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, list_sort(list_distinct(string_split(text,' '))) AS ts
        |    FROM documents),
        |reps AS (SELECT min(doc_id) AS rep, ts FROM toks GROUP BY ts)
        |SELECT a, b, jaccard FROM (
        |  SELECT a.rep AS a, b.rep AS b,
        |         round(len(list_intersect(a.ts, b.ts)) * 1.0
        |               / len(list_distinct(list_concat(a.ts, b.ts))), 4) AS jaccard
        |    FROM reps a JOIN reps b ON a.rep < b.rep) AS p
        | WHERE jaccard >= 0.95""".stripMargin,

    "q33_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks)
        |SELECT a, b, jaccard FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5""".stripMargin,

    "q84_containment" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks)
        |SELECT a, b, containment FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 4) AS containment
        |    FROM sh a JOIN sh b
        |      ON a.lang = b.lang AND a.doc_id <> b.doc_id AND len(a.s) > 0) AS p
        | WHERE containment >= 0.8""".stripMargin,

    "q34_embed_neardup" ->
      """SELECT a, b, round(c, 4) AS cos FROM (
        |  SELECT a.vec_id AS a, b.vec_id AS b,
        |         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) AS c
        |    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id) AS p
        | WHERE c >= 0.35""".stripMargin,

    "q35_knn_brute" ->
      """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS e
        |             FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |s AS (SELECT query_id, neighbor_id, list_cosine_similarity(q.e, c.e) AS cos
        |        FROM q JOIN c ON query_id <> neighbor_id),
        |r AS (SELECT query_id, neighbor_id, cos,
        |             ROW_NUMBER() OVER (PARTITION BY query_id
        |                                ORDER BY cos DESC, neighbor_id ASC) AS rank
        |        FROM s)
        |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos FROM r WHERE rank <= 5""".stripMargin,

    "q37_lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |s AS (SELECT doc_id,
        |  len(list_filter(tk, x -> x IN ('der','die','und','nicht'))) AS s_de,
        |  len(list_filter(tk, x -> x IN ('the','a','of','and'))) AS s_en,
        |  len(list_filter(tk, x -> x IN ('el','los','que','y'))) AS s_es,
        |  len(list_filter(tk, x -> x IN ('le','les','et','dans'))) AS s_fr,
        |  len(list_filter(tk, x -> x IN ('的','是','了','在'))) AS s_zh
        |  FROM t)
        |SELECT doc_id,
        |       CASE WHEN s_de >= greatest(s_en, s_es, s_fr, s_zh) THEN 'de'
        |            WHEN s_en >= greatest(s_es, s_fr, s_zh) THEN 'en'
        |            WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |            WHEN s_fr >= s_zh THEN 'fr'
        |            ELSE 'zh' END AS lang_pred,
        |       s_de, s_en, s_es, s_fr, s_zh
        |  FROM s""".stripMargin,

    "q38_quality" ->
      """WITH t AS (SELECT doc_id, text, string_split(text,' ') AS tk FROM documents)
        |SELECT doc_id, length(text) AS n_chars, len(tk) AS n_tokens,
        |       round((length(text) - (len(tk) - 1)) * 1.0 / len(tk), 4) AS avg_token_len,
        |       round(len(list_filter(tk, x -> x IN ('the','a','of','and','with'))) * 1.0
        |             / len(tk), 4) AS stopword_ratio,
        |       round(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
        |             / length(text), 4) AS punct_ratio
        |  FROM t""".stripMargin,

    "q39_token_count" ->
      """SELECT doc_id,
        |       len(string_split(text,' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens,
        |       len(list_distinct(string_split(text,' '))) AS uniq_tokens
        |  FROM documents""".stripMargin,

    // byte_len re-derives each codec's size arithmetic (fixture v5: real
    // encoded payloads): BMP = 54 + h·paddedRow(w); WAV = 44 + 2·nSamples;
    // Y4M = header + frames·(6 + w·h) — header length via the SAME string
    // the encoder writes (strlen of the reconstructed header).
    "q41_media_meta" ->
      """WITH m AS (SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' ELSE 'y4m' END AS format,
        |       CAST(16 + doc_id % 17 AS INT) AS width,
        |       CAST(16 + doc_id % 13 AS INT) AS height
        |  FROM documents)
        |SELECT doc_id, kind, format,
        |       CAST(CASE kind
        |         WHEN 'image' THEN 54 + height * (((3 * width + 3) // 4) * 4)
        |         WHEN 'audio' THEN 44 + 2 * (400 + doc_id % 256)
        |         ELSE strlen('YUV4MPEG2 W' || width || ' H' || height ||
        |                     ' F25:1 Ip A1:1 Cmono') + 1
        |              + (2 + doc_id % 3) * (6 + width * height)
        |       END AS BIGINT) AS byte_len,
        |       width, height
        |  FROM m""".stripMargin,

    // Connected components as a recursive CTE: min reachable id over the
    // symmetric closure of the q33 pair set == the Spark label propagation.
    "q46_dedup_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |pairs AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b AS src, a AS dst FROM pairs),
        |cc AS (SELECT src AS node, src AS root FROM edges
        |       UNION
        |       SELECT e.dst AS node, cc.root FROM cc JOIN edges e ON cc.node = e.src),
        |lab AS (SELECT node AS doc_id, min(root) AS rep FROM cc GROUP BY node)
        |SELECT doc_id, rep, count(*) OVER (PARTITION BY rep) AS cluster_size
        |  FROM lab""".stripMargin,

    // Same pair relation + recursive CC as q46, gated by the publish-time
    // delta (ts reconstructed from the fixture mapping), then the
    // thread-grain rollup.
    "q88_story_threads" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |pairs AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5
        |   AND abs(date_diff('second',
        |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(a),
        |         TIMESTAMP '2024-01-01 00:00:00' + to_minutes(b))) <= 10800),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b AS src, a AS dst FROM pairs),
        |cc AS (SELECT src AS node, src AS root FROM edges
        |       UNION
        |       SELECT e.dst AS node, cc.root FROM cc JOIN edges e ON cc.node = e.src),
        |lab AS (SELECT node AS doc_id, min(root) AS rep FROM cc GROUP BY node),
        |dts AS (SELECT doc_id,
        |          TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id) AS ts
        |          FROM documents)
        |SELECT rep AS thread, count(*) AS n_articles,
        |       min(ts) AS first_ts, max(ts) AS last_ts,
        |       date_diff('second', min(ts), max(ts)) AS span_sec
        |  FROM lab JOIN dts USING (doc_id)
        | GROUP BY rep""".stripMargin,

    "q47_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(generate_series(1, len(tk)-2),
        |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS s
        |  FROM t),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0)
        |SELECT c.doc_id, count(*) AS n_overlap
        |  FROM (SELECT doc_id, s FROM sh WHERE doc_id % 37 <> 0) AS c
        |  JOIN ev USING (s)
        | GROUP BY c.doc_id""".stripMargin,

    // (((x % m) + m) % m) is the SQL spelling of Spark's pmod — sign-safe
    // for negative keys (Corpus.sampleBucket).
    "q48_sample_stratified" ->
      """SELECT doc_id, lang, source,
        |       CAST((((doc_id * 48271 + 11) % 1000) + 1000) % 1000 AS INT) AS bucket
        |  FROM documents
        | WHERE (((doc_id * 48271 + 11) % 1000) + 1000) % 1000 < 200""".stripMargin,

    "q52_decontaminate_8gram" -> Decon8OracleSql,

    // identical relation by construction: the Bloom probe is a lossless
    // pre-filter (no false negatives) in front of the SAME exact join,
    // so the scale path shares q52's oracle (the q57/q58 pattern).
    "q224_bloom_decontam" -> Decon8OracleSql,

    "q51_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |tok AS (SELECT doc_id, unnest(tk) AS tok FROM t),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
        |agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |               CAST(max(c) AS BIGINT) AS top_tok,
        |               CAST(count(*) AS BIGINT) AS n_uniq
        |          FROM c GROUP BY doc_id),
        |sh AS (SELECT doc_id,
        |         len(list_distinct(list_transform(generate_series(1, len(tk)-2),
        |               i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS n_3g_uniq,
        |         len(tk) - 2 AS n_3g
        |    FROM t)
        |SELECT a.doc_id, a.n_tokens,
        |       round(top_tok * 1.0 / n_tokens, 4) AS top_token_frac,
        |       round(n_uniq * 1.0 / n_tokens, 4) AS uniq_token_frac,
        |       round(CASE WHEN s.n_3g >= 1
        |                  THEN 1.0 - s.n_3g_uniq * 1.0 / s.n_3g
        |                  ELSE 0.0 END, 4) AS dup_3gram_frac
        |  FROM agg a JOIN sh s USING (doc_id)""".stripMargin,

    // Constants and query terms interpolated from Search.K1/Search.B/
    // Bm25QueryTerms — engine and oracle cannot drift; parenthesization
    // mirrors Search.scoresRaw left-assoc chains so per-term doubles are
    // bit-identical (only the sum's addition order differs; 4 dp absorbs).
    "q53_bm25" -> Bm25OracleSql,

    // q53's contribution frames + a per-term rounded-rank cut at K; both
    // sums re-round to 4 dp (the q53 bit-identity argument per term).
    "q186_static_pruning" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |c AS (SELECT doc_id, term,
         |             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |             / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl)) AS s
         |        FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
         |r AS (SELECT *, row_number() OVER (PARTITION BY term ORDER BY round(s, 4) DESC, doc_id) AS rk
         |        FROM c)
         |SELECT doc_id, round(sum(s), 4) AS bm25_full,
         |       round(sum(CASE WHEN rk <= $StaticPruneK THEN s ELSE 0 END), 4) AS bm25_pruned,
         |       CAST(max(CASE WHEN rk <= $StaticPruneK THEN 1 ELSE 0 END) AS BOOLEAN) AS in_pruned
         |  FROM r GROUP BY doc_id""".stripMargin,

    // the q186 relation re-ranked twice on the rounded-score/doc_id key;
    // ks LEFT JOIN keeps a zero-overlap cut visible as n_overlap = 0.
    "q188_pruning_recall" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |c AS (SELECT doc_id, term,
         |             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |             / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl)) AS s
         |        FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats),
         |r AS (SELECT *, row_number() OVER (PARTITION BY term ORDER BY round(s, 4) DESC, doc_id) AS rk
         |        FROM c),
         |base AS (
         |  SELECT doc_id, round(sum(s), 4) AS bm25_full,
         |         round(sum(CASE WHEN rk <= $StaticPruneK THEN s ELSE 0 END), 4) AS bm25_pruned,
         |         max(CASE WHEN rk <= $StaticPruneK THEN 1 ELSE 0 END) = 1 AS in_pruned
         |    FROM r GROUP BY doc_id),
         |ks AS (SELECT unnest([${PruningRecallKs.mkString(",")}]) AS k),
         |fr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25_full DESC, doc_id) AS r FROM base),
         |pr AS (SELECT doc_id, row_number() OVER (ORDER BY bm25_pruned DESC, doc_id) AS r
         |         FROM base WHERE in_pruned),
         |ov AS (SELECT ks.k, fr.doc_id
         |         FROM ks JOIN fr ON fr.r <= ks.k JOIN pr ON pr.doc_id = fr.doc_id AND pr.r <= ks.k)
         |SELECT ks.k, count(ov.doc_id) AS n_overlap,
         |       round(count(ov.doc_id) * 1.0 / ks.k, 4) AS recall_at_k
         |  FROM ks LEFT JOIN ov USING (k) GROUP BY ks.k""".stripMargin,

    // The persisted-index path must produce the SAME relation (the index
    // stores the identical tf/df/dl/stats doubles, parquet-roundtripped
    // losslessly), so it shares q53's oracle — as does the incremental
    // build (globals remerged over all committed segments).
    "q57_bm25_indexed" -> Bm25OracleSql,
    "q58_bm25_incremental" -> Bm25OracleSql,

    // DuckDB list_slice is 1-based inclusive with end clamping ==
    // Spark slice(toks, start, pos+3-start+1); list_position returns 0
    // when absent == Spark array_position (both verified).
    "q59_snippets" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |p AS (SELECT doc_id, tk, list_position(tk, 'spark') AS pos FROM t)
        |SELECT doc_id,
        |       array_to_string(list_slice(tk, greatest(1, pos - 3), pos + 3), ' ') AS snippet
        |  FROM p WHERE pos > 0""".stripMargin,

    // Mirrors hybridSearch leg-for-leg: BM25 over the query doc's
    // distinct tokens (constants interpolated as in q53), cosine via
    // DOUBLE[]-cast list_cosine_similarity (the q35 recipe); each leg
    // ranks on its 4-dp-rounded score (doc_id tiebreak) so float
    // association noise cannot move a rank boundary; RRF terms cast to
    // DOUBLE explicitly (a bare 1.0 is DECIMAL in DuckDB).
    "q63_hybrid_search" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |qt AS (SELECT DISTINCT unnest(t) AS term FROM tk WHERE doc_id = 7),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (SELECT term FROM qt)
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |bm AS (SELECT doc_id,
         |              round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |                    / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))), 4) AS s
         |         FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
         |        WHERE doc_id <> 7 GROUP BY doc_id),
         |bmr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r_bm
         |          FROM (SELECT * FROM bm ORDER BY s DESC, doc_id LIMIT 50)),
         |qv AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 7),
         |cs AS (SELECT vec_id AS doc_id,
         |              round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qe), 4) AS s
         |         FROM embeddings CROSS JOIN qv WHERE vec_id <> 7),
         |csr AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY s DESC, doc_id) AS r_cos
         |          FROM (SELECT * FROM cs ORDER BY s DESC, doc_id LIMIT 50)),
         |f AS (SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
         |             COALESCE(CAST(1 AS DOUBLE) / (60 + r_bm), CAST(0 AS DOUBLE))
         |           + COALESCE(CAST(1 AS DOUBLE) / (60 + r_cos), CAST(0 AS DOUBLE)) AS rrf_raw
         |        FROM bmr b FULL OUTER JOIN csr c ON b.doc_id = c.doc_id)
         |SELECT doc_id, round(rrf_raw, 6) AS rrf
         |  FROM f ORDER BY rrf_raw DESC, doc_id LIMIT 10""".stripMargin,

    // Must/mustNot terms interpolated from BoolMust/BoolMustNot — engine
    // and oracle cannot drift.
    "q64_boolean_search" ->
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents)
         |SELECT doc_id FROM t
         | WHERE ${BoolMust.map(m => s"list_contains(tk, '$m')").mkString(" AND ")}
         |   AND ${BoolMustNot.map(m => s"NOT list_contains(tk, '$m')").mkString(" AND ")}""".stripMargin,

    "q65_search_facets" ->
      """SELECT source, lang, count(*) AS n_docs
        |  FROM documents
        | WHERE list_contains(string_split(text,' '), 'spark')
        | GROUP BY source, lang""".stripMargin,

    // Mirrors trendingTerms clause-for-clause. The burst ratio is ONE
    // double division of exact integers ((df_bucket * n_buckets) * 1.0 /
    // df_total), bit-identical on both sides, so the rank boundary cannot
    // move; ties break term-asc. `//` is DuckDB's integral division =
    // Spark's `div`.
    "q66_trending_terms" ->
      s"""WITH p AS (SELECT doc_id // $TrendBucketWidth AS bucket, doc_id,
         |                  unnest(list_distinct(string_split(text,' '))) AS term
         |             FROM documents),
         |bdf AS (SELECT bucket, term, count(*) AS df_bucket FROM p GROUP BY bucket, term),
         |tot AS (SELECT term, CAST(sum(df_bucket) AS BIGINT) AS df_total FROM bdf GROUP BY term),
         |nb AS (SELECT count(DISTINCT bucket) AS n_buckets FROM bdf),
         |r AS (SELECT bucket, term, df_bucket,
         |             (df_bucket * n_buckets) * 1.0 / df_total AS ratio_raw
         |        FROM bdf JOIN tot USING (term) CROSS JOIN nb
         |       WHERE df_bucket >= 4),
         |w AS (SELECT bucket, term, df_bucket, ratio_raw,
         |             ROW_NUMBER() OVER (PARTITION BY bucket
         |                                ORDER BY ratio_raw DESC, term) AS rank
         |        FROM r)
         |SELECT bucket, term, df_bucket, round(ratio_raw, 4) AS burst_ratio, rank
         |  FROM w WHERE rank <= 5""".stripMargin,

    // Prefix interpolated from SuggestPrefix (starts_with, not LIKE — no
    // pattern-char escaping concerns).
    "q68_prefix_suggest" ->
      s"""WITH p AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS term
         |             FROM documents)
         |SELECT term, count(*) AS df FROM p
         | WHERE starts_with(term, '$SuggestPrefix')
         | GROUP BY term
         | ORDER BY df DESC, term
         | LIMIT 10""".stripMargin,

    // score = tf · ln(N/df): one int×double multiply of one libm log —
    // no sums — and the rank orders on the 4-dp-ROUNDED score, so a
    // sub-ulp libm difference cannot move a rank boundary.
    "q72_tfidf_keywords" ->
      """WITH tfc AS (SELECT doc_id, term, count(*) AS tf
        |               FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term
        |                       FROM documents) AS u
        |              GROUP BY doc_id, term),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY term),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |s AS (SELECT doc_id, term, tf, round(tf * ln(n_docs / df), 4) AS tfidf
        |        FROM tfc JOIN dfc USING (term) CROSS JOIN n),
        |w AS (SELECT doc_id, term, tf, tfidf,
        |             ROW_NUMBER() OVER (PARTITION BY doc_id
        |                                ORDER BY tfidf DESC, term) AS rank
        |        FROM s)
        |SELECT doc_id, term, tf, tfidf, rank FROM w WHERE rank <= 3""".stripMargin,

    // DuckDB's zipped unnests give 1-based positions vs posexplode's
    // 0-based — the offset cancels in |pa - pb|. Shared with q81
    // (index-backed path) — same relation by construction.
    "q73_proximity_search" -> ProximityOracleSql,
    "q81_proximity_indexed" -> ProximityOracleSql,

    // The oracle runs the semantically-defining cross filter
    // (levenshtein ≤ 1 over the whole vocabulary) — the engine's
    // deletion-neighborhood candidates ⊇ this set and its verify filter
    // equals it, so the relations agree by construction.
    "q74_fuzzy_suggest" ->
      s"""WITH v AS (SELECT term, count(*) AS df
         |             FROM (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS term
         |                     FROM documents) AS u
         |            GROUP BY term),
         |qs AS (SELECT unnest([${FuzzyNeedles.map(q => s"'$q'").mkString(",")}]) AS q),
         |c AS (SELECT qs.q, v.term, v.df
         |        FROM qs JOIN v ON levenshtein(qs.q, v.term) <= 1),
         |w AS (SELECT q, term, df,
         |             ROW_NUMBER() OVER (PARTITION BY q ORDER BY df DESC, term) AS rank
         |        FROM c)
         |SELECT q, term, df, rank FROM w WHERE rank <= 10""".stripMargin,

    // Normalized shares are interpolated as Scala-computed doubles (via
    // string→double parse, correctly rounded) so both sides compute the
    // identical caps/quotas; the per-source rank mirrors the engine's
    // GlobalOrder-minus-offset rank (equal given the total sort order).
    "q75_source_mixture" -> {
      val z = MixTargets.map(_._2).sum
      val vals = MixTargets
        .map { case (s, p) => s"('$s', CAST('${p / z}' AS DOUBLE))" }
        .mkString(", ")
      s"""WITH tgt AS (SELECT * FROM (VALUES $vals) AS t(source, p)),
         |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |caps AS (SELECT tgt.source, tgt.p,
         |                CAST(floor(COALESCE(cnt.n, 0) / tgt.p) AS BIGINT) AS cap
         |           FROM tgt LEFT JOIN cnt USING (source)),
         |tmin AS (SELECT min(cap) AS t FROM caps),
         |quotas AS (SELECT source, CAST(floor(tmin.t * p) AS BIGINT) AS quota
         |             FROM caps CROSS JOIN tmin),
         |r AS (SELECT d.source, d.doc_id, q.quota,
         |             ROW_NUMBER() OVER (PARTITION BY d.source
         |               ORDER BY ((d.doc_id * 48271 + 11) % 1000003 + 1000003) % 1000003,
         |                        d.doc_id) AS rnk
         |        FROM documents d JOIN quotas q USING (source))
         |SELECT source, doc_id, rnk FROM r WHERE rnk <= quota""".stripMargin
    },

    // Quotas are COMPUTED IN SCALA (the same floor(p/z*T) the engine
    // runs) and interpolated as integer literals — no fp re-derivation in
    // SQL to drift; pmod mirrored; SUM OVER cast back from HUGEINT.
    "q83_token_budget" -> {
      val z = MixTargets.map(_._2).sum
      val vals = MixTargets
        .map { case (s, p) => s"('$s', ${math.floor(p / z * TokenBudget).toLong})" }
        .mkString(", ")
      s"""WITH quotas AS (SELECT * FROM (VALUES $vals) AS t(source, quota)),
         |toks AS (SELECT d.source, d.doc_id, q.quota,
         |                CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
         |                ((d.doc_id * 48271 + 11) % 1000003 + 1000003) % 1000003 AS hkey
         |           FROM documents d JOIN quotas q USING (source)),
         |summed AS (SELECT source, doc_id, n_tokens, quota,
         |                  CAST(SUM(n_tokens) OVER (PARTITION BY source
         |                    ORDER BY hkey, doc_id
         |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |                    AS BIGINT) AS cum_tokens
         |             FROM toks)
         |SELECT source, doc_id, n_tokens, cum_tokens
         |  FROM summed WHERE cum_tokens - n_tokens < quota""".stripMargin
    },

    // Alert rows interpolated from AlertRows (engine and oracle cannot
    // drift); list_distinct mirrors the engine's array_distinct, the
    // conjunction is the same count == n_terms group, the exclusion a
    // NOT EXISTS over the must_not hit pairs. alert_id CAST to BIGINT so
    // the schemas line up with the Spark Long.
    "q76_alerts" -> AlertsOracleSql,

    // quantile_cont IS the engine's interpolation definition (linear at
    // rank p·(n−1), R type 7 — verified against numpy); 4-dp rounding
    // absorbs the interpolation arithmetic's sub-ulp difference.
    "q77_length_quantiles" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       round(quantile_cont(dl, 0.5), 4) AS p50,
        |       round(quantile_cont(dl, 0.9), 4) AS p90,
        |       round(quantile_cont(dl, 0.99), 4) AS p99
        |  FROM (SELECT source, CAST(len(string_split(text,' ')) AS DOUBLE) AS dl
        |          FROM documents) AS l
        | GROUP BY source""".stripMargin,

    // Bigram construction via generate_series over 1-based positions
    // (range() cannot be lateral in DuckDB 1.0); p is int·1.0/int — the
    // q66 pattern, bit-identical to Spark's double division, so the
    // (n desc, next) rank cut is stable.
    "q78_next_word" ->
      """WITH tk AS (SELECT string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(
        |                list_filter(generate_series(1, len(t)-1), i -> t[i] = 'spark'),
        |                i -> t[i+1])) AS next
        |         FROM tk),
        |c AS (SELECT next, count(*) AS n FROM bg GROUP BY next),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c)
        |SELECT next, CAST(n AS BIGINT) AS n, round(n * 1.0 / tot, 4) AS p
        |  FROM c CROSS JOIN tot ORDER BY n DESC, next LIMIT 10""".stripMargin,

    "q61_sentiment" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |c AS (SELECT doc_id, len(tk) AS n,
        |        len(list_filter(tk, x -> x IN ('fast','big','value'))) AS n_pos,
        |        len(list_filter(tk, x -> x IN ('slow','small','error'))) AS n_neg
        |   FROM t)
        |SELECT doc_id, n_pos, n_neg,
        |       round((n_pos - n_neg) * 1.0 / n, 4) AS polarity,
        |       CASE WHEN n_pos > n_neg THEN 'pos'
        |            WHEN n_neg > n_pos THEN 'neg'
        |            ELSE 'neutral' END AS label
        |  FROM c""".stripMargin,

    "q60_cooccurrence" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |co AS (SELECT doc_id, unnest(list_distinct(tk)) AS term
        |         FROM t WHERE list_contains(tk, 'spark'))
        |SELECT term, count(*) AS n_docs
        |  FROM co WHERE term <> 'spark'
        | GROUP BY term
        | ORDER BY n_docs DESC, term
        | LIMIT 15""".stripMargin,

    // Mirrors unigramLogProb clause-for-clause: per-(doc, tok) counts,
    // vocabulary table, 1-row total; division after both sums (4 dp
    // absorbs the sums' addition-order noise).
    "q55_lm_quality" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k FROM tok GROUP BY doc_id, tok),
        |f AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT sum(c) AS n_total FROM f)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
        |       round(sum(k * ln(c / n_total)) / sum(k), 4) AS mean_logp
        |  FROM dt JOIN f USING (tok) CROSS JOIN tot
        | GROUP BY doc_id""".stripMargin,

    "q87_bigram_lm" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
        |              i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
        |        FROM tk),
        |db AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2,
        |              CAST(count(*) AS DOUBLE) AS k
        |         FROM bg GROUP BY ALL),
        |cb AS (SELECT w1, w2, sum(k) AS c FROM db GROUP BY w1, w2),
        |ctx AS (SELECT w1, sum(c) AS ctx FROM cb GROUP BY w1)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
        |       round(sum(k * ln(c / ctx)) / sum(k), 4) AS mean_logp
        |  FROM db JOIN cb USING (w1, w2) JOIN ctx USING (w1)
        | GROUP BY doc_id""".stripMargin,

    // Phrase interpolated from PhraseNeedle (3 tokens → 3-gram containment).
    // Shared with q80 (index-backed path) — same relation by construction.
    "q56_phrase_search" -> PhraseOracleSql,
    "q80_phrase_indexed" -> PhraseOracleSql,

    // PII injection CTE mirrors piiDocs character-for-character; the regex
    // patterns are interpolated from the SAME Scala vals the engine
    // compiles (written in the Java-regex ∩ RE2 subset — see TextAnalysis).
    "q54_pii_scrub" ->
      s"""WITH p AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 7 = 0 THEN ' mail user' || CAST(doc_id AS VARCHAR) || '@news-example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' src 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' || CAST(doc_id % 250 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
         |  FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS n_email,
         |       len(regexp_extract_all(text, '${TextAnalysis.Ipv4Re}')) AS n_ip,
         |       len(regexp_extract_all(text, '${TextAnalysis.PhoneRe}')) AS n_phone,
         |       regexp_replace(regexp_replace(regexp_replace(text,
         |         '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |         '${TextAnalysis.Ipv4Re}', '<IP>', 'g'),
         |         '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS clean_text
         |  FROM p""".stripMargin,

    "q49_top_tokens" ->
      """WITH c AS (SELECT lang, unnest(string_split(text,' ')) AS token FROM documents),
        |g AS (SELECT lang, token, count(*) AS cnt FROM c GROUP BY lang, token),
        |r AS (SELECT lang, token, cnt,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY cnt DESC, token ASC) AS rank
        |        FROM g)
        |SELECT lang, token, cnt, rank FROM r WHERE rank <= 10""".stripMargin,

    // The composed pipeline, clause by clause: each gate is defined over
    // the FULL documents set (pure intersection), mirroring Corpus.curate.
    "q50_curate" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |pairs AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b AS src, a AS dst FROM pairs),
        |cc AS (SELECT src AS node, src AS root FROM edges
        |       UNION
        |       SELECT e.dst AS node, cc.root FROM cc JOIN edges e ON cc.node = e.src),
        |losers AS (SELECT node AS doc_id FROM (SELECT node, min(root) AS rep FROM cc GROUP BY node) AS lab
        |            WHERE node <> rep),
        |shp AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |ev AS (SELECT DISTINCT g FROM shp WHERE doc_id % 37 = 0),
        |contaminated AS (SELECT DISTINCT shp.doc_id FROM shp JOIN ev USING (g)
        |                  WHERE doc_id % 37 <> 0)
        |SELECT d.doc_id, d.lang, len(string_split(d.text,' ')) AS n_tokens
        |  FROM documents d
        | WHERE d.doc_id % 37 <> 0
        |   AND len(string_split(d.text,' ')) >= 30
        |   AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
        |   AND d.doc_id NOT IN (SELECT doc_id FROM losers)
        |   AND (((d.doc_id * 48271 + 11) % 1000) + 1000) % 1000 < 500""".stripMargin,

    // Paragraphization mirrors paraDocs clause-for-clause (12-token
    // chunks + the two injected footers); keep-first = ROW_NUMBER over
    // (doc_id, position) per paragraph STRING — the engine keys the same
    // rule on xxhash64(para), equal absent 64-bit collisions (the q85
    // trade). string_agg(… ORDER BY pos) rebuilds in position order ==
    // the engine's array_sort((idx, para)) reassembly; chr(10) is the
    // engine's '\n' joiner.
    "q91_paragraph_dedup" ->
      s"""WITH base AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
         |pr AS (SELECT doc_id, list_concat(list_concat(
         |         list_transform(generate_series(0, (len(tk)-1)//$ParaChunk),
         |           i -> array_to_string(list_slice(tk, i*$ParaChunk+1, i*$ParaChunk+$ParaChunk), ' ')),
         |         CASE WHEN doc_id % 6 = 0 THEN ['$BoilerplatePara'] ELSE []::VARCHAR[] END),
         |         CASE WHEN doc_id % 4 = 1 THEN ['follow ' || source || ' for breaking news'] ELSE []::VARCHAR[] END) AS paras
         |       FROM base),
         |px AS (SELECT doc_id, unnest(paras) AS para,
         |              unnest(generate_series(1, len(paras))) AS pos
         |         FROM pr),
         |k AS (SELECT doc_id, pos, para,
         |             ROW_NUMBER() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
         |        FROM px),
         |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         |               string_agg(para, chr(10) ORDER BY pos) AS text_dedup
         |          FROM k WHERE rn = 1 GROUP BY doc_id)
         |SELECT p.doc_id, CAST(len(paras) AS BIGINT) AS n_paras,
         |       COALESCE(n_kept, 0) AS n_kept,
         |       COALESCE(text_dedup, '') AS text_dedup
         |  FROM pr p LEFT JOIN reb USING (doc_id)""".stripMargin,

    // cum_frac is CAST(cum AS DOUBLE)/total — one division of exact
    // integers, bit-identical to the engine's long/double (the q66
    // discipline); SUM OVER returns HUGEINT, cast back.
    "q92_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(string_split(text,' ')) AS token FROM documents),
        |v AS (SELECT token, count(*) AS tf FROM tok GROUP BY token),
        |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM v),
        |r AS (SELECT token, CAST(tf AS BIGINT) AS tf,
        |             ROW_NUMBER() OVER (ORDER BY tf DESC, token) AS rank,
        |             CAST(SUM(tf) OVER (ORDER BY tf DESC, token
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf
        |        FROM v)
        |SELECT rank, token, tf, round(CAST(cum_tf AS DOUBLE) / total, 4) AS cum_frac
        |  FROM r CROSS JOIN tot WHERE rank <= 100""".stripMargin,

    // The incoming-batch CTE mirrors the q93 entry's deterministic
    // transform; dedup compares TEXT where the engine compares
    // xxhash64(text) — the q85 trade.
    "q93_incremental_dedup" ->
      """WITH inc AS (SELECT doc_id + 100000 AS doc_id,
        |         CASE WHEN doc_id % 4 = 0 THEN text
        |              WHEN doc_id % 8 = 1 THEN 'breaking wire item ' || CAST((doc_id-1)//16 AS VARCHAR)
        |              ELSE text || ' fresh angle' END AS text,
        |         lang, source
        |    FROM documents),
        |fresh AS (SELECT * FROM inc
        |           WHERE NOT EXISTS (SELECT 1 FROM documents e WHERE e.text = inc.text)),
        |k AS (SELECT text, min(doc_id) AS doc_id FROM fresh GROUP BY text)
        |SELECT f.doc_id, f.lang, f.source
        |  FROM fresh f JOIN k ON f.text = k.text AND f.doc_id = k.doc_id""".stripMargin,

    // k=3 / w=4 mirror the q94 entry literals. list_slice end-clamps
    // (the q59-verified behavior) == Spark slice truncation; DuckDB
    // VARCHAR min and Spark's array_min both compare bytewise, so the
    // selected gram is identical; generate_series(1, 0) is empty and
    // the greatest(…, 1) single-window case mirrors the engine's
    // short-doc branch.
    "q94_winnow" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |g AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(tk)-2, 0)),
        |              i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) AS grams
        |        FROM t),
        |w AS (SELECT doc_id, list_distinct(list_transform(
        |              generate_series(1, greatest(len(grams)-3, 1)),
        |              j -> list_aggregate(list_slice(grams, j, j+3), 'min'))) AS fps
        |        FROM g WHERE len(grams) >= 1)
        |SELECT doc_id, unnest(fps) AS fingerprint FROM w""".stripMargin,

    // Same LCG as Corpus.exactStratifiedSample, pmod spelled sign-safe.
    "q98_sample_exact_k" ->
      """SELECT source, doc_id, lang, rnk FROM (
        |  SELECT source, doc_id, lang,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY (((doc_id * 48271 + 11) % 1000003) + 1000003) % 1000003,
        |                    doc_id) AS rnk
        |    FROM documents) t
        | WHERE rnk <= 8""".stripMargin,

    // q46's recursive-CTE components + quality attach + per-cluster argmax
    // (row_number mirrors max_by over the (n_tokens, -doc_id) struct).
    "q99_dedup_keep_best" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |pairs AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION SELECT b AS src, a AS dst FROM pairs),
        |cc AS (SELECT src AS node, src AS root FROM edges
        |       UNION
        |       SELECT e.dst AS node, cc.root FROM cc JOIN edges e ON cc.node = e.src),
        |lab AS (SELECT node AS doc_id, min(root) AS rep FROM cc GROUP BY node),
        |nt AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |         FROM documents),
        |l2 AS (SELECT lab.doc_id AS doc_id, rep,
        |              count(*) OVER (PARTITION BY rep) AS cluster_size, n_tokens
        |         FROM lab JOIN nt USING (doc_id)),
        |k AS (SELECT rep, doc_id AS keeper FROM (
        |        SELECT rep, doc_id,
        |               row_number() OVER (PARTITION BY rep
        |                 ORDER BY n_tokens DESC, doc_id ASC) AS rn
        |          FROM l2) AS r WHERE rn = 1)
        |SELECT l2.doc_id, l2.rep, cluster_size, n_tokens, keeper,
        |       l2.doc_id = keeper AS is_keeper
        |  FROM l2 JOIN k USING (rep)""".stripMargin,

    // q47's join skeleton + the zero-overlap mass re-attached; the ratio
    // divides the same two ints on both sides.
    "q100_contamination_share" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk)-2),
        |         i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS s
        |  FROM t),
        |sh AS (SELECT doc_id, unnest(s) AS s FROM g),
        |ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % 37 = 0),
        |ov AS (SELECT c.doc_id, count(*) AS n_overlap
        |         FROM (SELECT doc_id, s FROM sh WHERE doc_id % 37 <> 0) AS c
        |         JOIN ev USING (s)
        |        GROUP BY c.doc_id)
        |SELECT g.doc_id, CAST(len(g.s) AS BIGINT) AS n_grams,
        |       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
        |       round(CASE WHEN len(g.s) >= 1
        |                  THEN coalesce(n_overlap, 0) * 1.0 / len(g.s)
        |                  ELSE 0.0 END, 4) AS contamination
        |  FROM g LEFT JOIN ov USING (doc_id)
        | WHERE g.doc_id % 37 <> 0""".stripMargin,

    // q33's pair relation rolled up to the host (source) pair grain.
    "q101_syndication" ->
      """WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |pairs AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5),
        |d AS (SELECT doc_id, source FROM documents)
        |SELECT least(da.source, db.source) AS host_a,
        |       greatest(da.source, db.source) AS host_b,
        |       count(*) AS n_shared
        |  FROM pairs
        |  JOIN d da ON da.doc_id = pairs.a
        |  JOIN d db ON db.doc_id = pairs.b
        | WHERE da.source <> db.source
        | GROUP BY 1, 2""".stripMargin,

    // q101's pair relation as edges, then the q46 recursive-CC shape over
    // host-string nodes; the rep is min(host) in both (string min).
    "q184_mirror_clusters" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
        |sh AS (SELECT doc_id, lang,
        |         list_distinct(list_transform(generate_series(1, len(t)-2),
        |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
        |  FROM toks),
        |pairs AS (SELECT a, b FROM (
        |  SELECT a.doc_id AS a, b.doc_id AS b,
        |         round(len(list_intersect(a.s, b.s)) * 1.0
        |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
        | WHERE jaccard >= 0.5),
        |d AS (SELECT doc_id, source FROM documents),
        |hp AS (SELECT DISTINCT least(da.source, db.source) AS host_a,
        |              greatest(da.source, db.source) AS host_b
        |         FROM pairs
        |         JOIN d da ON da.doc_id = pairs.a
        |         JOIN d db ON db.doc_id = pairs.b
        |        WHERE da.source <> db.source),
        |edges AS (SELECT host_a AS src, host_b AS dst FROM hp
        |          UNION SELECT host_b AS src, host_a AS dst FROM hp),
        |cc AS (SELECT src AS node, src AS root FROM edges
        |       UNION
        |       SELECT e.dst AS node, cc.root FROM cc JOIN edges e ON cc.node = e.src),
        |lab AS (SELECT node AS host, min(root) AS mirror_group FROM cc GROUP BY node)
        |SELECT host, mirror_group,
        |       count(*) OVER (PARTITION BY mirror_group) AS group_size
        |  FROM lab""".stripMargin,

    // Gate constants interpolated from the same Scala vals the entry uses.
    "q102_host_quality" ->
      s"""WITH t AS (SELECT source, len(string_split(text,' ')) AS n FROM documents),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(count(*) FILTER (n < $HostQualityMinTokens) AS BIGINT) AS n_bad
         |        FROM t GROUP BY source)
         |SELECT source, n_docs, n_bad,
         |       round(n_bad * 1.0 / n_docs, 4) AS bad_frac,
         |       n_bad * 1.0 / n_docs > $HostQualityMaxBadFrac AS blocked
         |  FROM a""".stripMargin,

    // After delete+compact the index holds exactly the surviving corpus.
    "q103_index_delete" ->
      bm25OracleSqlOver(s"WHERE source <> '$DeletedHost'"),

    // DuckDB's // is the same floor-integral division as Spark's div for
    // the non-negative domain here; the LCG order mirrors sequencePack.
    "q110_sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |        (((doc_id * 48271 + 11) % 1000003) + 1000003) % 1000003 AS hkey
        |   FROM documents),
        |s AS (SELECT doc_id, n_tokens,
        |        CAST(sum(n_tokens) OVER (ORDER BY hkey, doc_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |             - n_tokens AS BIGINT) AS cum_before
        |   FROM t)
        |SELECT doc_id, n_tokens, cum_before,
        |       CAST(cum_before // 256 AS BIGINT) AS pack_id
        |  FROM s""".stripMargin,

    // q55's score CTE + a global rank ON THE ROUNDED SCORE (doc_id ties).
    "q111_curriculum" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k FROM tok GROUP BY doc_id, tok),
        |f AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT sum(c) AS n_total FROM f),
        |sc AS (SELECT doc_id,
        |         round(sum(k * ln(c / n_total)) / sum(k), 4) AS mean_logp
        |    FROM dt JOIN f USING (tok) CROSS JOIN tot
        |   GROUP BY doc_id)
        |SELECT doc_id, mean_logp,
        |       CAST(row_number() OVER (ORDER BY mean_logp DESC, doc_id) AS BIGINT)
        |         AS curriculum_rank
        |  FROM sc""".stripMargin,

    // The q53 CTE with the UNROUNDED sum, then the decay multiply mirrored
    // operand-for-operand (integer-second age / 86400.0 / half-life).
    "q109_fresh_bm25" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |raw AS (SELECT doc_id,
         |       sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |           / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))) AS bm25_raw
         |  FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
         | GROUP BY doc_id)
         |SELECT doc_id,
         |       round(bm25_raw * pow(0.5,
         |             greatest(0, (${graft.core.Constants.NowEpochSec} -
         |               epoch(TIMESTAMP '2024-01-01 00:00:00' + to_minutes(doc_id)))
         |              / 86400.0) / 7.0), 4) AS fresh_bm25
         |  FROM raw""".stripMargin,

    "q106_datasheet" ->
      """WITH per AS (SELECT lang, source,
        |              CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
        |         FROM documents),
        |by_lang AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |  FROM per GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS corpus_tokens FROM per)
        |SELECT lang, n_docs, n_sources, total_tokens, min_tokens, max_tokens,
        |       round(total_tokens * 1.0 / n_docs, 4) AS mean_tokens,
        |       round(total_tokens / corpus_tokens, 4) AS token_share
        |  FROM by_lang CROSS JOIN tot""".stripMargin,

    // The footer injection mirrors boilerplateDocs character-for-character.
    "q107_boilerplate" ->
      """WITH d AS (SELECT doc_id, source,
        |       text || CASE WHEN doc_id % 4 <> 0
        |                    THEN ' subscribe to ' || source || ' newsletter updates today'
        |                    ELSE '' END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM d),
        |sh AS (SELECT doc_id, source,
        |         unnest(list_distinct(list_transform(generate_series(1, len(tk)-2),
        |                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS shingle
        |  FROM t),
        |c AS (SELECT source, shingle, CAST(count(*) AS BIGINT) AS n_docs_with
        |        FROM sh GROUP BY 1, 2),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |        FROM documents GROUP BY 1)
        |SELECT c.source, shingle, n_docs_with, n_docs,
        |       round(n_docs_with * 1.0 / n_docs, 4) AS doc_frac
        |  FROM c JOIN n USING (source)
        | WHERE n_docs_with * 1.0 / n_docs >= 0.5""".stripMargin,

    // Mirrors importanceWeights clause-for-clause: one conditional-sum
    // vocabulary table trains both models, |V| and the totals ride a
    // 1-row cross join, and every smoothed ratio is built from exact
    // integer-valued doubles so ln((c+1)/(N+V)) is bit-identical; only
    // the final sums' addition order differs (4 dp absorbs it).
    "q112_dsir_weights" ->
      """WITH tok AS (SELECT doc_id, lang = 'en' AS is_t,
        |             unnest(string_split(text,' ')) AS tok FROM documents),
        |c AS (SELECT tok,
        |        CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS ct,
        |        CAST(sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS DOUBLE) AS cr
        |      FROM tok GROUP BY tok),
        |vt AS (SELECT CAST(count(*) AS DOUBLE) AS v,
        |              sum(ct) AS nt, sum(cr) AS nr FROM c),
        |m AS (SELECT tok, ln((ct + 1.0) / (nt + v)) - ln((cr + 1.0) / (nr + v)) AS lr
        |        FROM c CROSS JOIN vt),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k
        |         FROM tok WHERE NOT is_t GROUP BY doc_id, tok)
        |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
        |       round(sum(k * lr) / sum(k), 4) AS dsir_weight
        |  FROM dt JOIN m USING (tok) GROUP BY doc_id""".stripMargin,

    // Blocklist + lexicon share, verdict precedence mirrored; the share
    // is the same exact int/int double on both sides.
    "q113_policy_gate" ->
      """WITH t AS (SELECT doc_id, source, string_split(text,' ') AS tk FROM documents),
        |c AS (SELECT doc_id, source, len(tk) AS n_tokens,
        |        len(list_filter(tk, x -> x IN ('error','slow'))) AS n_banned FROM t)
        |SELECT doc_id, source, n_banned, n_tokens,
        |       round(n_banned * 1.0 / n_tokens, 4) AS banned_frac,
        |       CASE WHEN source IN ('src13','src4') THEN 'blocked_source'
        |            WHEN n_banned * 1.0 / n_tokens > 0.12 THEN 'blocked_lexicon'
        |            ELSE 'kept' END AS verdict
        |  FROM c""".stripMargin,

    // Start offsets = generate_series(0, len-1, stride); DuckDB list
    // slicing is 1-based inclusive with end clamping, matching Spark
    // slice(tk, st+1, window).
    "q115_chunk_windows" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |s AS (SELECT doc_id, tk,
        |        unnest(generate_series(0, len(tk)-1, 10)) AS st FROM t)
        |SELECT doc_id, CAST(st // 10 AS BIGINT) AS chunk_id,
        |       CAST(least(len(tk) - st, 20) AS INT) AS n_tokens,
        |       array_to_string(tk[st+1 : st+20], ' ') AS chunk_text
        |  FROM s""".stripMargin,

    // All-pairs cross-side truth at the corpus-doc grain (valid because
    // banding recall is exhaustively 1.0 — the q31 precedent, extended to
    // the cross join by signature purity; pinned in MlSpec). Per-pair
    // jaccard is rounded BEFORE max on both sides.
    "q117_fuzzy_decontam" ->
      """WITH toks AS (SELECT doc_id, doc_id % 25 = 0 AS is_e,
        |              list_sort(list_distinct(string_split(text,' '))) AS ts
        |         FROM documents),
        |p AS (SELECT c.doc_id,
        |             round(len(list_intersect(c.ts, e.ts)) * 1.0
        |                   / len(list_distinct(list_concat(c.ts, e.ts))), 4) AS j
        |        FROM toks c JOIN toks e ON NOT c.is_e AND e.is_e)
        |SELECT doc_id, count(*) AS n_eval_matches, max(j) AS max_jaccard
        |  FROM p WHERE j >= 0.95 GROUP BY doc_id""".stripMargin,

    // q55's scoring CTEs + quantile_cont tercile cuts (the q77/q96
    // percentile precedent); fractions interpolated from the same Scala
    // doubles; strict > mirrored. Scores are 4-dp multiples, so sub-ulp
    // interpolation drift cannot flip a doc across a cut.
    "q118_quality_buckets" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
         |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k FROM tok GROUP BY doc_id, tok),
         |f AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY tok),
         |tot AS (SELECT sum(c) AS n_total FROM f),
         |sc AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
         |              round(sum(k * ln(c / n_total)) / sum(k), 4) AS mean_logp
         |         FROM dt JOIN f USING (tok) CROSS JOIN tot GROUP BY doc_id),
         |cu AS (SELECT quantile_cont(mean_logp, ${1.0 / 3}) AS c1,
         |              quantile_cont(mean_logp, ${2.0 / 3}) AS c2 FROM sc)
         |SELECT doc_id, n_tokens, mean_logp,
         |       CASE WHEN mean_logp > c2 THEN 'head'
         |            WHEN mean_logp > c1 THEN 'middle'
         |            ELSE 'tail' END AS bucket
         |  FROM sc CROSS JOIN cu""".stripMargin,

    // Positional 8-grams with 1-based list indexing shifted to the
    // engine's 0-based pos; canonical first occurrence via row_number
    // over (doc_id, pos) — the engine's min-struct agg on the same key
    // (string grams here vs the engine's xxhash64 keys: equal absent
    // 64-bit collisions, the q85 trade). Interval merge is textbook
    // gaps-and-islands: prev running-max end, new island when the next
    // start clears it by more than 1.
    "q119_substring_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS tk FROM documents),
        |g AS (SELECT doc_id, i-1 AS pos,
        |        tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' ||
        |        tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS gram
        |   FROM t, unnest(generate_series(1, len(tk)-7)) AS u(i)),
        |s AS (SELECT doc_id, pos,
        |        count(*) OVER (PARTITION BY gram) AS n,
        |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |      FROM g),
        |d AS (SELECT doc_id, pos FROM s WHERE n > 1 AND rn > 1),
        |i AS (SELECT doc_id, pos AS st, pos + 7 AS en,
        |        max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |      FROM d),
        |isl AS (SELECT doc_id, st, en,
        |        sum(CASE WHEN prev_max IS NULL OR st > prev_max + 1 THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY doc_id ORDER BY st ROWS UNBOUNDED PRECEDING) AS island
        |      FROM i)
        |SELECT doc_id, CAST(min(st) AS BIGINT) AS span_start,
        |       CAST(max(en) AS BIGINT) AS span_end,
        |       CAST(max(en) - min(st) + 1 AS BIGINT) AS span_len
        |  FROM isl GROUP BY doc_id, island""".stripMargin,

    // H = ln(n) - sum(k ln k)/n: every ln argument is an exact
    // integer-valued double on both sides (the q55 discipline);
    // round(…,4) on the final doubles.
    "q120_token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
        |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k FROM tok GROUP BY doc_id, tok),
        |a AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
        |             CAST(count(*) AS BIGINT) AS n_uniq,
        |             ln(sum(k)) - sum(k * ln(k)) / sum(k) AS h
        |        FROM dt GROUP BY doc_id)
        |SELECT doc_id, n_tokens, n_uniq, round(h, 4) AS entropy,
        |       round(CASE WHEN n_uniq > 1 THEN h / ln(CAST(n_uniq AS DOUBLE))
        |                  ELSE 0.0 END, 4) AS norm_entropy
        |  FROM a""".stripMargin,

    // Variant synthesis mirrored from the query entry; normalization fold
    // spelled with the same regexes (RE2 'g' flag == Spark's replace-all
    // default). Keeper/group via window on the normalized key — the
    // engine's two-phase hash plan equals it absent xxhash64 collisions.
    "q121_normalized_dedup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
        |           UNION ALL
        |           SELECT doc_id + 100000, upper(text) || ' !!'
        |             FROM documents WHERE doc_id % 3 = 0),
        |n AS (SELECT doc_id,
        |        trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |             ' +', ' ', 'g')) AS norm
        |  FROM u),
        |g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY norm) AS keeper_id,
        |             count(*) OVER (PARTITION BY norm) AS group_size
        |        FROM n)
        |SELECT doc_id, keeper_id, CAST(group_size AS BIGINT) AS group_size,
        |       doc_id <> keeper_id AS is_dup
        |  FROM g""".stripMargin,

    // One UNION ALL branch per width (DuckDB has no stack); the engine's
    // hash-keyed distinct equals the string distinct absent xxhash64
    // collisions (q85 trade). distinct_frac is one division of exact
    // integers (the q66 discipline).
    "q123_distinct_n" ->
      """WITH t AS (SELECT lang, string_split(text,' ') AS tk FROM documents),
        |g AS (SELECT lang, 1 AS n, unnest(tk) AS g FROM t
        |      UNION ALL
        |      SELECT lang, 2, unnest(list_transform(generate_series(1, len(tk)-1),
        |             i -> tk[i] || ' ' || tk[i+1])) FROM t
        |      UNION ALL
        |      SELECT lang, 3, unnest(list_transform(generate_series(1, len(tk)-2),
        |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) FROM t)
        |SELECT lang, n, CAST(count(*) AS BIGINT) AS n_grams,
        |       CAST(count(DISTINCT g) AS BIGINT) AS n_uniq,
        |       round(count(DISTINCT g) * 1.0 / count(*), 4) AS distinct_frac
        |  FROM g GROUP BY lang, n""".stripMargin,

    // Rank ties broken by token asc on both sides; every ln argument is
    // an exact integer-valued double (q55 discipline); the closed-form
    // OLS slope is spelled operand-for-operand; round(…,4) absorbs sum
    // order.
    "q124_zipf_slope" ->
      """WITH tok AS (SELECT lang, unnest(string_split(text,' ')) AS tok FROM documents),
        |tf AS (SELECT lang, tok, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
        |r AS (SELECT lang, tf,
        |             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tf DESC, tok) AS rank
        |        FROM tf),
        |k AS (SELECT lang, ln(CAST(rank AS DOUBLE)) AS x, ln(tf) AS y
        |        FROM r WHERE rank <= 100)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_ranks,
        |       round((count(*) * sum(x*y) - sum(x) * sum(y)) /
        |             (count(*) * sum(x*x) - sum(x) * sum(x)), 4) AS zipf_slope
        |  FROM k GROUP BY lang""".stripMargin,

    // VByte ladder spelled threshold-for-threshold (1-based DuckDB list
    // indexing; first gap = ids[1] + 1 — the engine's i = 0 branch);
    // every quantity is an exact integer, ratio = int/int round 4.
    "q199_postings_vbyte" -> {
      val ladder = (1 to 8).map(k =>
        s"WHEN v < ${1L << (7 * k)} THEN ${k}").mkString(" ")
      s"""WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS term
         |             FROM documents),
         |p AS (SELECT term, list_sort(list(doc_id)) AS ids FROM tk GROUP BY term),
         |f AS (SELECT term, ids, len(ids) AS df FROM p WHERE len(ids) >= 5),
         |g AS (SELECT term, df,
         |             list_transform(generate_series(1, df),
         |               i -> CASE WHEN i = 1 THEN ids[1] + 1
         |                         ELSE ids[i] - ids[i-1] END) AS gaps
         |        FROM f)
         |SELECT term, CAST(df AS BIGINT) AS df,
         |       CAST(df * 8 AS BIGINT) AS raw_bytes,
         |       CAST(list_sum(list_transform(gaps,
         |              v -> CASE $ladder ELSE 9 END)) AS BIGINT) AS vbyte_bytes,
         |       round(CAST(list_sum(list_transform(gaps,
         |               v -> CASE $ladder ELSE 9 END)) AS DOUBLE)
         |             / (df * 8), 4) AS ratio
         |  FROM g""".stripMargin
    },

    // bigram/unigram CTEs follow q87; the PMI expression mirrors the
    // engine operand-for-operand ((c12/B)/((c1/T)·(c2/T))); ORDER BY on
    // the ROUNDED pmi with the (w1, w2) tie-break makes the top-50 cut
    // total-order deterministic on both sides.
    "q200_pmi_collocations" ->
      """WITH tk AS (SELECT string_split(text,' ') AS t FROM documents),
        |uc AS (SELECT w, count(*) AS c FROM
        |         (SELECT unnest(t) AS w FROM tk) GROUP BY w),
        |bc AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM
        |         (SELECT unnest(list_transform(generate_series(1, len(t)-1),
        |                  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
        |            FROM tk)
        |        GROUP BY 1, 2 HAVING count(*) >= 5),
        |tt AS (SELECT CAST(sum(c) AS DOUBLE) AS tt FROM uc),
        |bb AS (SELECT CAST(sum(greatest(len(t)-1, 0)) AS DOUBLE) AS bb FROM tk)
        |SELECT w1, w2, c12, c1, c2,
        |       round(ln((CAST(c12 AS DOUBLE) / bb) /
        |                ((CAST(c1 AS DOUBLE) / tt) * (CAST(c2 AS DOUBLE) / tt))), 4)
        |         AS pmi
        |  FROM (SELECT bc.w1, bc.w2, bc.c12, u1.c AS c1, u2.c AS c2
        |          FROM bc JOIN uc u1 ON u1.w = bc.w1
        |          JOIN uc u2 ON u2.w = bc.w2) j
        |  CROSS JOIN tt CROSS JOIN bb
        | ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,

    // prefix sums via one ordered window (the oracle may — single
    // engine); the OLS slope/intercept formulas mirror heapsFit
    // operand-for-operand, round(…,4) absorbing sum order (q124
    // discipline).
    "q201_heaps_fit" ->
      """WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |fd AS (SELECT tok, min(doc_id) AS doc_id FROM
        |         (SELECT doc_id, unnest(t) AS tok FROM tk) GROUP BY tok),
        |nn AS (SELECT doc_id, count(*) AS n_new FROM fd GROUP BY doc_id),
        |pd AS (SELECT tk.doc_id, len(t) AS n_tok, COALESCE(nn.n_new, 0) AS n_new
        |         FROM tk LEFT JOIN nn ON nn.doc_id = tk.doc_id),
        |c AS (SELECT ln(CAST(sum(n_tok) OVER w AS DOUBLE)) AS x,
        |             ln(CAST(sum(n_new) OVER w AS DOUBLE)) AS y
        |        FROM pd
        |        WINDOW w AS (ORDER BY doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT CAST(count(*) AS BIGINT) AS n_points,
        |       round((count(*) * sum(x*y) - sum(x) * sum(y)) /
        |             (count(*) * sum(x*x) - sum(x) * sum(x)), 4) AS beta,
        |       round(exp((sum(y) - ((count(*) * sum(x*y) - sum(x) * sum(y)) /
        |                            (count(*) * sum(x*x) - sum(x) * sum(x)))
        |                           * sum(x)) / count(*)), 4) AS k
        |  FROM c""".stripMargin,

    // the q143/q196 unrolled-round template with doc_id joined into
    // every key; damping literals interpolated from the SAME Scala
    // doubles the engine compiles, final 6-dp round + per-doc rank.
    "q203_textrank" -> {
      val oneMinusD = s"CAST(${1.0 - 0.85} AS DOUBLE)"
      val d = s"CAST(${0.85} AS DOUBLE)"
      def rnd(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT n.doc_id, n.term,
           |         $oneMinusD + $d * COALESCE(c.m, CAST(0 AS DOUBLE)) AS score
           |    FROM nodes n
           |    LEFT JOIN (SELECT e.doc_id, e.dst AS term, sum(p.score / od.outd) AS m
           |                 FROM e0 e
           |                 JOIN od ON od.doc_id = e.doc_id AND od.src = e.src
           |                 JOIN $prev p ON p.doc_id = e.doc_id AND p.term = e.src
           |                GROUP BY 1, 2) c
           |      ON c.doc_id = n.doc_id AND c.term = n.term)""".stripMargin
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |                i -> struct_pack(a := t[i], b := t[i+1]))) AS s
         |         FROM tk),
         |e0 AS (SELECT DISTINCT doc_id, s.a AS src, s.b AS dst FROM bg WHERE s.a <> s.b
         |       UNION
         |       SELECT DISTINCT doc_id, s.b AS src, s.a AS dst FROM bg WHERE s.a <> s.b),
         |od AS (SELECT doc_id, src, CAST(count(*) AS DOUBLE) AS outd
         |         FROM e0 GROUP BY 1, 2),
         |nodes AS (SELECT DISTINCT doc_id, src AS term FROM e0),
         |r0 AS (SELECT doc_id, term, CAST(1.0 AS DOUBLE) AS score FROM nodes),
         |${rnd("r0", "r1")},
         |${rnd("r1", "r2")},
         |${rnd("r2", "r3")}
         |SELECT doc_id, term, score, rk FROM (
         |  SELECT doc_id, term, round(score, 6) AS score,
         |         ROW_NUMBER() OVER (PARTITION BY doc_id
         |                            ORDER BY round(score, 6) DESC, term) AS rk
         |    FROM r3)
         | WHERE rk <= 5""".stripMargin
    },

    // q87's CTE chain widened by the three KN model tables (context /
    // continuation / type counts); the smoothed probability is mirrored
    // operand-for-operand with the discount interpolated from the SAME
    // Scala double the engine compiles.
    "q204_kn_bigram" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |                i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
         |         FROM tk),
         |db AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2,
         |              CAST(count(*) AS DOUBLE) AS k
         |         FROM bg GROUP BY ALL),
         |cb AS (SELECT w1, w2, sum(k) AS c12 FROM db GROUP BY w1, w2),
         |ctx AS (SELECT w1, sum(c12) AS ctx, CAST(count(*) AS DOUBLE) AS nf
         |          FROM cb GROUP BY w1),
         |cont AS (SELECT w2, CAST(count(*) AS DOUBLE) AS nb FROM cb GROUP BY w2),
         |ty AS (SELECT CAST(count(*) AS DOUBLE) AS nt FROM cb)
         |SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_bigrams,
         |       round(sum(k * ln((greatest(c12 - $KnDiscount, 0.0)
         |                         + $KnDiscount * nf * (nb / nt)) / ctx))
         |             / sum(k), 4) AS mean_logp_kn
         |  FROM db JOIN cb USING (w1, w2) JOIN ctx USING (w1)
         |  JOIN cont USING (w2) CROSS JOIN ty
         | GROUP BY doc_id""".stripMargin,

    // bipartite encoding + the q46 recursive-reachability CC + the
    // closed-form component/in-degree ratios — every operand an exact
    // integer until the final 6-dp product.
    "q207_salsa" ->
      s"""${LinkEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |bip AS (SELECT src * 2 AS a, dst * 2 + 1 AS b FROM e),
         |be AS (SELECT a AS s, b AS d FROM bip UNION SELECT b, a FROM bip),
         |cc AS (SELECT s AS node, s AS root FROM be
         |       UNION
         |       SELECT e2.d, cc.root FROM cc JOIN be e2 ON cc.node = e2.s),
         |lab AS (SELECT node, min(root) AS rep FROM cc GROUP BY node),
         |din AS (SELECT dst, count(*) AS din FROM e GROUP BY dst),
         |auth AS (SELECT d.dst, d.din, l.rep
         |           FROM din d JOIN lab l ON l.node = d.dst * 2 + 1),
         |comp AS (SELECT rep, sum(din) AS comp_din, count(*) AS comp_auth
         |           FROM auth GROUP BY rep),
         |tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_auth FROM auth)
         |SELECT a.dst AS doc_id, a.rep AS component,
         |       CAST(a.din AS BIGINT) AS d_in,
         |       round((CAST(c.comp_auth AS DOUBLE) / t.n_auth)
         |             * (CAST(a.din AS DOUBLE) / CAST(c.comp_din AS DOUBLE)), 6)
         |         AS salsa_auth
         |  FROM auth a JOIN comp c USING (rep) CROSS JOIN tot t""".stripMargin,

    // mirrors triangleStats stage-for-stage: symmetrize→degree→orient by
    // (deg, id)→wedge at the apex→close via EXISTS→credit all three
    // corners; clustering is one double division of exact integers.
    "q210_triangles" ->
      s"""$LinkEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM
         |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY node),
         |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |                  THEN u.a ELSE u.b END AS u,
         |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |                  THEN u.b ELSE u.a END AS v
         |        FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
         |od AS (SELECT o.u, o.v, d.deg AS deg_v FROM o JOIN deg d ON d.node = o.v),
         |wdg AS (SELECT x.u AS u, x.v AS v, y.v AS w
         |          FROM od x JOIN od y ON x.u = y.u
         |         WHERE x.deg_v < y.deg_v OR (x.deg_v = y.deg_v AND x.v < y.v)),
         |t AS (SELECT u, v, w FROM wdg
         |       WHERE EXISTS (SELECT 1 FROM o WHERE o.u = wdg.v AND o.v = wdg.w)),
         |pn AS (SELECT node, count(*) AS n_tri FROM
         |         (SELECT u AS node FROM t
         |          UNION ALL SELECT v FROM t UNION ALL SELECT w FROM t)
         |       GROUP BY node)
         |SELECT deg.node AS doc_id, CAST(deg.deg AS BIGINT) AS degree,
         |       CAST(COALESCE(pn.n_tri, 0) AS BIGINT) AS n_tri,
         |       CASE WHEN deg.deg >= 2
         |            THEN round(CAST(2 * COALESCE(pn.n_tri, 0) AS DOUBLE)
         |                       / CAST(deg.deg * (deg.deg - 1) AS DOUBLE), 6)
         |            ELSE CAST(0 AS DOUBLE) END AS clustering
         |  FROM deg LEFT JOIN pn USING (node)""".stripMargin,

    // assortativity from integer moment sums (n = 2m both-direction
    // estimator); the power-law slopes re-run heapsFit's OLS frame on
    // the directed degree histograms (4-dp absorb).
    "q211_degree_mix" ->
      s"""$LinkEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM
         |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY node),
         |nn AS (SELECT count(*) AS n_nodes FROM
         |         (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))),
         |mo AS (SELECT count(*) AS m,
         |              sum(da.deg + db.deg) AS sx,
         |              sum(da.deg * db.deg) AS sxy,
         |              sum(da.deg * da.deg + db.deg * db.deg) AS sxx
         |         FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
         |ih AS (SELECT deg, count(*) AS n_k FROM
         |         (SELECT dst AS node, count(*) AS deg FROM e GROUP BY dst)
         |       GROUP BY deg),
         |ip AS (SELECT ln(CAST(deg AS DOUBLE)) AS x, ln(CAST(n_k AS DOUBLE)) AS y FROM ih),
         |isl AS (SELECT (count(*) * sum(x * y) - sum(x) * sum(y))
         |               / (count(*) * sum(x * x) - sum(x) * sum(x)) AS slope FROM ip),
         |oh AS (SELECT deg, count(*) AS n_k FROM
         |         (SELECT src AS node, count(*) AS deg FROM e GROUP BY src)
         |       GROUP BY deg),
         |op AS (SELECT ln(CAST(deg AS DOUBLE)) AS x, ln(CAST(n_k AS DOUBLE)) AS y FROM oh),
         |osl AS (SELECT (count(*) * sum(x * y) - sum(x) * sum(y))
         |               / (count(*) * sum(x * x) - sum(x) * sum(x)) AS slope FROM op)
         |SELECT CAST(nn.n_nodes AS BIGINT) AS n_nodes, CAST(mo.m AS BIGINT) AS n_edges_und,
         |       round(CAST(2 * mo.m * 2 * mo.sxy - mo.sx * mo.sx AS DOUBLE)
         |             / CAST(2 * mo.m * mo.sxx - mo.sx * mo.sx AS DOUBLE), 6) AS assortativity,
         |       round(isl.slope, 4) AS indeg_slope,
         |       round(osl.slope, 4) AS outdeg_slope
         |  FROM mo CROSS JOIN nn CROSS JOIN isl CROSS JOIN osl""".stripMargin,

    // hop-capped recursive walk per origin (q142's device, all-origins);
    // min(d) per (origin, node) == BFS distance within the cap; the
    // harmonic sum is integer lcm/d (lcm(1..12) = 27720), one double
    // division at the end — hash-exact.
    "q212_harmonic" ->
      s"""${LinkEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |h AS (SELECT doc_id, source || '.example.com' AS host FROM documents),
         |he AS (SELECT DISTINCT hs.host AS src, hd.host AS dst
         |         FROM e JOIN h hs ON hs.doc_id = e.src JOIN h hd ON hd.doc_id = e.dst
         |        WHERE hs.host <> hd.host),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM he UNION ALL SELECT dst FROM he)),
         |walk(origin, node, d) AS (
         |  SELECT node, node, 0 FROM nodes
         |  UNION
         |  SELECT w.origin, he.dst, w.d + 1
         |    FROM walk w JOIN he ON he.src = w.node
         |   WHERE w.d < $HarmonicRounds
         |),
         |md AS (SELECT origin, node, min(d) AS d FROM walk GROUP BY origin, node)
         |SELECT node AS host, CAST(count(*) AS BIGINT) AS n_sources,
         |       round(CAST(sum($HarmonicLcm // d) AS DOUBLE)
         |             / CAST($HarmonicLcm AS DOUBLE), 6) AS harmonic
         |  FROM md WHERE d > 0 GROUP BY node""".stripMargin,

    // the k greedy steps unrolled as chained CTEs: candidates ranked on
    // the 4-dp bm25 (q53 frames), pairwise 3-shingle Jaccard at q33's
    // 4-dp grain, each step's argmax on the 6-dp mmr with doc_id
    // tiebreak — identical winners by construction.
    "q213_mmr" -> {
      val lam = s"CAST('$MmrLambda' AS DOUBLE)"
      val mu = s"CAST('${1.0 - MmrLambda}' AS DOUBLE)"
      val steps = (2 to MmrK).map { r =>
        val prev = r - 1
        s"""p$r AS (SELECT x AS doc_id, max(sim) AS pen FROM sims
           |         WHERE y IN (SELECT doc_id FROM sel$prev) GROUP BY x),
           |s$r AS (SELECT c.doc_id, c.bm25,
           |               COALESCE(p.pen, CAST(0 AS DOUBLE)) AS max_sim,
           |               round($lam * c.bm25
           |                     - $mu * COALESCE(p.pen, CAST(0 AS DOUBLE)), 6) AS mmr,
           |               $r AS rank
           |          FROM cands c LEFT JOIN p$r p USING (doc_id)
           |         WHERE c.doc_id NOT IN (SELECT doc_id FROM sel$prev)
           |         ORDER BY mmr DESC, c.doc_id LIMIT 1),
           |sel$r AS (SELECT doc_id FROM sel$prev UNION ALL SELECT doc_id FROM s$r)"""
          .stripMargin
      }.mkString(",\n")
      val unionAll = (1 to MmrK).map(r => s"SELECT * FROM s$r").mkString(" UNION ALL ")
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |sc AS (SELECT doc_id,
         |              round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |                        / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))), 4) AS bm25
         |         FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
         |        GROUP BY doc_id),
         |cands AS (SELECT doc_id, bm25 FROM sc ORDER BY bm25 DESC, doc_id LIMIT $MmrPoolN),
         |sh AS (SELECT c.doc_id,
         |              list_distinct(list_transform(generate_series(1, len(tk.t) - 2),
         |                i -> tk.t[i] || ' ' || tk.t[i+1] || ' ' || tk.t[i+2])) AS s
         |         FROM cands c JOIN tk ON tk.doc_id = c.doc_id),
         |sims AS (SELECT a.doc_id AS x, b.doc_id AS y,
         |                round(len(list_intersect(a.s, b.s)) * 1.0
         |                      / len(list_distinct(list_concat(a.s, b.s))), 4) AS sim
         |           FROM sh a JOIN sh b ON a.doc_id <> b.doc_id),
         |s1 AS (SELECT doc_id, bm25, CAST(0 AS DOUBLE) AS max_sim,
         |              round($lam * bm25, 6) AS mmr, 1 AS rank
         |         FROM cands ORDER BY bm25 DESC, doc_id LIMIT 1),
         |sel1 AS (SELECT doc_id FROM s1),
         |$steps
         |SELECT rank, doc_id, bm25, max_sim, mmr FROM ($unionAll)""".stripMargin
    },

    // q199's posting frames + the Elias–Fano closed form: l by a
    // descending power-of-two CASE ladder over U DIV n, bits =
    // n·l + n + U DIV 2^l — every quantity an exact integer.
    "q214_elias_fano" -> {
      val vladder = (1 to 8).map(k =>
        s"WHEN v < ${1L << (7 * k)} THEN ${k}").mkString(" ")
      val lladder = (40 to 1 by -1).map(k =>
        s"WHEN q >= ${1L << k} THEN $k").mkString(" ")
      s"""WITH tk AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS term
         |             FROM documents),
         |p AS (SELECT term, list_sort(list(doc_id)) AS ids FROM tk GROUP BY term),
         |f AS (SELECT term, ids, len(ids) AS df FROM p WHERE len(ids) >= 5),
         |x AS (SELECT term, df, ids, ids[len(ids)] + 1 AS universe,
         |             list_transform(generate_series(1, df),
         |               i -> CASE WHEN i = 1 THEN ids[1] + 1
         |                         ELSE ids[i] - ids[i-1] END) AS gaps
         |        FROM f),
         |y0 AS (SELECT term, df, universe, gaps, universe // df AS q FROM x),
         |y AS (SELECT term, df, universe, gaps,
         |             CASE $lladder ELSE 0 END AS l
         |        FROM y0),
         |z AS (SELECT term, df, universe, l,
         |             df * l + df + universe // CAST(pow(2, l) AS BIGINT) AS ef_bits,
         |             list_sum(list_transform(gaps,
         |               v -> CASE $vladder ELSE 9 END)) AS vbyte_bytes
         |        FROM y)
         |SELECT term, CAST(df AS BIGINT) AS df, CAST(universe AS BIGINT) AS universe,
         |       CAST(l AS BIGINT) AS l, CAST(ef_bits AS BIGINT) AS ef_bits,
         |       CAST((ef_bits + 7) // 8 AS BIGINT) AS ef_bytes,
         |       CAST(vbyte_bytes AS BIGINT) AS vbyte_bytes,
         |       round(CAST((ef_bits + 7) // 8 AS DOUBLE) / vbyte_bytes, 4) AS ef_vs_vbyte
         |  FROM z""".stripMargin
    },

    // the 3 LPA rounds unrolled: neighbor-label frequency per node with
    // the (count desc, label asc) rn=1 pick — the deterministic tie-break
    // spelled identically on both sides; sizes via a label window (q46's
    // device).
    "q216_lpa_communities" ->
      s"""$LpaOracleCte
         |SELECT node AS doc_id, lab AS community,
         |       count(*) OVER (PARTITION BY lab) AS community_size
         |  FROM l$LpaRounds""".stripMargin,

    // the q216 labeling + per-community integer structure sums; the
    // conductance is one integer division (Kannan-Vempala-Vetta grain).
    "q221_community_quality" ->
      s"""$LpaOracleCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |jj AS (SELECT u.a, u.b, x.lab AS ca, y.lab AS cb
         |         FROM und u JOIN l$LpaRounds x ON x.node = u.a
         |         JOIN l$LpaRounds y ON y.node = u.b),
         |intra AS (SELECT ca AS community, count(*) AS intra_edges
         |            FROM jj WHERE ca = cb GROUP BY ca),
         |cut AS (SELECT community, count(*) AS cut_edges FROM (
         |          SELECT ca AS community FROM jj WHERE ca <> cb
         |          UNION ALL SELECT cb FROM jj WHERE ca <> cb)
         |        GROUP BY community),
         |deg AS (SELECT node, count(*) AS deg FROM
         |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY node),
         |vol AS (SELECT l.lab AS community, count(*) AS n_nodes,
         |               sum(d.deg) AS volume
         |          FROM l$LpaRounds l JOIN deg d ON d.node = l.node
         |         GROUP BY l.lab),
         |mm AS (SELECT count(*) AS m FROM und)
         |SELECT v.community, CAST(v.n_nodes AS BIGINT) AS n_nodes,
         |       CAST(v.volume AS BIGINT) AS volume,
         |       CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges,
         |       CAST(COALESCE(c.cut_edges, 0) AS BIGINT) AS cut_edges,
         |       CASE WHEN least(v.volume, 2 * mm.m - v.volume) > 0
         |            THEN round(CAST(COALESCE(c.cut_edges, 0) AS DOUBLE)
         |                       / CAST(least(v.volume, 2 * mm.m - v.volume) AS DOUBLE), 6)
         |            ELSE CAST(0 AS DOUBLE) END AS conductance
         |  FROM vol v LEFT JOIN intra i USING (community)
         |  LEFT JOIN cut c USING (community) CROSS JOIN mm""".stripMargin,

    // Newman Q from the integer closed form (4m·Σe_c − Σvol_c²)/(4m²)
    // over the same frames — one division, hash-exact.
    "q222_modularity" ->
      s"""$LpaOracleCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |jj AS (SELECT u.a, u.b, x.lab AS ca, y.lab AS cb
         |         FROM und u JOIN l$LpaRounds x ON x.node = u.a
         |         JOIN l$LpaRounds y ON y.node = u.b),
         |intra AS (SELECT ca AS community, count(*) AS intra_edges
         |            FROM jj WHERE ca = cb GROUP BY ca),
         |deg AS (SELECT node, count(*) AS deg FROM
         |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY node),
         |vol AS (SELECT l.lab AS community, sum(d.deg) AS volume
         |          FROM l$LpaRounds l JOIN deg d ON d.node = l.node
         |         GROUP BY l.lab),
         |mm AS (SELECT count(*) AS m FROM und),
         |agg AS (SELECT count(*) AS nc,
         |               sum(COALESCE(i.intra_edges, 0)) AS s_intra,
         |               sum(v.volume * v.volume) AS s_vol2
         |          FROM vol v LEFT JOIN intra i USING (community))
         |SELECT CAST(nc AS BIGINT) AS n_communities, CAST(mm.m AS BIGINT) AS m_edges,
         |       round(CAST(4 * mm.m * agg.s_intra - agg.s_vol2 AS DOUBLE)
         |             / CAST(4 * mm.m * mm.m AS DOUBLE), 6) AS q_modularity
         |  FROM agg CROSS JOIN mm""".stripMargin,

    // the four pair relations rebuilt from their PROVEN oracle shapes
    // (q33 / q31-validity / q84-normalized / q217), tagged and matrixed;
    // all counts integers, agreement one division.
    "q229_dedup_agreement" -> {
      val ants = graft.ml.Dedup.SpotAntecedents.map(a => s"'$a'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
         |sh3 AS (SELECT doc_id, lang,
         |         list_distinct(list_transform(generate_series(1, len(t)-2),
         |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
         |  FROM toks),
         |png AS (SELECT a, b FROM (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |         round(len(list_intersect(a.s, b.s)) * 1.0
         |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS j
         |    FROM sh3 a JOIN sh3 b ON a.lang = b.lang AND a.doc_id < b.doc_id) p
         | WHERE j >= 0.5),
         |tsets AS (SELECT doc_id, list_sort(list_distinct(t)) AS ts FROM toks),
         |reps AS (SELECT min(doc_id) AS rep, ts FROM tsets GROUP BY ts),
         |pmh AS (SELECT a, b FROM (
         |  SELECT a.rep AS a, b.rep AS b,
         |         round(len(list_intersect(a.ts, b.ts)) * 1.0
         |               / len(list_distinct(list_concat(a.ts, b.ts))), 4) AS j
         |    FROM reps a JOIN reps b ON a.rep < b.rep) p
         | WHERE j >= 0.95),
         |pctd AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b FROM (
         |  SELECT a.doc_id AS a, b.doc_id AS b
         |    FROM sh3 a JOIN sh3 b
         |      ON a.lang = b.lang AND a.doc_id <> b.doc_id AND len(a.s) > 0
         |   WHERE round(len(list_intersect(a.s, b.s)) * 1.0 / len(a.s), 4) >= 0.8) q),
         |sp AS (SELECT doc_id, lang,
         |         list_distinct(list_filter(
         |           list_transform(generate_series(1, len(t)), i ->
         |             CASE WHEN t[i] IN ($ants)
         |                  THEN t[i] || ':' || array_to_string(
         |                         list_slice(list_filter(list_slice(t, i + 1, len(t)),
         |                                                x -> x NOT IN ($ants)),
         |                                    1, 2), ' ')
         |                  ELSE NULL END),
         |           x -> x IS NOT NULL AND NOT x LIKE '%:')) AS s
         |    FROM toks),
         |psp AS (SELECT a, b FROM (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |         round(len(list_intersect(a.s, b.s)) * 1.0
         |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS j
         |    FROM sp a JOIN sp b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |   WHERE len(a.s) > 0 AND len(b.s) > 0) p
         | WHERE j >= $SpotSigThreshold),
         |tg AS (SELECT 'containment' AS method, a, b FROM pctd
         |       UNION ALL SELECT 'minhash', a, b FROM pmh
         |       UNION ALL SELECT 'ngram', a, b FROM png
         |       UNION ALL SELECT 'spotsigs', a, b FROM psp),
         |cnt AS (SELECT method, count(*) AS n FROM tg GROUP BY method),
         |itr AS (SELECT x.method AS m1, y.method AS m2, count(*) AS n_both
         |          FROM tg x JOIN tg y
         |            ON x.a = y.a AND x.b = y.b AND x.method < y.method
         |         GROUP BY 1, 2),
         |pm AS (SELECT c1.method AS m1, c1.n AS n_1, c2.method AS m2, c2.n AS n_2
         |         FROM cnt c1 JOIN cnt c2 ON c1.method < c2.method)
         |SELECT pm.m1, pm.m2, CAST(n_1 AS BIGINT) AS n_1, CAST(n_2 AS BIGINT) AS n_2,
         |       CAST(COALESCE(itr.n_both, 0) AS BIGINT) AS n_both,
         |       round(CAST(COALESCE(itr.n_both, 0) AS DOUBLE)
         |             / CAST(n_1 + n_2 - COALESCE(itr.n_both, 0) AS DOUBLE), 6)
         |         AS agreement
         |  FROM pm LEFT JOIN itr ON itr.m1 = pm.m1 AND itr.m2 = pm.m2""".stripMargin
    },

    // q153's ranked/relevant frames; the weighted sum is an INTEGER
    // (Scala-computed rational-p weights interpolated as a VALUES dim),
    // one division against the interpolated pDen^k.
    "q227_rbp" -> {
      val wts = graft.ml.Search.rbpWeights(RbpK, RbpPNum, RbpPDen)
        .map { case (r, w) => s"($r, $w)" }.mkString(", ")
      val denom = BigInt(RbpPDen).pow(RbpK)
      val residual = BigInt(RbpPNum).pow(RbpK).toDouble / denom.toDouble
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |sc AS (SELECT doc_id,
         |              round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |                        / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))), 4) AS s
         |         FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
         |        GROUP BY doc_id),
         |r AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank
         |        FROM (SELECT * FROM sc ORDER BY s DESC, doc_id LIMIT $RbpK)),
         |rel AS (SELECT doc_id FROM
         |          (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS term
         |             FROM documents) AS x
         |         WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |         GROUP BY doc_id HAVING count(*) = ${Bm25QueryTerms.length}),
         |nr AS (SELECT count(*) AS n_relevant FROM rel),
         |w(rank, wt) AS (SELECT * FROM (VALUES $wts)),
         |j AS (SELECT w.wt, CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |        FROM r JOIN w USING (rank) LEFT JOIN rel USING (doc_id))
         |SELECT CAST($RbpK AS INT) AS k, CAST(nr.n_relevant AS BIGINT) AS n_relevant,
         |       CAST(sum(j.rel) AS BIGINT) AS n_hits,
         |       round(CAST(sum(j.rel * j.wt) AS DOUBLE)
         |             / CAST('${denom.toDouble}' AS DOUBLE), 6) AS rbp,
         |       round(CAST('$residual' AS DOUBLE), 6) AS rbp_residual
         |  FROM j CROSS JOIN nr GROUP BY nr.n_relevant""".stripMargin
    },

    // q200's bigram frames, the marginals re-aggregated from the SAME
    // bigram relation; each G² cell spelled operand-for-operand as the
    // engine's (k·(ln k + ln N − ln R − ln C), left-assoc), the 4-cell
    // sum in the same fixed order, rank on the 4-dp score.
    "q226_llr_collocations" -> {
      def cell(k: String, r: String, c: String) =
        s"""CASE WHEN $k > 0
           |     THEN CAST($k AS DOUBLE) * (ln(CAST($k AS DOUBLE)) + ln(nd)
           |          - ln(CAST($r AS DOUBLE)) - ln(CAST($c AS DOUBLE)))
           |     ELSE CAST(0 AS DOUBLE) END""".stripMargin.replace("\n", " ")
      s"""WITH tk AS (SELECT string_split(text,' ') AS t FROM documents),
         |bi AS (SELECT s.w1 AS w1, s.w2 AS w2, count(*) AS c12 FROM
         |         (SELECT unnest(list_transform(generate_series(1, len(t)-1),
         |                  i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
         |            FROM tk)
         |        GROUP BY 1, 2),
         |rm AS (SELECT w1, sum(c12) AS c1s FROM bi GROUP BY w1),
         |cm AS (SELECT w2, sum(c12) AS c2s FROM bi GROUP BY w2),
         |nn AS (SELECT sum(c12) AS n, CAST(sum(c12) AS DOUBLE) AS nd FROM bi)
         |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
         |       CAST(c1s AS BIGINT) AS c1s, CAST(c2s AS BIGINT) AS c2s,
         |       round(CAST(2 AS DOUBLE) * (
         |         ${cell("c12", "c1s", "c2s")} +
         |         ${cell("c1s - c12", "c1s", "n - c2s")} +
         |         ${cell("c2s - c12", "n - c1s", "c2s")} +
         |         ${cell("n - c1s - c2s + c12", "n - c1s", "n - c2s")}), 4) AS llr
         |  FROM bi JOIN rm USING (w1) JOIN cm USING (w2) CROSS JOIN nn
         | WHERE c12 >= 5
         | ORDER BY llr DESC, w1, w2 LIMIT 50""".stripMargin
    },

    // the q210/q211/q216/q222 frames composed into one row: each
    // statistic is a division of exact integer sums (the engine's
    // crossJoin stitches == these CROSS JOINs).
    "q225_graph_datasheet" ->
      s"""$LpaOracleCte,
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         |deg AS (SELECT node, count(*) AS deg FROM
         |          (SELECT a AS node FROM und UNION ALL SELECT b FROM und)
         |        GROUP BY node),
         |o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |                  THEN u.a ELSE u.b END AS u,
         |             CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND u.a < u.b)
         |                  THEN u.b ELSE u.a END AS v
         |        FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
         |od AS (SELECT o.u, o.v, d.deg AS deg_v FROM o JOIN deg d ON d.node = o.v),
         |wdg AS (SELECT x.u AS u, x.v AS v, y.v AS w
         |          FROM od x JOIN od y ON x.u = y.u
         |         WHERE x.deg_v < y.deg_v OR (x.deg_v = y.deg_v AND x.v < y.v)),
         |t AS (SELECT u, v, w FROM wdg
         |       WHERE EXISTS (SELECT 1 FROM o WHERE o.u = wdg.v AND o.v = wdg.w)),
         |tri AS (SELECT 3 * count(*) AS tri3 FROM t),
         |wd AS (SELECT sum(deg * (deg - 1)) AS wedges2 FROM deg),
         |mo AS (SELECT sum(da.deg + db.deg) AS sx,
         |              sum(da.deg * db.deg) AS sxy,
         |              sum(da.deg * da.deg + db.deg * db.deg) AS sxx
         |         FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
         |nn AS (SELECT count(*) AS n_nodes FROM
         |         (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM e UNION ALL SELECT dst FROM e))),
         |nd AS (SELECT count(*) AS n_edges_dir FROM e),
         |mu AS (SELECT count(*) AS n_edges_und FROM und),
         |rc AS (SELECT count(*) AS n_recip_dir FROM e
         |        WHERE EXISTS (SELECT 1 FROM e r WHERE r.src = e.dst AND r.dst = e.src)),
         |jj AS (SELECT x.lab AS ca, y.lab AS cb
         |         FROM und u JOIN l$LpaRounds x ON x.node = u.a
         |         JOIN l$LpaRounds y ON y.node = u.b),
         |intra AS (SELECT ca AS community, count(*) AS intra_edges
         |            FROM jj WHERE ca = cb GROUP BY ca),
         |vol AS (SELECT l.lab AS community, sum(d.deg) AS volume
         |          FROM l$LpaRounds l JOIN deg d ON d.node = l.node
         |         GROUP BY l.lab),
         |agg AS (SELECT count(*) AS nc,
         |               sum(COALESCE(i.intra_edges, 0)) AS s_intra,
         |               sum(v.volume * v.volume) AS s_vol2
         |          FROM vol v LEFT JOIN intra i USING (community))
         |SELECT CAST(nn.n_nodes AS BIGINT) AS n_nodes,
         |       CAST(nd.n_edges_dir AS BIGINT) AS n_edges_dir,
         |       CAST(mu.n_edges_und AS BIGINT) AS n_edges_und,
         |       round(CAST(rc.n_recip_dir AS DOUBLE)
         |             / CAST(nd.n_edges_dir AS DOUBLE), 6) AS reciprocity,
         |       round(CAST(2 * tri.tri3 AS DOUBLE)
         |             / CAST(wd.wedges2 AS DOUBLE), 6) AS global_clustering,
         |       round(CAST(2 * mu.n_edges_und * 2 * mo.sxy - mo.sx * mo.sx AS DOUBLE)
         |             / CAST(2 * mu.n_edges_und * mo.sxx - mo.sx * mo.sx AS DOUBLE), 6)
         |         AS assortativity,
         |       CAST(agg.nc AS BIGINT) AS n_communities,
         |       round(CAST(4 * mu.n_edges_und * agg.s_intra - agg.s_vol2 AS DOUBLE)
         |             / CAST(4 * mu.n_edges_und * mu.n_edges_und AS DOUBLE), 6)
         |         AS lpa_modularity
         |  FROM nn CROSS JOIN nd CROSS JOIN mu CROSS JOIN rc CROSS JOIN tri
         |  CROSS JOIN wd CROSS JOIN mo CROSS JOIN agg""".stripMargin,

    // q55 + q87 frames → binary gates on the 4-dp published scores →
    // Cohen's κ via the integer closed form (one division, hash-exact);
    // universe = the doc intersection (single-token docs carry no
    // bigram score).
    "q223_gate_kappa" ->
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok FROM documents),
         |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k FROM tok GROUP BY doc_id, tok),
         |f AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY tok),
         |tot AS (SELECT sum(c) AS n_total FROM f),
         |u AS (SELECT doc_id, round(sum(k * ln(c / n_total)) / sum(k), 4) AS s_u
         |        FROM dt JOIN f USING (tok) CROSS JOIN tot GROUP BY doc_id),
         |tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-1),
         |              i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS s
         |        FROM tk),
         |db AS (SELECT doc_id, s.w1 AS w1, s.w2 AS w2,
         |              CAST(count(*) AS DOUBLE) AS k
         |         FROM bg GROUP BY ALL),
         |cb AS (SELECT w1, w2, sum(k) AS c FROM db GROUP BY w1, w2),
         |ctx AS (SELECT w1, sum(c) AS ctx FROM cb GROUP BY w1),
         |bm AS (SELECT doc_id, round(sum(k * ln(c / ctx)) / sum(k), 4) AS s_b
         |         FROM db JOIN cb USING (w1, w2) JOIN ctx USING (w1)
         |        GROUP BY doc_id),
         |g AS (SELECT u.doc_id,
         |             s_u >= CAST('$KappaUniT' AS DOUBLE) AS pa,
         |             s_b >= CAST('$KappaBiT' AS DOUBLE) AS pb
         |        FROM u JOIN bm USING (doc_id)),
         |cc AS (SELECT count(*) AS n_docs,
         |              sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS n11,
         |              sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END) AS n10,
         |              sum(CASE WHEN NOT pa AND pb THEN 1 ELSE 0 END) AS n01,
         |              sum(CASE WHEN NOT pa AND NOT pb THEN 1 ELSE 0 END) AS n00
         |         FROM g)
         |SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(n11 AS BIGINT) AS n11,
         |       CAST(n10 AS BIGINT) AS n10, CAST(n01 AS BIGINT) AS n01,
         |       CAST(n00 AS BIGINT) AS n00,
         |       round(CAST(n11 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) AS po,
         |       round(CAST(2 * (n11 * n00 - n10 * n01) AS DOUBLE)
         |             / CAST((n11 + n10) * (n10 + n00)
         |                    + (n11 + n01) * (n01 + n00) AS DOUBLE), 6) AS kappa
         |  FROM cc""".stripMargin,

    // q33's all-pairs truth over SpotSigs signatures: antecedent-anchored
    // chains built with the SAME 1-based slice semantics (Spark slice's
    // length arg and DuckDB list_slice's end-index both clamp to the
    // tail; the inner first-2 cut is identical), empty chains dropped by
    // the same NOT LIKE '%:' guard. Valid for the engine's pruned PPJoin
    // by the q33 argument (lossless prefix+length pruning, exact verify).
    "q217_spotsigs" -> {
      val ants = graft.ml.Dedup.SpotAntecedents.map(a => s"'$a'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
         |sp AS (SELECT doc_id, lang,
         |         list_distinct(list_filter(
         |           list_transform(generate_series(1, len(t)), i ->
         |             CASE WHEN t[i] IN ($ants)
         |                  THEN t[i] || ':' || array_to_string(
         |                         list_slice(list_filter(list_slice(t, i + 1, len(t)),
         |                                                x -> x NOT IN ($ants)),
         |                                    1, 2), ' ')
         |                  ELSE NULL END),
         |           x -> x IS NOT NULL AND NOT x LIKE '%:')) AS s
         |    FROM toks)
         |SELECT a, b, jaccard FROM (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |         round(len(list_intersect(a.s, b.s)) * 1.0
         |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         |    FROM sp a JOIN sp b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |   WHERE len(a.s) > 0 AND len(b.s) > 0) AS p
         | WHERE jaccard >= $SpotSigThreshold""".stripMargin
    },

    // q212's hop-capped walk reused; per-radius counts LEFT-join the
    // full radius series (flat tail kept), cumulative via the ordered
    // window (single-engine oracle may; the engine's frame is the
    // R-row radius dim), flag compared on the ROUNDED share.
    "q218_anf" ->
      s"""${LinkEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |h AS (SELECT doc_id, source || '.example.com' AS host FROM documents),
         |he AS (SELECT DISTINCT hs.host AS src, hd.host AS dst
         |         FROM e JOIN h hs ON hs.doc_id = e.src JOIN h hd ON hd.doc_id = e.dst
         |        WHERE hs.host <> hd.host),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM he UNION ALL SELECT dst FROM he)),
         |walk(origin, node, d) AS (
         |  SELECT node, node, 0 FROM nodes
         |  UNION
         |  SELECT w.origin, he.dst, w.d + 1
         |    FROM walk w JOIN he ON he.src = w.node
         |   WHERE w.d < $HarmonicRounds
         |),
         |md AS (SELECT origin, node, min(d) AS d FROM walk GROUP BY origin, node),
         |perr AS (SELECT d AS r, count(*) AS n_new FROM md WHERE d > 0 GROUP BY d),
         |radii AS (SELECT unnest(generate_series(1, $HarmonicRounds)) AS r),
         |cum AS (SELECT radii.r,
         |               sum(COALESCE(perr.n_new, 0)) OVER (ORDER BY radii.r) AS n_pairs
         |          FROM radii LEFT JOIN perr USING (r)),
         |tot AS (SELECT max(n_pairs) AS n_total FROM cum),
         |fin AS (SELECT CAST(r AS INT) AS r, CAST(n_pairs AS BIGINT) AS n_pairs,
         |               round(CAST(n_pairs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
         |                 AS share
         |          FROM cum CROSS JOIN tot)
         |SELECT r, n_pairs, share, share >= 0.9 AS reaches_90pct FROM fin""".stripMargin,

    // the 6 h-index rounds unrolled: per node the desc-sorted neighbor
    // values with max(least(v, rn)) — the closed-form h-index, tie-order
    // invariant; frames are degree-bounded on both sides.
    "q220_kcore" -> {
      def rnd(prev: String, cur: String) =
        s"""$cur AS (SELECT node, CAST(max(least(v, rn)) AS INT) AS h FROM (
           |  SELECT n.node, p.h AS v,
           |         row_number() OVER (PARTITION BY n.node
           |                            ORDER BY p.h DESC, n.nbr) AS rn
           |    FROM nbr n JOIN $prev p ON p.node = n.nbr) t
           | GROUP BY node)""".stripMargin
      val rounds = (1 to KCoreRounds)
        .map(k => rnd(s"h${k - 1}", s"h$k")).mkString(",\n")
      s"""$LinkEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
         |nbr AS (SELECT DISTINCT node, nbr FROM (
         |          SELECT src AS node, dst AS nbr FROM e
         |          UNION ALL SELECT dst, src FROM e)),
         |h0 AS (SELECT node, CAST(count(*) AS INT) AS h FROM nbr GROUP BY node),
         |$rounds
         |SELECT node AS doc_id, h AS h_iter FROM h$KCoreRounds""".stripMargin
    },

    // per-epoch multiplicative-hash keys with the SAME multiplier/modulus
    // literals; position via the ordered window (single-engine oracle may).
    "q208_epoch_shuffle" -> {
      val m = 4294967296L
      val eps = graft.ml.Corpus.EpochMultipliers.zipWithIndex.map { case (a, e) =>
        s"SELECT $e AS epoch, doc_id, (doc_id * $a + ${e + 1}) % $m AS k FROM documents"
      }.mkString("\n        | UNION ALL ")
      s"""WITH keyed AS ($eps)
         |SELECT epoch, doc_id,
         |       ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY k, doc_id) AS position
         |  FROM keyed""".stripMargin
    },

    // the q55 scoring CTE + a VALUES threshold dim; gate comparisons run
    // on the 4-dp-rounded score, integer counts, 4-dp ratios.
    "q209_quality_sweep" -> {
      val vals = QualitySweepThresholds
        .map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
      s"""WITH tokse AS (SELECT doc_id, unnest(string_split(text,' ')) AS tok
         |                 FROM documents),
         |dt AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS k
         |         FROM tokse GROUP BY doc_id, tok),
         |freq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS c FROM tokse GROUP BY tok),
         |tot AS (SELECT sum(c) AS n_total FROM freq),
         |scored AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
         |                  round(sum(k * ln(c / n_total)) / sum(k), 4) AS mean_logp
         |             FROM dt JOIN freq USING (tok) CROSS JOIN tot
         |            GROUP BY doc_id),
         |th AS (SELECT * FROM (VALUES $vals) AS t(threshold))
         |SELECT threshold, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN mean_logp >= threshold THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       round(CAST(sum(CASE WHEN mean_logp >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 4) AS doc_keep_frac,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
         |       CAST(sum(CASE WHEN mean_logp >= threshold THEN n_tokens ELSE 0 END) AS BIGINT)
         |         AS n_tokens_kept,
         |       round(CAST(sum(CASE WHEN mean_logp >= threshold THEN n_tokens ELSE 0 END) AS DOUBLE)
         |             / CAST(sum(n_tokens) AS DOUBLE), 4) AS token_keep_frac
         |  FROM scored CROSS JOIN th GROUP BY threshold""".stripMargin
    },

    // the q126 rank replayed (corpus-wide window is FINE in the
    // single-engine oracle), then the flat-agg entropy identity
    // H = ln n − (Σ c·ln c)/n spelled exactly as the engine's.
    "q206_shard_entropy" ->
      s"""WITH sized AS (SELECT doc_id, source,
         |                      len(string_split(text,' ')) AS n_tokens
         |                 FROM documents),
         |r AS (SELECT doc_id, source,
         |             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rank
         |        FROM sized),
         |g AS (SELECT CAST((rank - 1) % $ShardCount AS INT) AS shard, source,
         |             count(*) AS c
         |        FROM r GROUP BY 1, 2)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_sources,
         |       CAST(sum(c) AS BIGINT) AS n_docs,
         |       round(ln(CAST(sum(c) AS DOUBLE))
         |             - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
         |               / CAST(sum(c) AS DOUBLE), 4) AS entropy,
         |       round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 4) AS top_share
         |  FROM g GROUP BY shard""".stripMargin,

    // Valid BECAUSE the sketch is in its exact regime at fixture
    // vocabulary size (31 < purge point 0.75·64): estimate and both
    // bounds equal the true count, and getFrequentItems(t) returns
    // exactly the count >= t items (the threshold is inclusive on the
    // upper bound — pinned in CorpusSpec).
    "q125_heavy_hitters" ->
      """WITH tok AS (SELECT source, unnest(string_split(text,' ')) AS token FROM documents),
        |c AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n
        |        FROM tok GROUP BY 1, 2)
        |SELECT source, token, n AS est, n AS lb, n AS ub
        |  FROM c WHERE n >= 30""".stripMargin,

    // The rank is total-ordered ((n_tokens DESC, doc_id) — doc_id unique),
    // so the engine's range-partitioned GlobalOrder rank equals the
    // window rank exactly; shard is pure modular arithmetic on it.
    "q126_shard_assign" ->
      s"""WITH t AS (SELECT doc_id,
         |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         |        FROM documents),
         |r AS (SELECT doc_id, n_tokens,
         |        ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rank FROM t)
         |SELECT doc_id, n_tokens,
         |       CAST((rank - 1) % $ShardCount AS INT) AS shard
         |  FROM r""".stripMargin,

    // Dirichlet QL spelled operand-for-operand (mu * cf / c_total is
    // left-assoc on both sides); every doc appears (lens x cf cross
    // join), absent terms via coalesce(tf, 0) = the smoothed prior;
    // all ln arguments are ratios of exact integer-valued doubles;
    // round(..,4) absorbs the |q|-term sum order (the q53 discipline).
    "q127_qlm" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |ctot AS (SELECT CAST(sum(dl) AS DOUBLE) AS c_total FROM lens),
         |tok AS (SELECT doc_id, term
         |          FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |         WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM tok GROUP BY doc_id, term),
         |cf AS (SELECT term, CAST(count(*) AS DOUBLE) AS cf FROM tok GROUP BY term)
         |SELECT doc_id,
         |       round(sum(ln((coalesce(tf, 0.0) + ${graft.ml.Search.Mu} * cf / c_total)
         |                    / (dl + ${graft.ml.Search.Mu}))), 4) AS qlm
         |  FROM lens CROSS JOIN cf CROSS JOIN ctot
         |  LEFT JOIN tf USING (doc_id, term)
         | GROUP BY doc_id""".stripMargin,

    // Feedback set cuts on the 4-dp-ROUNDED bm25 (doc_id tiebreak) and
    // the expansion rank on the 4-dp-rounded weight (term tiebreak) on
    // both sides, so float association noise cannot move either
    // boundary; the BM25 relation is the shared q53 oracle, nested.
    // chr(769)/chr(776) are the same decomposed combining marks the query
    // entry injects; nfc_normalize/strip_accents are DuckDB's utf8proc
    // implementations of the same Unicode algorithms the native
    // expressions run (NFC; NFD-drop-Mn-recompose) — byte-equal on the
    // Latin fixture domain.
    "q129_unicode_norm" ->
      """WITH u AS (SELECT doc_id,
        |        text || CASE WHEN doc_id % 9 = 4
        |                     THEN ' expose' || chr(769) || ' naive' || chr(776)
        |                     ELSE '' END AS t2
        |        FROM documents)
        |SELECT doc_id, nfc_normalize(t2) AS text_nfc,
        |       strip_accents(nfc_normalize(t2)) AS text_folded,
        |       t2 <> nfc_normalize(t2) AS changed
        |  FROM u""".stripMargin,

    // Exponential clock spelled operand-for-operand (-ln(u)/w, u =
    // (pmod-LCG key + 0.5)/1000003); the cut is on the 6-dp-rounded clock
    // with doc_id tiebreak on both sides, so ln ulp noise cannot move the
    // sample boundary (the q63 rrf precision).
    "q131_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id,
         |        CAST(len(string_split(text,' ')) AS DOUBLE) AS w,
         |        CAST(((doc_id*48271+11) % 1000003 + 1000003) % 1000003 AS DOUBLE) AS key
         |        FROM documents)
         |SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
         |       round(-ln((key + 0.5) / 1000003.0) / w, 6) AS clock
         |  FROM t ORDER BY clock, doc_id LIMIT $WSampleK""".stripMargin,

    // Every rule mirrored operand-for-operand: word stats on the
    // newline-folded body, line stats via the same multiline-anchored
    // regex counts, alpha words via the same leading-space trick, stop
    // hits as token-IN counting (== the engine's tokens_in_count kernel
    // on a space-token grammar). Verdict comparisons are on the raw
    // int/int doubles both engines compute identically (q113 discipline).
    "q133_gopher_gate" ->
      s"""WITH g AS (SELECT doc_id,
         |        text || CASE WHEN doc_id % 13 = 5 THEN ' ### ## # #### ### ## ### # ## ###'
         |                     WHEN doc_id % 13 = 9 THEN ${GopherBulletTail.split("\n").filter(_.nonEmpty).map(l => s"'$l'").mkString("chr(10) || ", " || chr(10) || ", "")}
         |                     WHEN doc_id % 13 = 2 THEN chr(10) || 'read more...' || chr(10) || 'story developing...'
         |                     ELSE '' END AS t2
         |        FROM documents),
         |m AS (SELECT doc_id, t2, replace(t2, chr(10), ' ') AS body FROM g),
         |s AS (SELECT doc_id,
         |        CAST(len(string_split(body, ' ')) AS DOUBLE) AS n_words,
         |        CAST(length(replace(body, ' ', '')) AS DOUBLE) AS nonws,
         |        CAST(length(body) - length(replace(body, '#', '')) AS DOUBLE)
         |          + (length(body) - length(replace(body, '...', ''))) / 3 AS symbols,
         |        CAST(len(string_split(t2, chr(10))) AS DOUBLE) AS n_lines,
         |        CAST(len(regexp_extract_all(t2, '(?m)^- ')) AS DOUBLE) AS bullets,
         |        CAST(len(regexp_extract_all(t2, '(?m)\\.\\.\\.$$')) AS DOUBLE) AS ell_lines,
         |        CAST(len(regexp_extract_all(' ' || body, ' [^ ]*[a-z][^ ]*')) AS DOUBLE) AS alpha_words,
         |        CAST(len(list_filter(string_split(body, ' '),
         |             t -> t IN (${graft.ml.TextAnalysis.GopherStops.map(w => s"'$w'").mkString(",")}))) AS DOUBLE) AS n_stop
         |      FROM m)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |       round(nonws / n_words, 4) AS mean_wlen,
         |       round(symbols / n_words, 4) AS symbol_ratio,
         |       round(bullets / n_lines, 4) AS bullet_frac,
         |       round(ell_lines / n_lines, 4) AS ellipsis_frac,
         |       round(alpha_words / n_words, 4) AS alpha_frac,
         |       CAST(n_stop AS BIGINT) AS n_stop,
         |       (n_words BETWEEN 20 AND 10000 AND nonws / n_words BETWEEN 3 AND 10
         |        AND symbols / n_words <= 0.1 AND bullets / n_lines <= 0.9
         |        AND ell_lines / n_lines <= 0.3 AND alpha_words / n_words >= 0.8
         |        AND n_stop >= 2) AS kept
         |  FROM s""".stripMargin,

    // share is an exact int/int double on both sides; pow's ulp noise
    // and Z's 5-term sum order are absorbed by the 6-dp rounding (the
    // q69 argument). α interpolated from TempAlpha (the a2 rule).
    "q136_lang_temperature" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |t AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS n_total FROM c),
         |p AS (SELECT lang, n_docs,
         |             CAST(n_docs AS DOUBLE) / n_total AS share,
         |             pow(CAST(n_docs AS DOUBLE) / n_total, $TempAlpha) AS pa
         |        FROM c CROSS JOIN t),
         |z AS (SELECT sum(pa) AS z FROM p)
         |SELECT lang, n_docs, round(share, 6) AS share,
         |       round(pa / z, 6) AS resampled_share,
         |       round(pa / z / share, 6) AS sample_factor
         |  FROM p CROSS JOIN z""".stripMargin,

    // Every ln operand is an exact integer-valued double (q55/q120
    // discipline) — both engines take identical logs; only the per-lang
    // sum's order differs, absorbed by the 6-dp rounding.
    "q137_token_drift" ->
      s"""WITH tok AS (
         |  SELECT lang, CAST(doc_id % 2 AS INT) AS side,
         |         unnest(string_split(text, ' ')) AS tok
         |    FROM documents),
         |tc AS (SELECT lang, tok,
         |         sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS c_old,
         |         sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS c_new
         |       FROM tok GROUP BY lang, tok),
         |lt AS (SELECT lang, CAST(sum(c_old) AS BIGINT) AS n_old,
         |              CAST(sum(c_new) AS BIGINT) AS n_new,
         |              count(*) AS vocab
         |         FROM tc GROUP BY lang)
         |SELECT t.lang, lt.n_old AS n_tokens_old, lt.n_new AS n_tokens_new,
         |       lt.vocab AS vocab,
         |       round(sum((CAST(t.c_new + 1 AS DOUBLE) / CAST(lt.n_new + lt.vocab AS DOUBLE)) *
         |             (ln(CAST(t.c_new + 1 AS DOUBLE)) - ln(CAST(lt.n_new + lt.vocab AS DOUBLE))
         |              - ln(CAST(t.c_old + 1 AS DOUBLE)) + ln(CAST(lt.n_old + lt.vocab AS DOUBLE)))), 6)
         |         AS kl_new_old
         |  FROM tc t JOIN lt USING (lang)
         | GROUP BY t.lang, lt.n_old, lt.n_new, lt.vocab""".stripMargin,

    // HHI/Jain/top-share are single divisions of exactly-summed integers
    // (bit-identical, no rounding); entropy mirrors ln N − Σ n·ln n / N.
    "q140_source_concentration" ->
      s"""WITH c AS (SELECT lang, source, CAST(count(*) AS DOUBLE) AS nd
         |             FROM documents GROUP BY lang, source)
         |SELECT lang, count(*) AS n_sources,
         |       CAST(sum(nd) AS BIGINT) AS n_docs,
         |       max(nd) / sum(nd) AS top_share,
         |       sum(nd * nd) / (sum(nd) * sum(nd)) AS hhi,
         |       (sum(nd) * sum(nd)) / (count(*) * sum(nd * nd)) AS jain,
         |       round(ln(sum(nd)) - sum(nd * ln(nd)) / sum(nd), 6) AS entropy
         |  FROM c GROUP BY lang""".stripMargin,

    // The q141 profile CTE + one list_contains probe against the body.
    "q168_anchor_mismatch" ->
      s"""$LinkEdgesCte,
         |t AS (SELECT dst, unnest(string_split(anchor, ' ')) AS term FROM edges),
         |tc AS (SELECT dst, term, count(*) AS n_links FROM t GROUP BY dst, term),
         |r AS (SELECT dst, term, n_links,
         |             ROW_NUMBER() OVER (PARTITION BY dst
         |                                ORDER BY n_links DESC, term) AS rn
         |        FROM tc),
         |p AS (SELECT dst, max(CASE WHEN rn = 1 THEN term END) AS top_term,
         |             max(CASE WHEN rn = 1 THEN n_links END) AS top_links
         |        FROM r GROUP BY dst)
         |SELECT p.dst AS doc_id, p.top_term, p.top_links,
         |       list_contains(string_split(d.text, ' '), p.top_term) AS in_body
         |  FROM p JOIN documents d ON d.doc_id = p.dst""".stripMargin,

    // Window only on the (dst, term) aggregated grain, mirrored by the
    // same ROW_NUMBER tie-break (n_links DESC, term ASC).
    "q141_anchor_text" ->
      s"""$LinkEdgesCte,
         |deg AS (SELECT dst, count(*) AS in_degree FROM edges GROUP BY dst),
         |t AS (SELECT dst, unnest(string_split(anchor, ' ')) AS term FROM edges),
         |tc AS (SELECT dst, term, count(*) AS n_links FROM t GROUP BY dst, term),
         |r AS (SELECT dst, term, n_links,
         |             ROW_NUMBER() OVER (PARTITION BY dst
         |                                ORDER BY n_links DESC, term) AS rn
         |        FROM tc),
         |p AS (SELECT dst, count(*) AS n_terms,
         |             max(CASE WHEN rn = 1 THEN term END) AS top_term,
         |             max(CASE WHEN rn = 1 THEN n_links END) AS top_links
         |        FROM r GROUP BY dst)
         |SELECT deg.dst AS doc_id, deg.in_degree, p.n_terms, p.top_term, p.top_links
         |  FROM deg JOIN p USING (dst)""".stripMargin,

    // Hop-capped recursive walk; min(depth) per node == BFS distance
    // (cycles terminate on the hop cap; the engine's anti-join makes the
    // cap unnecessary there, but reachability within `rounds` agrees).
    "q142_seed_depth" ->
      s"""${LinkEdgesCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |walk(node, depth) AS (
         |  SELECT doc_id, 0 FROM documents WHERE doc_id % 50 = 0
         |  UNION ALL
         |  SELECT e.dst, w.depth + 1
         |    FROM walk w JOIN edges e ON e.src = w.node
         |   WHERE w.depth < $SeedDepthRounds
         |)
         |SELECT node AS doc_id, CAST(min(depth) AS INT) AS depth
         |  FROM walk GROUP BY node""".stripMargin,

    // Unrolls the same 3 rounds with the q69 float discipline: (1-d)
    // interpolated from the ONE Scala evaluation, per-edge term the
    // left-assoc rank/outdeg, sum order absorbed by the 6-dp round.
    "q143_trustrank" -> {
      val tm = s"CAST(${1.0 - TrustDamping} AS DOUBLE)"
      val d = s"CAST($TrustDamping AS DOUBLE)"
      def rnd(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT tele.node,
           |         $tm * tele.t + $d * COALESCE(c.cin, CAST(0 AS DOUBLE)) AS rank
           |    FROM tele
           |    LEFT JOIN (SELECT e.dst AS node, sum(p.rank / o.outw) AS cin
           |                 FROM edges e JOIN outw o USING (src)
           |                 JOIN $prev p ON p.node = e.src
           |                GROUP BY e.dst) c ON c.node = tele.node)""".stripMargin
      s"""$LinkEdgesCte,
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |sn AS (SELECT node FROM nodes WHERE node % 50 = 0
         |          AND node IN (SELECT doc_id FROM documents)),
         |ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sn),
         |tele AS (SELECT nodes.node,
         |                CASE WHEN sn.node IS NOT NULL
         |                     THEN CAST(1.0 AS DOUBLE) / ns.n
         |                     ELSE CAST(0 AS DOUBLE) END AS t
         |           FROM nodes CROSS JOIN ns
         |           LEFT JOIN sn ON sn.node = nodes.node),
         |outw AS (SELECT src, CAST(count(*) AS DOUBLE) AS outw FROM edges GROUP BY src),
         |r0 AS (SELECT node, t AS rank FROM tele),
         |${rnd("r0", "r1")},
         |${rnd("r1", "r2")},
         |${rnd("r2", "r3")}
         |SELECT node AS doc_id, round(rank, 6) AS trust FROM r3""".stripMargin
    },

    // the joint PR/core-PR recursion unrolled (q143's round template
    // widened to two rank columns; the core teleport is 1/n at the
    // seeds — the paper's q′ — NOT trustrank's 1/|S|); the relative
    // mass divides the already-6-dp-rounded scores, bit-exact.
    "q196_spam_mass" -> {
      val tm = s"CAST(${1.0 - TrustDamping} AS DOUBLE)"
      val d = s"CAST($TrustDamping AS DOUBLE)"
      def rnd(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT tele.node,
           |         $tm * tele.tp + $d * COALESCE(c.cinp, CAST(0 AS DOUBLE)) AS pr,
           |         $tm * tele.tt + $d * COALESCE(c.cint, CAST(0 AS DOUBLE)) AS tr
           |    FROM tele
           |    LEFT JOIN (SELECT e.dst AS node, sum(p.pr / o.outw) AS cinp,
           |                      sum(p.tr / o.outw) AS cint
           |                 FROM edges e JOIN outw o USING (src)
           |                 JOIN $prev p ON p.node = e.src
           |                GROUP BY e.dst) c ON c.node = tele.node)""".stripMargin
      s"""$LinkEdgesCte,
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |sn AS (SELECT node FROM nodes WHERE node % 50 = 0
         |          AND node IN (SELECT doc_id FROM documents)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |tele AS (SELECT nodes.node,
         |                CAST(1.0 AS DOUBLE) / nn.n AS tp,
         |                CASE WHEN sn.node IS NOT NULL
         |                     THEN CAST(1.0 AS DOUBLE) / nn.n
         |                     ELSE CAST(0 AS DOUBLE) END AS tt
         |           FROM nodes CROSS JOIN nn
         |           LEFT JOIN sn ON sn.node = nodes.node),
         |outw AS (SELECT src, CAST(count(*) AS DOUBLE) AS outw FROM edges GROUP BY src),
         |r0 AS (SELECT node, tp AS pr, tt AS tr FROM tele),
         |${rnd("r0", "r1")},
         |${rnd("r1", "r2")},
         |${rnd("r2", "r3")}
         |SELECT node AS doc_id, round(pr, 6) AS pagerank,
         |       round(tr, 6) AS trusted_pr,
         |       round((round(pr, 6) - round(tr, 6)) / round(pr, 6), 6)
         |         AS rel_spam_mass
         |  FROM r3""".stripMargin
    },

    // OPIC unrolled the same 3 rounds (q69/q143 float discipline):
    // per-round cash = in-mass + dangling-mass/N, hist += cash spent;
    // final estimate (hist + cash)/(iters+1); sum orders absorbed by
    // the 6-dp round. Dangling = nodes absent from the src side.
    "q189_opic_priority" -> {
      def rnd(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT nodes.node,
           |         COALESCE(c.cin, CAST(0 AS DOUBLE)) + d.dmass / nn.n AS cash,
           |         p.hist + p.cash AS hist
           |    FROM nodes CROSS JOIN nn
           |    CROSS JOIN (SELECT COALESCE(sum(cash), CAST(0 AS DOUBLE)) AS dmass
           |                  FROM $prev WHERE node NOT IN (SELECT src FROM outd)) d
           |    JOIN $prev p ON p.node = nodes.node
           |    LEFT JOIN (SELECT e.dst AS node, sum(p2.cash / o.outd) AS cin
           |                 FROM edges e JOIN outd o USING (src)
           |                 JOIN $prev p2 ON p2.node = e.src
           |                GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
      s"""$LinkEdgesCte,
         |outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |s0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS cash,
         |              CAST(0 AS DOUBLE) AS hist
         |         FROM nodes CROSS JOIN nn),
         |${rnd("s0", "s1")},
         |${rnd("s1", "s2")},
         |${rnd("s2", "s3")}
         |SELECT node AS doc_id, round((hist + cash) / 4.0, 6) AS opic
         |  FROM s3""".stripMargin
    },

    // harvest replayed relationally: same parent-max priority (exact
    // integer division both sides), same integer on-topic gate, window
    // rank+cumsum standing in for the engine's GlobalOrder two-phase
    // scan (order is total — unique (priority, dst) — so they agree).
    "q192_harvest_curve" -> {
      val lex = TopicLexicon.map(w => s"'$w'").mkString(", ")
      s"""$LinkEdgesCte,
         |rel AS (
         |  SELECT doc_id,
         |         len(list_filter(string_split(text, ' '),
         |             t -> list_contains([$lex], t))) AS topic_cnt,
         |         len(list_filter(string_split(text, ' '), t -> t <> ''))
         |           AS total_cnt
         |    FROM documents),
         |prio AS (
         |  SELECT e.dst, max(CAST(r.topic_cnt AS DOUBLE) / r.total_cnt) AS priority
         |    FROM edges e JOIN rel r ON r.doc_id = e.src
         |   GROUP BY e.dst),
         |tgt AS (
         |  SELECT p.dst, p.priority,
         |         CASE WHEN r.topic_cnt * 100 >= r.total_cnt * $TopicTauPct
         |              THEN 1 ELSE 0 END AS on_topic
         |    FROM prio p JOIN rel r ON r.doc_id = p.dst),
         |rk AS (
         |  SELECT dst, on_topic,
         |         ROW_NUMBER() OVER (ORDER BY priority DESC, dst) AS rnk,
         |         SUM(on_topic) OVER (ORDER BY priority DESC, dst) AS cum
         |    FROM tgt),
         |nn AS (SELECT count(*) AS n FROM tgt),
         |cuts AS (SELECT k AS decile, (k * n + 9) // 10 AS cut
         |           FROM (SELECT unnest(generate_series(1, 10)) AS k), nn)
         |SELECT CAST(c.decile AS BIGINT) AS decile,
         |       CAST(r.rnk AS BIGINT) AS n_fetched,
         |       CAST(r.cum AS BIGINT) AS n_on_topic,
         |       round(r.cum * 1.0 / r.rnk, 4) AS harvest
         |  FROM rk r JOIN cuts c ON r.rnk = c.cut""".stripMargin
    },

    // the WWW'98 experiment replayed: PR (uniform teleport, unit
    // weights) + OPIC unrolled 3 rounds each (q69/q189 float
    // discipline), every sort key and the mass integer-exact, window
    // rank+cumsum per strategy standing in for GlobalOrder.
    "q193_ordering_eval" -> {
      val tm = s"CAST(${1.0 - TrustDamping} AS DOUBLE)"
      val d = s"CAST($TrustDamping AS DOUBLE)"
      def pr(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT nodes.node,
           |         $tm / nn.n + $d * COALESCE(c.cin, CAST(0 AS DOUBLE)) AS rank
           |    FROM nodes CROSS JOIN nn
           |    LEFT JOIN (SELECT e.dst AS node, sum(p.rank / o.outd) AS cin
           |                 FROM edges e JOIN outd o USING (src)
           |                 JOIN $prev p ON p.node = e.src
           |                GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
      def op(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT nodes.node,
           |         COALESCE(c.cin, CAST(0 AS DOUBLE)) + d.dmass / nn.n AS cash,
           |         p.hist + p.cash AS hist
           |    FROM nodes CROSS JOIN nn
           |    CROSS JOIN (SELECT COALESCE(sum(cash), CAST(0 AS DOUBLE)) AS dmass
           |                  FROM $prev WHERE node NOT IN (SELECT src FROM outd)) d
           |    JOIN $prev p ON p.node = nodes.node
           |    LEFT JOIN (SELECT e.dst AS node, sum(p2.cash / o.outd) AS cin
           |                 FROM edges e JOIN outd o USING (src)
           |                 JOIN $prev p2 ON p2.node = e.src
           |                GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
      s"""$LinkEdgesCte,
         |outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |p0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes CROSS JOIN nn),
         |${pr("p0", "p1")},
         |${pr("p1", "p2")},
         |${pr("p2", "p3")},
         |s0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS cash,
         |              CAST(0 AS DOUBLE) AS hist
         |         FROM nodes CROSS JOIN nn),
         |${op("s0", "s1")},
         |${op("s1", "s2")},
         |${op("s2", "s3")},
         |base AS (
         |  SELECT p3.node AS doc_id,
         |         CAST(round(round(p3.rank, 6) * 1000000, 0) AS BIGINT) AS pr_e6,
         |         CAST(round(round((s3.hist + s3.cash) / 4.0, 6) * 1000000, 0)
         |              AS BIGINT) AS opic_e6,
         |         COALESCE(i.ind, 0) AS in_deg
         |    FROM p3 JOIN s3 USING (node)
         |    LEFT JOIN (SELECT dst AS node, count(*) AS ind
         |                 FROM edges GROUP BY dst) i USING (node)),
         |tot AS (SELECT count(*) AS n, CAST(sum(pr_e6) AS BIGINT) AS total_mass FROM base),
         |cuts AS (SELECT k AS decile, (k * n + 9) // 10 AS cut, total_mass
         |           FROM (SELECT unnest(generate_series(1, 10)) AS k), tot),
         |ord AS (
         |  SELECT 'opic' AS strategy, doc_id, pr_e6,
         |         ROW_NUMBER() OVER (ORDER BY -opic_e6, doc_id) AS rnk,
         |         SUM(pr_e6) OVER (ORDER BY -opic_e6, doc_id) AS cum
         |    FROM base
         |  UNION ALL
         |  SELECT 'indegree', doc_id, pr_e6,
         |         ROW_NUMBER() OVER (ORDER BY -in_deg, doc_id),
         |         SUM(pr_e6) OVER (ORDER BY -in_deg, doc_id)
         |    FROM base
         |  UNION ALL
         |  SELECT 'random', doc_id, pr_e6,
         |         ROW_NUMBER() OVER (ORDER BY (doc_id * $RandMul) % $RandMod, doc_id),
         |         SUM(pr_e6) OVER (ORDER BY (doc_id * $RandMul) % $RandMod, doc_id)
         |    FROM base)
         |SELECT o.strategy, CAST(c.decile AS BIGINT) AS decile,
         |       CAST(o.rnk AS BIGINT) AS n_fetched,
         |       round(o.cum * 1.0 / c.total_mass, 4) AS mass_share
         |  FROM ord o JOIN cuts c ON o.rnk = c.cut""".stripMargin
    },

    // the q190 λ̂ chain + the q189 OPIC unroll fused in one WITH (the
    // link-edges CTE body is spliced after the pages CTE), product on
    // the 6-dp-fixed integers, ORDER/LIMIT mirroring the engine's
    // TakeOrderedAndProject.
    "q195_recrawl_priority" -> {
      def op(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT nodes.node,
           |         COALESCE(c.cin, CAST(0 AS DOUBLE)) + d.dmass / nn.n AS cash,
           |         p.hist + p.cash AS hist
           |    FROM nodes CROSS JOIN nn
           |    CROSS JOIN (SELECT COALESCE(sum(cash), CAST(0 AS DOUBLE)) AS dmass
           |                  FROM $prev WHERE node NOT IN (SELECT src FROM outd)) d
           |    JOIN $prev p ON p.node = nodes.node
           |    LEFT JOIN (SELECT e.dst AS node, sum(p2.cash / o.outd) AS cin
           |                 FROM edges e JOIN outd o USING (src)
           |                 JOIN $prev p2 ON p2.node = e.src
           |                GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
      s"""${CrawlQueries.PagesCte},
         |${LinkEdgesCte.stripPrefix("WITH ")},
         |outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS outd FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT node FROM
         |            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |s0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS cash,
         |              CAST(0 AS DOUBLE) AS hist
         |         FROM nodes CROSS JOIN nn),
         |${op("s0", "s1")},
         |${op("s1", "s2")},
         |${op("s2", "s3")},
         |seq AS (
         |  SELECT url, warc_ts, text AS body,
         |         lag(text) OVER (PARTITION BY url ORDER BY warc_ts) AS prev_text
         |    FROM canon),
         |st AS (
         |  SELECT url,
         |         sum(CASE WHEN prev_text IS NOT NULL THEN 1 ELSE 0 END) AS n_intervals,
         |         sum(CASE WHEN prev_text IS NOT NULL AND prev_text <> body
         |                  THEN 1 ELSE 0 END) AS n_changes,
         |         epoch(max(warc_ts)) - epoch(min(warc_ts)) AS span_sec
         |    FROM seq GROUP BY url),
         |lam AS (
         |  SELECT url,
         |         -ln((n_intervals - n_changes + 0.5) / (n_intervals + 0.5))
         |           / (span_sec / (n_intervals * 3600.0)) AS lam
         |    FROM st WHERE n_intervals >= 1 AND span_sec > 0),
         |art AS (
         |  SELECT url,
         |         CAST(nullif(regexp_extract(url, 'articles/([0-9]+)', 1), '')
         |              AS BIGINT) AS doc_id,
         |         CAST(round(round(lam, 6) * 1000000, 0) AS BIGINT) AS lam_e6
         |    FROM lam
         |   WHERE nullif(regexp_extract(url, 'articles/([0-9]+)', 1), '') IS NOT NULL),
         |opx AS (SELECT node AS doc_id,
         |               CAST(round(round((hist + cash) / 4.0, 6) * 1000000, 0)
         |                    AS BIGINT) AS opic_e6
         |          FROM s3)
         |SELECT a.url, a.lam_e6, o.opic_e6,
         |       a.lam_e6 * o.opic_e6 AS priority_e12
         |  FROM art a JOIN opx o USING (doc_id)
         | ORDER BY priority_e12 DESC, url LIMIT $RecrawlTopK""".stripMargin
    },

    "q144_degree_stats" ->
      s"""$LinkEdgesCte,
         |o AS (SELECT src AS doc_id, count(*) AS out_deg FROM edges GROUP BY src),
         |i AS (SELECT dst AS doc_id, count(*) AS in_deg FROM edges GROUP BY dst),
         |rec AS (SELECT a.src AS doc_id, count(*) AS n_reciprocal
         |          FROM edges a JOIN edges b ON a.src = b.dst AND a.dst = b.src
         |         GROUP BY a.src)
         |SELECT COALESCE(o.doc_id, i.doc_id) AS doc_id,
         |       COALESCE(o.out_deg, 0) AS out_deg,
         |       COALESCE(i.in_deg, 0) AS in_deg,
         |       COALESCE(rec.n_reciprocal, 0) AS n_reciprocal
         |  FROM o FULL JOIN i ON o.doc_id = i.doc_id
         |  LEFT JOIN rec ON rec.doc_id = COALESCE(o.doc_id, i.doc_id)""".stripMargin,

    // Both rank boundaries (per-host and global) on the 4-dp-rounded
    // score with doc_id tiebreak — mirrored window + ORDER/LIMIT.
    "q145_serp_collapse" ->
      s"""WITH bm AS ($Bm25OracleSql),
         |h AS (SELECT doc_id, source || '.example.com' AS host FROM documents),
         |r AS (SELECT bm.doc_id, h.host, bm.bm25,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY h.host
         |                  ORDER BY bm.bm25 DESC, bm.doc_id) AS INT) AS host_rank
         |        FROM bm JOIN h USING (doc_id))
         |SELECT doc_id, host, host_rank, bm25 FROM r
         | WHERE host_rank <= $SerpPerHost
         | ORDER BY bm25 DESC, doc_id LIMIT $SerpK""".stripMargin,

    // Field split via list_slice == the engine's posexplode position
    // tag; every constant Scala-interpolated; per-row chains left-assoc
    // on both sides; sum orders absorbed by the 4-dp round.
    "q146_bm25f" ->
      s"""WITH ts AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |posts AS (
         |  SELECT doc_id, unnest(list_slice(t, 1, $Bm25fTitleLen)) AS term, 't' AS field FROM ts
         |  UNION ALL
         |  SELECT doc_id, unnest(list_slice(t, ${Bm25fTitleLen + 1}, len(t))) AS term, 'b' AS field FROM ts),
         |tf AS (SELECT doc_id, field, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM posts
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, field, term),
         |flen AS (SELECT doc_id, field, CAST(count(*) AS DOUBLE) AS fl
         |           FROM posts GROUP BY doc_id, field),
         |avgfl AS (SELECT field, avg(fl) AS avgfl FROM flen GROUP BY field),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         |         FROM (SELECT DISTINCT doc_id, term FROM tf) GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |comb AS (SELECT tf.doc_id, tf.term,
         |                sum((CASE WHEN tf.field = 't' THEN $Bm25fWTitle ELSE $Bm25fWBody END) * tf.tf
         |                    / ((CASE WHEN tf.field = 't' THEN ${1 - Bm25fBTitle} ELSE ${1 - Bm25fBBody} END)
         |                       + (CASE WHEN tf.field = 't' THEN $Bm25fBTitle ELSE $Bm25fBBody END)
         |                         * flen.fl / avgfl.avgfl)) AS tw
         |           FROM tf JOIN flen USING (doc_id, field) JOIN avgfl USING (field)
         |          GROUP BY tf.doc_id, tf.term)
         |SELECT comb.doc_id,
         |       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tw
         |                 / (${graft.ml.Search.K1} + tw)), 4) AS bm25f
         |  FROM comb JOIN df USING (term) CROSS JOIN nd
         | GROUP BY comb.doc_id""".stripMargin,

    // Champion pruning (rank ≤ p per term by tf desc, doc_id) on the
    // query-restricted lists; the scoring formula is q53's token-for-
    // token; the top-k boundary on the rounded score.
    "q147_champion_topk" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |ch AS (SELECT doc_id, term, tf FROM (
         |         SELECT doc_id, term, tf,
         |                ROW_NUMBER() OVER (PARTITION BY term
         |                     ORDER BY tf DESC, doc_id) AS rn FROM tf) AS w
         |        WHERE rn <= $ChampionP),
         |sc AS (SELECT doc_id,
         |              sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |                  / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))) AS raw
         |         FROM ch JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
         |        GROUP BY doc_id)
         |SELECT doc_id, round(raw, 4) AS bm25 FROM sc
         | ORDER BY round(raw, 4) DESC, doc_id LIMIT $ChampionK""".stripMargin,

    // Engine keys are xxhash64 of the canonical token-set join (text
    // never shuffles); the oracle compares the token sets themselves —
    // identical modulo hash collisions (the q85 digest trade). Ratios
    // are single divisions of exactly-summed ints (q140 discipline).
    "q149_snapshot_overlap" ->
      """WITH t AS (SELECT doc_id,
        |              list_sort(list_distinct(string_split(text, ' '))) AS ts
        |         FROM documents),
        |a AS (SELECT DISTINCT ts FROM t WHERE doc_id % 2 = 0),
        |b AS (SELECT DISTINCT ts FROM t WHERE doc_id % 2 = 1),
        |c AS (SELECT count(*) AS n_common FROM a JOIN b USING (ts)),
        |na AS (SELECT count(*) AS n_old FROM a),
        |nb AS (SELECT count(*) AS n_new FROM b)
        |SELECT n_old, n_new, n_common,
        |       CAST(n_common AS DOUBLE) / CAST(n_old + n_new - n_common AS DOUBLE) AS jaccard,
        |       CAST(n_common AS DOUBLE) / CAST(n_new AS DOUBLE) AS containment_new
        |  FROM na CROSS JOIN nb CROSS JOIN c""".stripMargin,

    // The q46 cluster CTE (recursive CC over the ngram-Jaccard pairs)
    // plus the singleton left join and the pmod LCG split rule.
    "q150_leakage_split" ->
      s"""WITH RECURSIVE toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, lang,
         |         list_distinct(list_transform(generate_series(1, len(t)-2),
         |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
         |  FROM toks),
         |pairs AS (SELECT a, b FROM (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |         round(len(list_intersect(a.s, b.s)) * 1.0
         |               / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         |    FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id) AS p
         | WHERE jaccard >= 0.5),
         |edges AS (SELECT a AS src, b AS dst FROM pairs
         |          UNION SELECT b AS src, a AS dst FROM pairs),
         |cc AS (SELECT src AS node, src AS root FROM edges
         |       UNION
         |       SELECT e.dst AS node, cc.root FROM cc JOIN edges e ON cc.node = e.src),
         |lab AS (SELECT node AS doc_id, min(root) AS rep FROM cc GROUP BY node),
         |base AS (SELECT d.doc_id, COALESCE(lab.rep, d.doc_id) AS rep
         |           FROM documents d LEFT JOIN lab ON lab.doc_id = d.doc_id)
         |SELECT doc_id, rep,
         |       CASE WHEN (((rep * 48271 + 11) % 1000) + 1000) % 1000 < $SplitTrainPermille THEN 'train'
         |            WHEN (((rep * 48271 + 11) % 1000) + 1000) % 1000 < ${SplitTrainPermille + SplitValPermille} THEN 'val'
         |            ELSE 'test' END AS split
         |  FROM base""".stripMargin,

    // All set statistics over the df-pruned vocabulary (one coherent
    // universe); the Jaccard gate is the same exact int division both
    // sides; the rank key is all-integer — no float boundary anywhere.
    "q152_hard_negatives" ->
      s"""WITH tok AS (SELECT doc_id, doc_id % 37 = 0 AS is_eval,
         |                    unnest(list_distinct(string_split(text, ' '))) AS term
         |               FROM documents),
         |kept AS (SELECT * FROM tok WHERE term IN
         |           (SELECT term FROM tok GROUP BY term HAVING count(*) <= $HardNegMaxDf)),
         |sz AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
         |sh AS (SELECT e.doc_id AS eval_doc, c.doc_id AS neg_doc, count(*) AS n_shared
         |         FROM kept e JOIN kept c ON e.term = c.term AND e.is_eval AND NOT c.is_eval
         |        GROUP BY eval_doc, neg_doc),
         |g AS (SELECT sh.eval_doc, sh.neg_doc, sh.n_shared
         |        FROM sh JOIN sz se ON se.doc_id = sh.eval_doc
         |                JOIN sz sn ON sn.doc_id = sh.neg_doc
         |       WHERE CAST(n_shared AS DOUBLE)
         |             / CAST(se.sz + sn.sz - n_shared AS DOUBLE) < $HardNegMaxJ),
         |r AS (SELECT eval_doc, neg_doc, n_shared,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY eval_doc
         |                  ORDER BY n_shared DESC, neg_doc) AS INT) AS rank FROM g)
         |SELECT eval_doc, neg_doc, n_shared, rank FROM r WHERE rank <= $HardNegK""".stripMargin,

    // Rank recomputed AFTER the limit (mirrors the engine's bounded
    // window); ln2 interpolated from the ONE Scala evaluation; runtime
    // ln spread absorbed by the 6-dp rounds.
    "q153_retrieval_eval" -> {
      val ln2 = s"CAST(${math.log(2.0)} AS DOUBLE)"
      s"""WITH bm AS ($Bm25OracleSql),
         |ranked AS (SELECT doc_id, bm25,
         |                  ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
         |             FROM (SELECT * FROM bm ORDER BY bm25 DESC, doc_id LIMIT $EvalAtK) AS t),
         |rel AS (SELECT doc_id, CAST(1 AS BIGINT) AS rel FROM (
         |          SELECT doc_id FROM (SELECT doc_id,
         |                   unnest(list_distinct(string_split(text, ' '))) AS term FROM documents) AS u
         |           WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |           GROUP BY doc_id HAVING count(*) = ${Bm25QueryTerms.length}) AS q),
         |hits AS (SELECT ranked.rank, COALESCE(rel.rel, 0) AS rel
         |           FROM ranked LEFT JOIN rel USING (doc_id)),
         |nr AS (SELECT count(*) AS n_relevant FROM rel),
         |m AS (SELECT CAST(sum(rel) AS BIGINT) AS n_hits,
         |             CAST(sum(rel) AS DOUBLE) / ${EvalAtK.toDouble} AS precision_at_k,
         |             round(max(CASE WHEN rel = 1 THEN 1.0 / CAST(rank AS DOUBLE) END), 6) AS mrr,
         |             sum(CAST(rel AS DOUBLE) * $ln2 / ln(CAST(rank AS DOUBLE) + 1.0)) AS dcg_raw
         |        FROM hits),
         |ideal AS (SELECT n_relevant, sum($ln2 / ln(CAST(i AS DOUBLE) + 1.0)) AS idcg_raw
         |            FROM (SELECT n_relevant,
         |                         unnest(CASE WHEN n_relevant > 0
         |                                THEN generate_series(1, least(n_relevant, $EvalAtK))
         |                                ELSE [CAST(NULL AS BIGINT)] END) AS i
         |                    FROM nr) AS s GROUP BY n_relevant)
         |SELECT n_relevant, n_hits, precision_at_k, COALESCE(mrr, 0.0) AS mrr,
         |       round(dcg_raw, 6) AS dcg, round(idcg_raw, 6) AS idcg,
         |       round(dcg_raw / idcg_raw, 6) AS ndcg
         |  FROM m CROSS JOIN ideal""".stripMargin
    },

    // The oracle is the PLAIN exact top-k (q53 formula, raw-score cut
    // with doc_id tiebreak) — the pruning must be invisible by proof.
    "q163_maxscore_topk" ->
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |lens AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl FROM tk),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM lens),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT doc_id, unnest(t) AS term FROM tk) AS u
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, term),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term),
         |sc AS (SELECT doc_id,
         |              sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tf * ${graft.ml.Search.K1 + 1}
         |                  / (tf + ${graft.ml.Search.K1} * (${1 - graft.ml.Search.B} + ${graft.ml.Search.B} * dl / avgdl))) AS raw
         |         FROM tf JOIN df USING (term) JOIN lens USING (doc_id) CROSS JOIN stats
         |        GROUP BY doc_id)
         |SELECT doc_id, round(raw, 4) AS bm25 FROM sc
         | ORDER BY raw DESC, doc_id LIMIT $MaxScoreK""".stripMargin,

    // The oracle sweeps the SAME rounded-Jaccard all-pairs relation the
    // q33/q46 oracles use; zero-pair thresholds survive the left joins.
    "q165_threshold_sweep" -> {
      val tValues = SweepThresholds.map(t => s"(CAST($t AS DOUBLE))").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, lang, string_split(text,' ') AS t FROM documents),
         |sh AS (SELECT doc_id, lang,
         |         list_distinct(list_transform(generate_series(1, len(t)-2),
         |                       i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
         |  FROM toks),
         |p AS (SELECT a.doc_id AS a, b.doc_id AS b,
         |             round(len(list_intersect(a.s, b.s)) * 1.0
         |                   / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
         |        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id),
         |t(threshold) AS (VALUES $tValues),
         |m AS (SELECT t.threshold, p.a, p.b FROM p JOIN t ON p.jaccard >= t.threshold),
         |np AS (SELECT threshold, count(*) AS n_pairs FROM m GROUP BY threshold),
         |nd AS (SELECT threshold, count(*) AS n FROM (
         |         SELECT DISTINCT threshold, doc FROM (
         |           SELECT threshold, a AS doc FROM m
         |           UNION ALL SELECT threshold, b FROM m) AS u) AS v
         |        GROUP BY threshold)
         |SELECT t.threshold, COALESCE(np.n_pairs, 0) AS n_pairs,
         |       COALESCE(nd.n, 0) AS n_docs_affected
         |  FROM t LEFT JOIN np USING (threshold) LEFT JOIN nd USING (threshold)""".stripMargin
    },

    "q164_host_graph" ->
      s"""$LinkEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |h AS (SELECT doc_id, source || '.example.com' AS host FROM documents)
         |SELECT hs.host AS src_host, hd.host AS dst_host, count(*) AS n_links
         |  FROM e JOIN h hs ON hs.doc_id = e.src JOIN h hd ON hd.doc_id = e.dst
         | WHERE hs.host <> hd.host
         | GROUP BY hs.host, hd.host""".stripMargin,

    "q160_coupling_pairs" ->
      s"""$LinkEdgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |p AS (SELECT a.src AS a, b.src AS b, count(*) AS n_shared
         |        FROM e a JOIN e b ON a.dst = b.dst AND a.src < b.src
         |       GROUP BY a.src, b.src)
         |SELECT a, b, n_shared FROM p WHERE n_shared >= 2""".stripMargin,

    // The q146 chain with the anchor posting stream unioned in; weights
    // and (1−b) Scala-interpolated; docs without in-links have no 'a'
    // rows on either side (the Zaragoza convention).
    "q161_anchor_rank" ->
      s"""$LinkEdgesCte,
         |posts AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS term, 'b' AS field FROM documents
         |  UNION ALL
         |  SELECT dst AS doc_id, unnest(string_split(anchor, ' ')) AS term, 'a' AS field FROM edges),
         |tf AS (SELECT doc_id, field, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM posts
         |        WHERE term IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, field, term),
         |flen AS (SELECT doc_id, field, CAST(count(*) AS DOUBLE) AS fl
         |           FROM posts GROUP BY doc_id, field),
         |avgfl AS (SELECT field, avg(fl) AS avgfl FROM flen GROUP BY field),
         |df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
         |         FROM (SELECT DISTINCT doc_id, term FROM tf) GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |comb AS (SELECT tf.doc_id, tf.term,
         |                sum((CASE WHEN tf.field = 'a' THEN $AnchorW ELSE $Bm25fWBody END) * tf.tf
         |                    / ((CASE WHEN tf.field = 'a' THEN ${1 - AnchorB} ELSE ${1 - Bm25fBBody} END)
         |                       + (CASE WHEN tf.field = 'a' THEN $AnchorB ELSE $Bm25fBBody END)
         |                         * flen.fl / avgfl.avgfl)) AS tw
         |           FROM tf JOIN flen USING (doc_id, field) JOIN avgfl USING (field)
         |          GROUP BY tf.doc_id, tf.term)
         |SELECT comb.doc_id,
         |       round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * tw
         |                 / (${graft.ml.Search.K1} + tw)), 4) AS bm25a
         |  FROM comb JOIN df USING (term) CROSS JOIN nd
         | GROUP BY comb.doc_id""".stripMargin,

    // The committed read-back must equal the q126 assignment — the
    // oracle closes the write→manifest→read loop, not just the math.
    "q158_training_shards" ->
      s"""WITH t AS (SELECT doc_id,
         |        CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens
         |        FROM documents),
         |r AS (SELECT doc_id, n_tokens,
         |        ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rank FROM t)
         |SELECT doc_id, n_tokens,
         |       CAST((rank - 1) % $ShardCount AS INT) AS shard
         |  FROM r""".stripMargin,

    // Shingle dedup-per-doc == the engine kernel's LinkedHashSet; the
    // first-occurrence table is min(bucket) per shingle; novelty is the
    // exact int ratio of the two agg outputs.
    "q156_novelty_curve" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |         unnest(list_distinct(list_transform(generate_series(1, len(t)-2),
        |                i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM toks),
        |b AS (SELECT date_trunc('hour',
        |               TIMESTAMP '2024-01-01 00:00:00' + to_minutes(CAST(doc_id AS BIGINT))) AS bucket, s
        |        FROM sh),
        |occ AS (SELECT bucket, s, count(*) AS c FROM b GROUP BY bucket, s),
        |f AS (SELECT s, min(bucket) AS fb FROM occ GROUP BY s)
        |SELECT bucket, count(*) AS n_distinct,
        |       CAST(sum(CASE WHEN bucket = fb THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       CAST(CAST(sum(CASE WHEN bucket = fb THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
        |         / CAST(count(*) AS DOUBLE) AS novelty
        |  FROM occ JOIN f USING (s) GROUP BY bucket""".stripMargin,

    "q154_suffix_lookup" ->
      s"""WITH v AS (SELECT term, count(*) AS df FROM
         |             (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS term
         |                FROM documents) AS u
         |            GROUP BY term)
         |SELECT term, df FROM v WHERE term LIKE '%$SuffixStr'
         | ORDER BY df DESC, term LIMIT $SuffixM""".stripMargin,

    // Injection + proxies mirrored regex-for-regex; exact decimal
    // constants; left-assoc subtraction chain on both sides.
    "q148_readability" ->
      s"""WITH r AS (
         |  SELECT doc_id,
         |         text || CASE WHEN doc_id % 8 = 1
         |                      THEN ' extra clause one. second tiny clause. end.'
         |                      ELSE '' END AS text
         |    FROM documents),
         |m AS (SELECT doc_id,
         |             CAST(len(string_split(text, ' ')) AS DOUBLE) AS w,
         |             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS DOUBLE) AS s,
         |             CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS DOUBLE) AS y
         |        FROM r)
         |SELECT doc_id, CAST(w AS BIGINT) AS n_words, CAST(s AS BIGINT) AS n_sentences,
         |       CAST(y AS BIGINT) AS n_syllables,
         |       round(206.835 - 1.015 * (w / s) - 84.6 * (y / w), 4) AS flesch
         |  FROM m""".stripMargin,

    "q128_prf_expansion" ->
      s"""WITH bm AS ($Bm25OracleSql),
         |top AS (SELECT doc_id FROM bm ORDER BY bm25 DESC, doc_id LIMIT $PrfK),
         |ft AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |         FROM (SELECT d.doc_id,
         |                      CAST(len(string_split(d.text,' ')) AS DOUBLE) AS dl,
         |                      unnest(string_split(d.text,' ')) AS term
         |                 FROM documents d JOIN top USING (doc_id)) AS u
         |        WHERE term NOT IN (${Bm25QueryTerms.map(t => s"'$t'").mkString(",")})
         |        GROUP BY doc_id, dl, term),
         |w AS (SELECT term, round(sum(tf / dl), 4) AS weight
         |        FROM ft GROUP BY term
         |        ORDER BY weight DESC, term LIMIT $PrfM)
         |SELECT term, weight,
         |       CAST(ROW_NUMBER() OVER (ORDER BY weight DESC, term) AS INT) AS rank
         |  FROM w""".stripMargin
  )
}
