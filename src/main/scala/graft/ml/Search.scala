package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Parquet

/** Ranked keyword retrieval over the document corpus — the "indexing"
  * half of a news-indexing engine: BM25 (Robertson/Spärck Jones; the
  * Okapi formula with the Lucene +1 idf floor so idf stays positive for
  * terms in more than half the corpus).
  *
  * Plan shape at 100 TB:
  *   - the postings build explodes tokens and FILTERS TO THE QUERY TERMS
  *     before any aggregation, so every shuffle downstream carries the
  *     query-relevant slice only (|q| terms × matching docs), never the
  *     corpus token stream;
  *   - tf is a two-level hash agg (map-side combine collapses each doc's
  *     repeated terms pre-shuffle);
  *   - df re-aggregates the tf frame (one row per doc×term, so
  *     count == document frequency) — key space = |q| terms;
  *   - corpus-level N/avgdl is a 1-row aggregate attached with a
  *     broadcast cross join (a 1-row BNLJ is a per-row constant, not a
  *     quadratic join);
  *   - top-k goes through orderBy+limit = TakeOrderedAndProject
  *     (partial per-partition top-k, no global sort, no window).
  *
  * Scores are summed raw and rounded to 4 dp only in the output (the
  * oracle mirrors the formula token-for-token; constants are
  * interpolated from [[K1]]/[[B]] so engine and oracle cannot drift).
  */
object Search {

  /** Okapi BM25 defaults (Robertson et al., TREC-3). */
  val K1: Double = 1.2
  val B: Double = 0.75

  /** The BM25 sum over prepared frames — tf (doc_id, term, tf), df
    * (term, df), lens (doc_id, dl), stats (1 row: n_docs, avgdl). Shared
    * by the inline path and the persisted-index path so the formula
    * exists exactly once. */
  private def scoreFrames(tf: DataFrame, df: DataFrame, lens: DataFrame,
      stats: DataFrame): DataFrame = {
    // Parenthesization mirrors the oracle SQL exactly (left-assoc chains)
    // so the double arithmetic is bit-identical per term; only the final
    // sum's addition order differs, absorbed by the 4-dp output rounding.
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val s = idf * col("tf") * lit(K1 + 1) /
      (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl")))
    tf.join(df, Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), s.as("s"))
      .groupBy("doc_id")
      .agg(sum("s").as("bm25_raw"))
  }

  /** (doc_id, bm25_raw) for every document sharing >= 1 term with the
    * query — raw double scores, for callers that sort or threshold. */
  private def scoresRaw(docs: DataFrame, queryTerms: Seq[String]): DataFrame =
    scoresRawRestricted(docs,
      _.filter(col("term").isin(queryTerms.map(t => t: Any): _*)))

  /** scoresRaw with the query-term restriction given as a (term)-column
    * frame to semi-join — the derived-query-terms path, e.g.
    * more-like-this: terms come from a document, not a literal list
    * (stays fully lazy, no driver collect). */
  private def scoresRawTerms(docs: DataFrame, termFrame: DataFrame): DataFrame =
    scoresRawRestricted(docs,
      _.join(broadcast(termFrame), Seq("term"), "left_semi"))

  private def scoresRawRestricted(docs: DataFrame,
      restrict: DataFrame => DataFrame): DataFrame = {
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val tf = restrict(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    scoreFrames(tf, df, lens, stats)
  }

  /** Hybrid retrieval — BM25 leg + embedding-cosine leg fused by
    * reciprocal-rank fusion (Cormack et al. 2009: `Σ 1/(K + rank)`),
    * formulated as more-like-this for a query document: the BM25 query
    * is the document's distinct tokens (derived in-plan, no driver
    * collect) and the vector query is its embedding (1-row broadcast).
    *
    * Rank discipline: each leg cuts to its top-N by (4-dp-rounded score
    * desc, doc_id) — rounding keeps float-association noise out of rank
    * boundaries (the q53 trade), and the window rank then runs on the
    * N-bounded set, never the corpus (the q35 no-global-window
    * discipline; N rows through one window partition is a constant).
    * The query document itself is excluded from both legs. */
  def hybridSearch(docs: DataFrame, emb: DataFrame, queryDocId: Long,
      k: Int, topN: Int = 50, rrfK: Int = 60): DataFrame = {
    // The per-leg rank discipline in ONE place (it is oracle-coupled —
    // the q63 SQL mirrors it clause-for-clause): cut to top-N by
    // (rounded score desc, doc_id), then row_number the bounded set.
    def topRanked(scored: DataFrame, topN: Int, rankCol: String): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      scored
        .orderBy(col("s").desc, col("doc_id")).limit(topN)
        .withColumn(rankCol,
          row_number().over(Window.orderBy(col("s").desc, col("doc_id"))))
        .select(col("doc_id"), col(rankCol))
    }
    val qTerms = docs.filter(col("doc_id") === queryDocId)
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
    val bmRank = topRanked(
      scoresRawTerms(docs, qTerms)
        .filter(col("doc_id") =!= queryDocId)
        .select(col("doc_id"), round(col("bm25_raw"), 4).as("s")),
      topN, "r_bm")
    val qVec = emb.filter(col("vec_id") === queryDocId).select(col("embedding").as("qe"))
    val cosRank = topRanked(
      emb.filter(col("vec_id") =!= queryDocId)
        .crossJoin(broadcast(qVec))
        .select(col("vec_id").as("doc_id"),
          round(graft.functions.expressions.cosine_sim(col("embedding"), col("qe")), 4).as("s")),
      topN, "r_cos")
    bmRank.join(cosRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(rrfK) + col("r_bm")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("r_cos")), lit(0.0))).as("rrf_raw"))
      .orderBy(col("rrf_raw").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), round(col("rrf_raw"), 6).as("rrf"))
  }

  /** BM25 scores for ALL matching documents, rounded to 4 dp — the
    * oracle-checked full relation (no top-k cutoff, so float-noise at a
    * rank boundary cannot flip membership). */
  def bm25Scores(docs: DataFrame, queryTerms: Seq[String]): DataFrame =
    scoresRaw(docs, queryTerms)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("bm25"))

  /** Top-k BM25 retrieval — sorts on the RAW score (ties broken by
    * doc_id for determinism), rounds only the output. orderBy+limit
    * plans as TakeOrderedAndProject: per-partition partial top-k, no
    * global sort (pinned in SearchSpec). */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame =
    scoresRaw(docs, queryTerms)
      .orderBy(col("bm25_raw").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("bm25"))

  /** Static score-based index pruning (Carmel et al., SIGIR 2001,
    * "Static Index Pruning for Information Retrieval Systems"): per term
    * keep only the top-`keepK` postings by BM25 contribution
    * (rounded-rank discipline — q63's rule, so a sub-ulp sum-order
    * wobble cannot move the cut), then evaluate the query over the
    * pruned postings. Returns per matched doc the full and pruned scores
    * plus pruned-tier membership — the retrieval-quality audit a
    * tiered-index deployment runs before shipping the small tier.
    *
    * Plan: contributions are exactly the q53 frames; the only window is
    * per-TERM over matched postings (a q-term query ⇒ q bounded frames,
    * never the corpus); both sums land in one hash agg. */
  def staticPrunedScores(docs: DataFrame, queryTerms: Seq[String],
      keepK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val stats = lens.agg(
      count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfr = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val s = idf * col("tf") * lit(K1 + 1) /
      (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl")))
    val contrib = tf.join(dfr, Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"), s.as("s"))
    val w = Window.partitionBy(col("term"))
      .orderBy(round(col("s"), 4).desc, col("doc_id"))
    contrib
      .withColumn("rk", row_number().over(w))
      .groupBy("doc_id")
      .agg(
        round(sum("s"), 4).as("bm25_full"),
        round(sum(when(col("rk") <= keepK, col("s")).otherwise(lit(0.0))), 4)
          .as("bm25_pruned"),
        max((col("rk") <= keepK).cast("int")).cast("boolean").as("in_pruned"))
  }

  /** Pruned-tier retrieval quality: recall@k of the [[staticPrunedScores]]
    * small tier against the full ranking, at each cut in `ks` — the
    * go/no-go curve a tiered-index deployment reads before routing
    * traffic to the pruned tier. Both rankings order by the 4-dp rounded
    * score with doc_id ties (deterministic, oracle-coupled); each top-k
    * is orderBy+limit = TakeOrderedAndProject, never a global window. */
  def prunedRecallAtK(docs: DataFrame, queryTerms: Seq[String], keepK: Int,
      ks: Seq[Int]): DataFrame = {
    val sc = staticPrunedScores(docs, queryTerms, keepK)
    ks.map { k =>
      val fullK = sc.orderBy(col("bm25_full").desc, col("doc_id")).limit(k)
        .select("doc_id")
      val prunedK = sc.filter(col("in_pruned"))
        .orderBy(col("bm25_pruned").desc, col("doc_id")).limit(k)
        .select("doc_id")
      fullK.join(prunedK, Seq("doc_id"), "left_semi")
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(k).as("k"), col("n_overlap"),
          round(col("n_overlap").cast("double") / k, 4).as("recall_at_k"))
    }.reduce(_ unionByName _)
  }

  /** Host-collapsed top-k (SERP diversity): at most `maxPerHost` results
    * per publisher host before the global cut — the result-page dedup
    * every web engine applies so one syndicating host can't fill the
    * page. `docs` must carry (doc_id, text, host).
    *
    * Rank discipline (q63's rounded-rank rule, oracle-coupled): the
    * per-host rank orders by (4-dp-rounded score desc, doc_id), and the
    * global cut reuses the same key — sub-ulp sum-order noise can't move
    * either boundary. The window runs on the MATCHED-docs frame (docs
    * containing ≥1 query term), never the corpus; the global cut is
    * orderBy+limit = TakeOrderedAndProject. */
  def bm25HostCollapsed(docs: DataFrame, queryTerms: Seq[String], k: Int,
      maxPerHost: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hosts = docs.select(col("doc_id"), col("host"))
    val scored = scoresRaw(docs, queryTerms)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("s"))
      .join(hosts, Seq("doc_id"))
    val w = Window.partitionBy(col("host")).orderBy(col("s").desc, col("doc_id"))
    scored
      .withColumn("host_rank", row_number().over(w))
      .filter(col("host_rank") <= maxPerHost)
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), col("host"), col("host_rank"), col("s").as("bm25"))
  }

  /** BM25F (Robertson/Zaragoza/Taylor 2004): fielded BM25 where each
    * term's per-field tf is length-normalized INSIDE its field, the
    * normalized tfs combine with field weights, and saturation applies
    * ONCE to the combined value — the principled way to boost titles
    * (vs naively scoring fields separately and adding, which
    * double-saturates). Here the title field is the first `titleLen`
    * tokens of the document (the fixture corpus has no markup fields;
    * the split is deterministic and oracle-mirrored).
    *
    * score(q,d) = Σ_t idf_t · t̃ / (k1 + t̃),
    *   t̃ = Σ_f w_f · tf_{f,t,d} / (1 − b_f + b_f·fl_{f,d}/avgfl_f).
    *
    * Plan: ONE posexplode of the corpus token stream tagged with its
    * field → query-term filter BEFORE any shuffle → (doc, field, term)
    * two-level hash agg; field lengths aggregate on the same stream;
    * avgfl is a 2-row broadcast; df counts distinct docs per term on the
    * tf frame. Float discipline: every constant ((1−b_f), weights, k1)
    * is Scala-evaluated and interpolated into the oracle; per-row chains
    * are left-assoc on both sides; only sum orders differ, absorbed by
    * the 4-dp output rounding. */
  def bm25fScores(docs: DataFrame, queryTerms: Seq[String], titleLen: Int = 6,
      wTitle: Double = 2.0, wBody: Double = 1.0,
      bTitle: Double = 0.5, bBody: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && titleLen >= 1, "need query terms and a title split")
    val posts = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
      .select(col("doc_id"), col("term"),
        when(col("pos") < titleLen, lit("t")).otherwise(lit("b")).as("field"))
    bm25TwoField(posts, docs.agg(count(lit(1)).cast("double").as("n_docs")),
      queryTerms, "t", wTitle, bTitle, wBody, bBody, "bm25f")
  }

  /** BM25F with the ANCHOR field (the classic web-ranking signal: what
    * OTHER pages call a page weighs more than what it says about
    * itself): field 'a' = the incoming anchor-text token stream from
    * the link graph (`anchors`: (dst, anchor) per edge), field 'b' =
    * the document body; same [[bm25fScores]] math — per-field length
    * norm, weighted combine, ONE saturation. A page with no in-links
    * simply has no 'a' rows (its anchor tf is zero and it takes no part
    * in the anchor field-length average — the Zaragoza convention). */
  def bm25AnchorScores(docs: DataFrame, anchors: DataFrame, queryTerms: Seq[String],
      wAnchor: Double = 3.0, wBody: Double = 1.0,
      bAnchor: Double = 0.5, bBody: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "need query terms")
    val posts = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .withColumn("field", lit("b"))
      .unionByName(anchors
        .select(col("dst").as("doc_id"), explode(split(col("anchor"), " ")).as("term"))
        .withColumn("field", lit("a")))
    bm25TwoField(posts, docs.agg(count(lit(1)).cast("double").as("n_docs")),
      queryTerms, "a", wAnchor, bAnchor, wBody, bBody, "bm25a")
  }

  /** The shared two-field BM25F pipeline over a tagged posting stream —
    * the formula exists ONCE for the title and anchor flavors. Field
    * `f1` carries (w1, b1); every other tag carries (w2, b2). */
  private def bm25TwoField(posts: DataFrame, nd: DataFrame, queryTerms: Seq[String],
      f1: String, w1: Double, b1: Double, w2: Double, b2: Double,
      outCol: String): DataFrame = {
    val inQ = col("term").isin(queryTerms.map(t => t: Any): _*)
    val tf = posts.filter(inQ)
      .groupBy("doc_id", "field", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val flen = posts.groupBy("doc_id", "field")
      .agg(count(lit(1)).cast("double").as("fl"))
    val avgfl = flen.groupBy("field").agg(avg("fl").as("avgfl"))
    val df = tf.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val is1 = col("field") === f1
    val wf = when(is1, lit(w1)).otherwise(lit(w2))
    val oneMinusBf = when(is1, lit(1 - b1)).otherwise(lit(1 - b2))
    val bf = when(is1, lit(b1)).otherwise(lit(b2))
    val combined = tf
      .join(flen, Seq("doc_id", "field"))
      .join(broadcast(avgfl), Seq("field"))
      .select(col("doc_id"), col("term"),
        (wf * col("tf") / (oneMinusBf + bf * col("fl") / col("avgfl"))).as("tw"))
      .groupBy("doc_id", "term").agg(sum("tw").as("tw"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    combined
      .join(df, Seq("term"))
      .crossJoin(broadcast(nd))
      .select(col("doc_id"), (idf * col("tw") / (lit(K1) + col("tw"))).as("s"))
      .groupBy("doc_id").agg(round(sum("s"), 4).as(outCol))
  }

  /** Champion-list (impact-ordered, statically pruned) retrieval: each
    * term's postings list keeps only its top-`p` documents by
    * (tf desc, doc_id) — the classic static index-pruning trade
    * (Manning/Raghavan/Schütze §7.1.3): a term can only score docs on
    * its champion list, idf/df stay those of the FULL lists (pruning
    * changes candidates, not term statistics). Output = top-k of the
    * approximate scores.
    *
    * Per-term pruning commutes with query restriction (each list prunes
    * independently), so the query-term filter still runs FIRST — the
    * window ranks only |q| aggregated lists, and the rank-≤-p filter
    * plans as WindowGroupLimit (partial limit below the exchange, the
    * op-101 pin). */
  def championTopK(docs: DataFrame, queryTerms: Seq[String], p: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(p >= 1 && k >= 1, "need positive champion-list size and k")
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val w = Window.partitionBy(col("term")).orderBy(col("tf").desc, col("doc_id"))
    val champions = tf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= p)
      .drop("rn")
    scoreFrames(champions, df, lens, stats)
      .orderBy(round(col("bm25_raw"), 4).desc, col("doc_id")).limit(k)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("bm25"))
  }

  /** Retrieval-quality evaluation of the BM25 ranking against a
    * deterministic relevance rule (relevant = documents containing ALL
    * query terms — the q64 boolean conjunction as synthetic qrels): one
    * row with precision@k, MRR, DCG@k, ideal DCG, and NDCG@k — the
    * search-quality audit a ranking change ships with.
    *
    * Rank boundary on the (4-dp-rounded score, doc_id) key (q63 rule);
    * DCG discounts are rel·ln2/ln(rank+1) with ln2 Scala-evaluated and
    * interpolated into the oracle (runtime ln's ≤1-ulp spread is
    * absorbed by the 6-dp rounds); the ideal DCG sums the same discount
    * over the first min(k, n_relevant) positions via a generated
    * sequence — no second ranking pass. All counts are exact ints;
    * precision@k is one exact int/int division. */
  def retrievalEval(docs: DataFrame, queryTerms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty && k >= 1, "need query terms and positive k")
    val ln2 = math.log(2.0) // Scala-evaluated; oracle interpolates
    val ranked = scoresRaw(docs, queryTerms)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("s").desc, col("doc_id"))))
    val rel = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy("doc_id").agg(count(lit(1)).as("nq"))
      .filter(col("nq") === queryTerms.length)
      .select(col("doc_id"), lit(1L).as("rel"))
    val nRel = rel.agg(count(lit(1)).as("n_relevant"))
    val hits = ranked.join(rel, Seq("doc_id"), "left").na.fill(0L, Seq("rel"))
    val dcgTerm = col("rel").cast("double") * lit(ln2) / log(col("rank").cast("double") + lit(1.0))
    val measured = hits.agg(
      sum("rel").as("n_hits"),
      (sum("rel").cast("double") / lit(k.toDouble)).as("precision_at_k"),
      round(max(when(col("rel") === 1, lit(1.0) / col("rank").cast("double"))), 6).as("mrr"),
      sum(dcgTerm).as("dcg_raw"))
    // explode_outer keeps the one-row shape when n_relevant == 0
    // (idcg/ndcg go NULL instead of the output vanishing).
    val ideal = nRel
      .select(col("n_relevant"),
        when(col("n_relevant") > 0,
          sequence(lit(1L), least(col("n_relevant"), lit(k.toLong))))
          .as("seq"))
      .select(col("n_relevant"), explode_outer(col("seq")).as("i"))
      .groupBy("n_relevant")
      .agg(sum(lit(ln2) / log(col("i").cast("double") + lit(1.0))).as("idcg_raw"))
    measured.crossJoin(broadcast(ideal))
      .select(col("n_relevant"), col("n_hits"), col("precision_at_k"),
        coalesce(col("mrr"), lit(0.0)).as("mrr"),
        round(col("dcg_raw"), 6).as("dcg"),
        round(col("idcg_raw"), 6).as("idcg"),
        round(col("dcg_raw") / col("idcg_raw"), 6).as("ndcg"))
  }

  /** Leading-wildcard term lookup (`*suffix`): vocabulary terms ENDING
    * with `suffix`, ranked by document frequency — via the REVERSED-
    * dictionary trick (store/scan reverse(term), so a leading wildcard
    * becomes a prefix match; on a term-sorted persisted dictionary this
    * is a contiguous range scan instead of a full-vocabulary regex, cf.
    * the op-71 prefix path). Vocabulary-grain work only: one distinct
    * postings agg for df, the reverse-prefix filter, then
    * orderBy+limit = TakeOrderedAndProject on the all-integer
    * (df desc, term) key. */
  def suffixSuggest(docs: DataFrame, suffix: String, m: Int): DataFrame = {
    require(suffix.nonEmpty && m >= 1, "need a suffix and positive m")
    docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(reverse(col("term")).startsWith(suffix.reverse))
      .orderBy(col("df").desc, col("term")).limit(m)
      .select(col("term"), col("df"))
  }

  /** MaxScore-bounded EXACT top-k retrieval (Turtle & Flood 1995 /
    * the WAND family, batch-shaped): compute per-term UPPER BOUNDS
    * (each term's maximum per-document score contribution), lower-bound
    * the kth score with a champion pass, and fully score ONLY documents
    * whose sum of matched-term upper bounds reaches that threshold.
    * Provably exact: θ is the kth-best FULL score of the champion docs
    * (a subset ⇒ θ ≤ true kth), and any doc with full score ≥ θ has
    * Σ ub_t ≥ score ≥ θ, so every true top-k doc survives the bound
    * filter. Output == [[bm25TopK]] by construction (pinned in
    * SearchSpec); at scale the rescoring set is the small bound-passing
    * slice instead of every matching document.
    *
    * Plan: the per-(doc, term) contribution frame is built once with
    * the q53 shapes (query-filter-first postings, two-level tf agg,
    * 1-row stats broadcast); bounds/θ are term-count- and 1-row-sized
    * broadcasts; the champion pass reuses the WindowGroupLimit shape;
    * the final cut is TakeOrderedAndProject. */
  def maxScoreTopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
      p: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty && k >= 1 && p >= 1, "need terms, k, p")
    val lens = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("double").as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val idf = log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val contrib = tf.join(df, Seq("term")).join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (idf * col("tf") * lit(K1 + 1) /
          (col("tf") + lit(K1) * (lit(1 - B) + lit(B) * col("dl") / col("avgdl")))).as("s"))
    // per-term upper bound: the best contribution any document gets
    val ub = contrib.groupBy("term").agg(max("s").as("ub"))
    // champion pass → θ = kth-best FULL score among champion docs
    val champDocs = contrib
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("s").desc, col("doc_id"))))
      .filter(col("rn") <= p).select("doc_id").distinct()
    // θ is a valid kth-score lower bound ONLY once the champion pass
    // surfaced ≥ k distinct docs (the min over fewer docs would sit
    // ABOVE the true kth and prune real results) — below that the
    // threshold collapses to −∞ and nothing is pruned.
    val theta = contrib.join(champDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(sum("s").as("raw"))
      .orderBy(col("raw").desc, col("doc_id")).limit(k)
      .agg(min("raw").as("theta_k"), count(lit(1)).as("n_champ"))
      .select(when(col("n_champ") >= k, col("theta_k"))
        .otherwise(lit(Double.NegativeInfinity)).as("theta"))
    // bound filter: docs whose matched-term bound sum reaches θ
    val candidates = contrib.select("doc_id", "term")
      .join(broadcast(ub), Seq("term"))
      .groupBy("doc_id").agg(sum("ub").as("bound"))
      .crossJoin(broadcast(theta))
      .filter(col("bound") >= col("theta"))
      .select("doc_id")
    contrib.join(candidates, Seq("doc_id"), "left_semi")
      .groupBy("doc_id").agg(sum("s").as("raw"))
      .orderBy(col("raw").desc, col("doc_id")).limit(k)
      .select(col("doc_id"), round(col("raw"), 4).as("bm25"))
  }

  /** Dirichlet-smoothing default (Zhai & Lafferty 2001/2004's standard). */
  val Mu: Double = 2000.0

  /** Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    * Lafferty) — the LANGUAGE-MODEL ranking family next to BM25 (op 59):
    * score(q, d) = Σ_{t∈q} ln((tf_{t,d} + μ·cf_t/|C|) / (|d| + μ)).
    * Absent terms still contribute (tf = 0 via the smoothed collection
    * prior), which is what distinguishes the QL shape from BM25's
    * matched-terms-only sum; terms with collection frequency 0 are
    * excluded by construction (their likelihood is undefined).
    *
    * Plan: the per-doc×query-term frame is lens × broadcast(|q| term
    * stats) — a broadcast expand by |q|, never a shuffle — with tf
    * left-joined from the query-filtered postings (the q53 slice
    * discipline); |C| comes off the lens frame (Σ dl — no second corpus
    * scan). Float discipline: tf/cf/dl/|C| are integer-valued doubles;
    * μ·cf/|C| and the ln operand are spelled operand-for-operand in the
    * oracle; round(…,4) absorbs sum order (q55). */
  def qlmScores(docs: DataFrame, queryTerms: Seq[String], mu: Double = Mu): DataFrame = {
    require(queryTerms.nonEmpty && mu > 0, "need query terms and mu > 0")
    val inQ = col("term").isin(queryTerms.map(t => t: Any): _*)
    val lens = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    val ctot = lens.agg(sum("dl").as("c_total"))
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = toks.filter(inQ).groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"))
    val cf = toks.filter(inQ).groupBy("term")
      .agg(count(lit(1)).cast("double").as("cf"))
    lens.crossJoin(broadcast(cf.crossJoin(ctot)))
      .join(tf, Seq("doc_id", "term"), "left")
      .na.fill(0.0, Seq("tf"))
      .withColumn("s",
        log((col("tf") + lit(mu) * col("cf") / col("c_total")) / (col("dl") + lit(mu))))
      .groupBy("doc_id")
      .agg(round(sum("s"), 4).as("qlm"))
  }

  /** Pseudo-relevance-feedback expansion terms (Rocchio/RM1 family): run
    * the query, take the top-k feedback docs, and rank candidate
    * expansion terms by their length-normalized feedback mass
    * Σ_{d∈topk} tf_{t,d}/|d| — the "related query terms" every search
    * tier derives, and the input to an expanded second-pass retrieval.
    * Original query terms are excluded.
    *
    * Determinism discipline: the feedback set cuts on the 4-dp-ROUNDED
    * BM25 score (doc_id tiebreak — the q63/q72 rounded-rank rule), and
    * the expansion rank cuts on the 4-dp-rounded weight (term-asc
    * tiebreak), so float association noise cannot move either boundary.
    * Plan: top-k = TakeOrderedAndProject; the feedback corpus is a
    * left-semi join against k doc_ids; the m-row rank window runs
    * POST-limit on an m-bounded frame. */
  def prfExpansionTerms(docs: DataFrame, queryTerms: Seq[String],
      k: Int = 10, m: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && m >= 1, "need k >= 1 feedback docs and m >= 1 terms")
    val top = bm25Scores(docs, queryTerms)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)
      .select("doc_id")
    val tf = docs.join(top, Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("double").as("dl"),
        explode(split(col("text"), " ")).as("term"))
      .filter(!col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val w = tf.groupBy("term")
      .agg(round(sum(col("tf") / col("dl")), 4).as("weight"))
      .orderBy(col("weight").desc, col("term").asc).limit(m)
    w.withColumn("rank",
      row_number().over(Window.orderBy(col("weight").desc, col("term").asc)))
  }

  /** Freshness-weighted BM25 (op 112): news ranking is relevance ×
    * RECENCY — score = bm25 · 2^(−age/halfLife), the half-life decay
    * boost every news-search tier applies on top of lexical relevance
    * (yesterday's identical story must rank below today's). `docs` must
    * carry a non-null `published_ts` (rows with a null date are dropped —
    * an undated article has no freshness to weight); `now` is the
    * caller's pinned clock (never wall-clock — determinism). Age clamps
    * at 0: a future-dated article (embargo stamps, clock skew) counts as
    * maximally fresh, never as a >1 boost.
    *
    * Plan: the decay is computed on the DOC grain and joined AFTER the
    * BM25 aggregation (one doc-grain equi-join against the
    * (doc_id, published_ts) projection — the multiply never enters the
    * per-term scoring agg, and the postings side still carries only the
    * query slice). Float discipline: age is integer seconds over one
    * exact /86400.0; the clamp, decay pow and final multiply are single
    * ops mirrored operand-for-operand in the oracle; 4-dp rounding
    * absorbs sub-ulp drift (the q53 ln precedent). */
  def bm25FreshScores(docs: DataFrame, queryTerms: Seq[String],
      nowEpochSec: Long, halfLifeDays: Double): DataFrame = {
    val raw = scoresRaw(docs.select(col("doc_id"), col("text")), queryTerms)
    val ages = docs
      .filter(col("published_ts").isNotNull)
      .select(col("doc_id"),
        greatest(lit(0.0),
          (lit(nowEpochSec) - unix_timestamp(col("published_ts"))).cast("double")
            / lit(86400.0)).as("age_days"))
    raw.join(ages, Seq("doc_id"))
      .select(col("doc_id"),
        round(col("bm25_raw") *
          pow(lit(0.5), col("age_days") / lit(halfLifeDays)), 4).as("fresh_bm25"))
  }

  /** Persisted inverted index, Lucene-style segment model — the
    * index-once/query-many deployment split a news-indexing engine
    * actually runs, PLUS O(new docs) incremental maintenance
    * ([[updateIndex]]). Layout under `path`:
    *   postings/seg=K/ (term, doc_id, tf) — each segment repartitioned +
    *     sorted by term, so parquet row-group min/max stats prune a
    *     query-term read down to a handful of row groups (the
    *     `term IN (...)` predicate pushes to the scan; at 100 TB this is
    *     the difference between reading a vocabulary-sized slice and
    *     reading the index). NOT `partitionBy("term")`: a web-scale
    *     vocabulary would mean millions of directories.
    *   lens/seg=K/ (doc_id, dl) — per-doc lengths, segmented like
    *     postings (appends never rewrite).
    *   dfreq_vN/ (term, df), stats_vN/ (1 row: n_docs, avgdl) —
    *     corpus-GLOBAL tables, versioned: each update writes the merged
    *     generation N and the manifest points at it.
    *   tombs/t=J/ (doc_id) — tombstone sets from [[deleteDocs]]; doc-level
    *     readers anti-join the committed union, compaction reclaims.
    *   _INDEX_COMMITTED — the manifest, written LAST via atomic rename:
    *     `{"segs":[0..K],"v":N,"tombs":[..]}`. Readers consult ONLY the
    *     manifest (a crashed update's orphan seg / dfreq / tomb dirs are
    *     invisible until committed; per-table _SUCCESS files cover one
    *     table each). */
  def saveIndex(docs: DataFrame, path: String, epoch: Long = -1L): Unit = {
    writeSegment(docs, path, seg = 0)
    writeGlobals(docs.sparkSession, path, segs = Seq(0), v = 0)
    commitManifest(path, segs = Seq(0), v = 0, epoch)
  }

  /** Incremental maintenance: append `newDocs` as a new segment and
    * remerge ONLY the vocabulary-sized df table and the 1-row stats —
    * existing postings segments are never rewritten, so an update costs
    * O(new docs + vocabulary), not O(index). Contract: `newDocs` doc_ids
    * are NEW (an upsert of a changed doc is delete+insert — the crawl
    * layer's latest-capture-wins dedup upstream guarantees this here).
    * Equivalent to indexing the union from scratch (pinned in
    * SearchSpec). */
  def updateIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      newDocs: DataFrame, epoch: Long = -1L): Unit = {
    val m = readManifest(path)
    // Fail fast on re-adding a tombstoned doc_id: the readers' global
    // anti-join would hide the NEW copy, and the next compaction would
    // drop its rows before clearing the tombstone — silent, permanent
    // loss. Costs one small semi-join job, and only while tombstones are
    // outstanding (compact first, then re-add).
    if (m.tombs.nonEmpty) {
      val readded = newDocs.select(col("doc_id"))
        .join(readTombs(spark, path, m).get, Seq("doc_id"), "left_semi")
        .limit(1).count()
      require(readded == 0L,
        s"updateIndex at $path re-adds tombstoned doc_ids; compactIndex " +
          "first to clear tombstones, or use fresh doc_ids")
    }
    val seg = m.segs.max + 1
    writeSegment(newDocs, path, seg)
    writeGlobalsIncremental(spark, path, m, seg)
    commitManifest(path, m.segs :+ seg, m.v + 1, epoch, m.tombs)
    // Superseded generations GC'd AFTER the new manifest commits (cf. the
    // q45/q57 eviction ordering). GC is IMMEDIATE: correct for the
    // single-writer deployment here (a reader that planned against the
    // old manifest must run before the next update); a multi-session
    // deployment with long-running concurrent readers should delay this
    // loop by a grace period or pin generations — same class of trade as
    // the documented localCheckpoint one in Corpus.connectedComponents.
    for (old <- 0 until (m.v + 1); t <- Seq("dfreq", "stats"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$path/${t}_v$old"))
  }

  private def writeSegment(docs: DataFrame, path: String, seg: Int): Unit = {
    // Positional postings (the Lucene .prx trade): `positions` rides each
    // (doc, term) row so phrase/proximity queries run off the index with
    // no corpus scan ([[phraseDocsFromIndex]]/[[proximityDocsFromIndex]]).
    // Index size grows by one int per token occurrence; scoring readers
    // simply never project the column (parquet column pruning — the BM25
    // scan cost is unchanged). sort_array makes the artifact deterministic
    // (collect_list order is partition-dependent).
    val tf = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).cast("double").as("tf"),
        sort_array(collect_list(col("p"))).as("positions"))
    tf.repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/postings/seg=$seg")
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("double").as("dl"))
      .write.mode("overwrite").parquet(s"$path/lens/seg=$seg")
  }

  /** Full re-derivation of the global df/stats generation `v` from the
    * given segments (save/compact path — reads everything it writes
    * anyway). stats carries `sum_dl` alongside the derived `avgdl` so the
    * incremental path can fold it without rescanning lens segments. */
  private def writeGlobals(spark: org.apache.spark.sql.SparkSession,
      path: String, segs: Seq[Int], v: Int): Unit = {
    readSegs(spark, path, "postings", segs)
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .write.mode("overwrite").parquet(s"$path/dfreq_v$v")
    readSegs(spark, path, "lens", segs)
      .agg(count(lit(1)).cast("double").as("n_docs"), sum("dl").as("sum_dl"))
      .select(col("n_docs"), col("sum_dl"),
        (col("sum_dl") / col("n_docs")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$path/stats_v$v")
  }

  /** Incremental globals for [[updateIndex]] — the cost contract the
    * docstring promises: merge the PREVIOUS generation's vocabulary-sized
    * dfreq with the new segment's df (union + sum per term) and fold the
    * 1-row stats (counts and length-sums add; avgdl re-derived), never
    * rescanning existing postings/lens segments. Falls back to the full
    * recompute for a pre-`sum_dl` stats generation. */
  private def writeGlobalsIncremental(spark: org.apache.spark.sql.SparkSession,
      path: String, m: Manifest, newSeg: Int): Unit = {
    val prevStats = Parquet.read(spark, s"$path/stats_v${m.v}")
    if (!prevStats.columns.contains("sum_dl")) {
      writeGlobals(spark, path, m.segs :+ newSeg, m.v + 1); return
    }
    val newDf = readSegs(spark, path, "postings", Seq(newSeg))
      .groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    Parquet.read(spark, s"$path/dfreq_v${m.v}")
      .unionByName(newDf)
      .groupBy("term").agg(sum("df").as("df"))
      .write.mode("overwrite").parquet(s"$path/dfreq_v${m.v + 1}")
    val newStats = readSegs(spark, path, "lens", Seq(newSeg))
      .agg(count(lit(1)).cast("double").as("n_docs"), sum("dl").as("sum_dl"))
    prevStats.select(col("n_docs"), col("sum_dl"))
      .unionByName(newStats)
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"))
      .select(col("n_docs"), col("sum_dl"),
        (col("sum_dl") / col("n_docs")).as("avgdl"))
      .write.mode("overwrite").parquet(s"$path/stats_v${m.v + 1}")
  }

  private def readSegs(spark: org.apache.spark.sql.SparkSession, path: String,
      table: String, segs: Seq[Int]): DataFrame =
    Parquet.read(spark, segs.map(k => s"$path/$table/seg=$k"): _*)

  private case class Manifest(segs: Seq[Int], v: Int, epoch: Long,
      tombs: Seq[Int] = Nil)

  private def manifestPath(path: String) =
    java.nio.file.Paths.get(path, "_INDEX_COMMITTED")

  private def commitManifest(path: String, segs: Seq[Int], v: Int,
      epoch: Long, tombs: Seq[Int] = Nil): Unit = {
    val tmp = java.nio.file.Paths.get(path, s"_INDEX_COMMITTED.tmp$v")
    java.nio.file.Files.writeString(tmp,
      s"""{"segs":[${segs.mkString(",")}],"v":$v,"epoch":$epoch""" +
        s""","tombs":[${tombs.mkString(",")}]}""")
    java.nio.file.Files.move(tmp, manifestPath(path),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private def readManifest(path: String): Manifest = {
    val s = java.nio.file.Files.readString(manifestPath(path))
    val segs = "\"segs\":\\[([0-9,]*)\\]".r.findFirstMatchIn(s)
      .map(_.group(1)).filter(_.nonEmpty)
      .getOrElse(throw new IllegalStateException(s"bad index manifest: $s"))
      .split(',').toSeq.map(_.trim.toInt)
    val v = "\"v\":([0-9]+)".r.findFirstMatchIn(s)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalStateException(s"bad index manifest: $s"))
    // epoch absent in pre-epoch manifests → -1 (no batch committed)
    val epoch = "\"epoch\":(-?[0-9]+)".r.findFirstMatchIn(s)
      .map(_.group(1).toLong).getOrElse(-1L)
    // tombs absent in pre-delete manifests → none (backward compatible)
    val tombs = "\"tombs\":\\[([0-9,]*)\\]".r.findFirstMatchIn(s)
      .map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(',').toSeq.map(_.trim.toInt)).getOrElse(Nil)
    Manifest(segs, v, epoch, tombs)
  }

  /** The committed tombstone doc_id set (empty frame if none). */
  private def readTombs(spark: org.apache.spark.sql.SparkSession,
      path: String, m: Manifest): Option[DataFrame] =
    if (m.tombs.isEmpty) None
    else Some(Parquet.read(spark, m.tombs.map(t => s"$path/tombs/t=$t"): _*)
      .select("doc_id").distinct())

  /** Drop tombstoned docs from a doc_id-carrying frame (no-op when the
    * index has no tombstones — the anti-join never enters the plan). */
  private def minusTombs(df: DataFrame, tombs: Option[DataFrame]): DataFrame =
    tombs.fold(df)(t => df.join(t, Seq("doc_id"), "left_anti"))

  /** Delete documents from the index — the takedown/robots-revocation
    * path that completes the segment lifecycle's CRUD (a publisher opts
    * out, a legal request lands, a crawl-trap's pages get purged). The
    * Lucene trade, faithfully: a delete writes a TOMBSTONE doc_id set
    * and commits a new manifest — O(deleted), no segment rewrite — and
    * every doc-level reader anti-joins it, so deleted docs vanish from
    * results IMMEDIATELY; the vocabulary-sized df/stats tables are NOT
    * adjusted until [[compactIndex]] (correcting df would require
    * scanning every segment's postings for the deleted docs — O(index),
    * exactly what a tombstone exists to avoid), so scores drift slightly
    * until the merge reclaims the space and recomputes globals exactly.
    * Term-level readers ([[prefixSuggestFromIndex]]) read dfreq and share
    * that stale-until-merge window. Contract: a tombstoned doc_id must
    * not be re-added by [[updateIndex]] before a compaction clears the
    * tombstone (the crawl layer never reuses doc ids). */
  def deleteDocs(spark: org.apache.spark.sql.SparkSession, path: String,
      docIds: DataFrame): Unit = {
    val m = readManifest(path)
    val t = (m.tombs :+ -1).max + 1
    docIds.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .write.mode("overwrite").parquet(s"$path/tombs/t=$t")
    commitManifest(path, m.segs, m.v, m.epoch, m.tombs :+ t)
  }

  /** True iff `path` holds a fully committed index. */
  def indexCommitted(path: String): Boolean =
    java.nio.file.Files.exists(manifestPath(path))

  /** The streaming epoch recorded by the last manifest commit (-1 if
    * none) — the idempotence guard for [[indexBatch]] replays. */
  def indexEpoch(path: String): Long =
    if (indexCommitted(path)) readManifest(path).epoch else -1L

  /** Fold one streaming micro-batch into the index, exactly once: a
    * foreachBatch retry re-delivers THE batch id the manifest already
    * committed (commit-then-crash-before-checkpoint), and the epoch
    * guard makes that replay a no-op — without it the segment would be
    * appended twice. An epoch BELOW the committed one is not a retry —
    * it means a fresh/foreign checkpoint was pointed at a live index
    * (epochIds restart at 0), and silently skipping would drop every
    * batch up to the old high-water mark; that is an error the operator
    * must resolve (new indexPath, or restore the checkpoint). Returns
    * true iff the batch was applied. */
  def indexBatch(batch: DataFrame, path: String, epochId: Long): Boolean = {
    if (indexCommitted(path)) {
      val committed = readManifest(path).epoch
      if (epochId == committed) false // retry of the committed epoch
      else if (epochId < committed)
        throw new IllegalStateException(
          s"epoch regression: batch $epochId < committed $committed at $path — " +
            "a fresh stream checkpoint is writing to an existing index; " +
            "use a new indexPath or restore the original checkpoint")
      else if (batch.isEmpty) false
      else { updateIndex(batch.sparkSession, path, batch, epochId); true }
    } else if (batch.isEmpty) false
    else { saveIndex(batch, path, epochId); true }
  }

  /** BM25 over a persisted index — no corpus scan: the query-term filter
    * pushes into every postings-segment parquet scan (row-group pruning
    * via the build-time sort), dfreq is pre-merged and
    * vocabulary-sized, lens joins on doc_id, stats is one row. Reads
    * ONLY the manifest's committed segments/generation. Result ==
    * [[bm25Scores]] over the indexed corpus (pinned in SearchSpec). */
  def bm25ScoresFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      queryTerms: Seq[String]): DataFrame = {
    val m = readManifest(path)
    val inQuery = col("term").isin(queryTerms.map(t => t: Any): _*)
    val tf = minusTombs(
      readSegs(spark, path, "postings", m.segs).filter(inQuery),
      readTombs(spark, path, m))
    val df = Parquet.read(spark, s"$path/dfreq_v${m.v}").filter(inQuery)
    val lens = readSegs(spark, path, "lens", m.segs)
    val stats = Parquet.read(spark, s"$path/stats_v${m.v}")
    scoreFrames(tf, df, lens, stats)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("bm25"))
  }

  /** Compaction — the Lucene merge step that completes the segment
    * lifecycle: folds every committed segment into ONE freshly sorted
    * postings/lens segment (restoring maximal row-group pruning after
    * many small appends) and commits a new generation. The old segments
    * stay valid until the manifest swap and are GC'd only after commit —
    * immediately, which is safe for the single-writer deployment here;
    * concurrent long-running readers in a multi-session deployment need
    * a GC grace period (see updateIndex). The indexed relation is
    * unchanged (pinned in SearchSpec). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val m = readManifest(path)
    val seg = m.segs.max + 1
    // The merge RECLAIMS tombstoned docs: postings/lens rows anti-join the
    // tombstone set before the fold, then the full globals re-derivation
    // (below) recomputes df/stats exactly — the point where the
    // stale-until-merge drift [[deleteDocs]] documents ends.
    val tombs = readTombs(spark, path, m)
    minusTombs(readSegs(spark, path, "postings", m.segs), tombs)
      .repartition(col("term")).sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/postings/seg=$seg")
    minusTombs(readSegs(spark, path, "lens", m.segs), tombs)
      .write.mode("overwrite").parquet(s"$path/lens/seg=$seg")
    writeGlobals(spark, path, Seq(seg), m.v + 1)
    commitManifest(path, Seq(seg), m.v + 1, m.epoch, tombs = Nil)
    for (old <- m.segs; t <- Seq("postings", "lens"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$path/$t/seg=$old"))
    for (t <- Seq("dfreq", "stats"))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$path/${t}_v${m.v}"))
    for (t <- m.tombs)
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$path/tombs/t=$t"))
  }

  /** Search-result snippets: for documents containing `term`, the token
    * window [pos-window, pos+window] around its FIRST occurrence — what
    * a news-search result page renders under each hit. Pure codegen'd
    * Column algebra (split / array_position / slice / array_join) — a
    * map stage with a filter, no shuffle. */
  def snippets(docs: DataFrame, term: String, window: Int = 3): DataFrame = {
    val toks = split(col("text"), " ")
    val pos = array_position(toks, term) // 1-based; 0 when absent
    val start = greatest(lit(1L), pos - window)
    docs
      .select(col("doc_id"), pos.as("pos"),
        array_join(slice(toks, start, pos + lit(window.toLong) - start + 1), " ")
          .as("snippet"))
      .filter(col("pos") > 0)
      .select(col("doc_id"), col("snippet"))
  }

  /** Related terms by co-occurrence: the terms appearing in the most
    * documents that also contain `seed` (document-frequency grain —
    * each doc votes once per term) — query-suggestion's simplest
    * useful form. Plan: the seed filter prunes the corpus FIRST, the
    * per-doc distinct explode feeds a two-level hash agg, and top-k is
    * orderBy+limit = TakeOrderedAndProject (ties broken term-asc for
    * determinism). */
  def cooccurringTerms(docs: DataFrame, seed: String, k: Int): DataFrame = {
    val toks = split(col("text"), " ")
    docs
      .filter(array_contains(toks, seed))
      .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
      .filter(col("term") =!= seed)
      .groupBy("term")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("n_docs").desc, col("term"))
      .limit(k)
  }

  /** Boolean retrieval — the third classic search query type (after
    * ranked q53 and phrase q56): documents containing ALL `must` terms
    * and NONE of `mustNot`. Postings shape, not a per-row array scan, so
    * the SAME plan runs over the persisted index
    * ([[booleanDocsFromIndex]]): distinct-term postings filter to the
    * query terms BEFORE any aggregation (shuffles carry |q| terms ×
    * matching docs), the conjunction is a count==|must| group (postings
    * are distinct per doc, so count == matched-term count), and the
    * exclusion is a left_anti join on doc_id. */
  def booleanDocs(docs: DataFrame, must: Seq[String],
      mustNot: Seq[String]): DataFrame = {
    val postings = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    booleanFromPostings(postings, must, mustNot)
  }

  /** [[booleanDocs]] over the persisted index — no corpus scan: both term
    * filters push into the postings-segment parquet scans (row-group
    * pruning via the build-time term sort, same as
    * [[bm25ScoresFromIndex]]). The index's tf table is (doc, term)-unique
    * by construction, so it IS the distinct-term postings. Result ==
    * [[booleanDocs]] over the indexed corpus (pinned in SearchSpec). */
  def booleanDocsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, must: Seq[String], mustNot: Seq[String]): DataFrame = {
    val m = readManifest(path)
    minusTombs(
      booleanFromPostings(
        readSegs(spark, path, "postings", m.segs), must, mustNot),
      readTombs(spark, path, m))
  }

  private def booleanFromPostings(postings: DataFrame, must: Seq[String],
      mustNot: Seq[String]): DataFrame = {
    require(must.nonEmpty, "boolean query needs at least one must term")
    // dedup the query (not the corpus): distinct per-doc postings can hit
    // a repeated must term only once, so counting against the raw size
    // would make a duplicated term silently unsatisfiable — and diverge
    // from matchAlerts' array_distinct discipline.
    val mustD = must.distinct
    val hits = postings
      .filter(col("term").isin(mustD.map(t => t: Any): _*))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      .filter(col("n_hit") === mustD.size)
      .select("doc_id")
    if (mustNot.isEmpty) hits
    else hits.join(
      postings.filter(col("term").isin(mustNot.distinct.map(t => t: Any): _*))
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")
  }

  /** Faceted search — the result-page facet panel: for documents matching
    * `term`, hit counts per facet combination (e.g. source × lang).
    * Term filter prunes the corpus first (a codegen'd array_contains map
    * stage), then one hash aggregation on the facet grain — cardinality
    * = the facet-value cross product, tiny next to the corpus. */
  def searchFacets(docs: DataFrame, term: String,
      facets: Seq[String]): DataFrame =
    docs
      .filter(array_contains(split(col("text"), " "), term))
      .groupBy(facets.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))

  /** Trending terms — burst detection over the publish timeline (the
    * news-analytics "what's spiking today" query): per time bucket, each
    * term's document frequency against its own all-bucket mean, ranked by
    * that burst ratio. `bucketOf` maps a document row to its bucket (the
    * fixture derives it from doc_id — publish time is doc_id-determined;
    * production passes date_trunc of the publish timestamp).
    *
    * Plan shape at 100 TB: per-doc distinct explode → two-level hash agg
    * on (bucket, term) — map-side combine collapses each partition's
    * token stream; the per-term total re-aggregates the (bucket, term)
    * frame (vocabulary-sized); the bucket count is a 1-row broadcast; the
    * rank window partitions BY BUCKET over min-support-filtered
    * vocabulary rows, never documents. The burst ratio
    * `df_bucket * n_buckets / df_total` is integer×integer → one double
    * division — bit-identical in the oracle (no sum-order noise), so the
    * rank cut is stable; ties break term-asc. */
  def trendingTerms(docs: DataFrame, bucketOf: org.apache.spark.sql.Column,
      k: Int = 5, minDf: Long = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = docs.select(bucketOf.as("bucket"), col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val bucketDf = perDoc.groupBy("bucket", "term")
      .agg(count(lit(1)).as("df_bucket"))
    val totals = bucketDf.groupBy("term").agg(sum("df_bucket").as("df_total"))
    val nb = bucketDf.select(col("bucket")).distinct()
      .agg(count(lit(1)).as("n_buckets"))
    val ratio = (col("df_bucket") * col("n_buckets")).cast("double") / col("df_total")
    bucketDf
      .join(totals, Seq("term"))
      .crossJoin(broadcast(nb))
      .filter(col("df_bucket") >= minDf)
      .withColumn("ratio_raw", ratio)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("ratio_raw").desc, col("term"))))
      .filter(col("rank") <= k)
      .select(col("bucket"), col("term"), col("df_bucket"),
        round(col("ratio_raw"), 4).as("burst_ratio"), col("rank"))
  }

  /** Prefix autocomplete — the search-box suggestion query: the top-k
    * corpus terms starting with `prefix`, ranked by document frequency.
    * The dictionary derives from distinct-term postings (two-level hash
    * agg), the prefix filter is a codegen'd startswith on the
    * vocabulary-sized frame, and top-k is orderBy+limit =
    * TakeOrderedAndProject. Over a persisted index this is a dfreq-table
    * scan — vocabulary-sized, no corpus read. */
  def prefixSuggest(docs: DataFrame, prefix: String, k: Int): DataFrame =
    docs
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term").startsWith(prefix))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)

  /** [[prefixSuggest]] over the persisted index — the deployment shape
    * the docstring promises: the dictionary IS the committed dfreq
    * generation (vocabulary-sized, pre-merged across segments), so the
    * suggestion query never touches the corpus or even the postings —
    * a dfreq scan + startswith + TakeOrderedAndProject. Result ==
    * [[prefixSuggest]] over the indexed corpus (pinned in SearchSpec). */
  def prefixSuggestFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, prefix: String, k: Int): DataFrame = {
    val m = readManifest(path)
    Parquet.read(spark, s"$path/dfreq_v${m.v}")
      .filter(col("term").startsWith(prefix))
      .select(col("term"), col("df").cast("long").as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** Exact phrase search: documents containing `phrase` as consecutive
    * whitespace tokens. A phrase of n words IS a word n-gram, so this
    * reuses the native `shingles_n` kernel at width n(phrase):
    * scan → codegen'd array_contains filter — a pure map stage, no
    * shuffle, no UDF; column pruning keeps the scan at (doc_id, text).
    * (Multi-space runs in the phrase would never match the kernel's
    * split(' ') token grain — so the needle IS normalized here: extra
    * whitespace in `phrase` collapses before matching.) */
  def phraseDocs(docs: DataFrame, phrase: String): DataFrame = {
    val tokens = phrase.split(' ').filter(_.nonEmpty)
    require(tokens.nonEmpty, "phrase must contain at least one token")
    val needle = tokens.mkString(" ")
    docs
      .filter(array_contains(
        graft.functions.expressions.shingles_n(col("text"), tokens.length), needle))
      .select(col("doc_id"))
  }

  /** The per-doc term→positions map for a bounded term set, off the
    * committed index — shared by the index-backed phrase and proximity
    * queries. The term filter pushes into every postings-segment scan
    * (row-group pruning via the build-time term sort, as in
    * [[bm25ScoresFromIndex]]); a doc lives in exactly one segment, so
    * (doc, term) is unique and the map build is one hash agg over the
    * |terms| × matching-docs slice. Fails fast on a pre-positions index
    * generation (rebuild or compact to upgrade). */
  private def positionsByDoc(spark: org.apache.spark.sql.SparkSession,
      path: String, terms: Seq[String]): DataFrame = {
    val m = readManifest(path)
    val postings = readSegs(spark, path, "postings", m.segs)
    require(postings.columns.contains("positions"),
      s"index at $path predates positional postings — re-save or compact it")
    minusTombs(
      postings.filter(col("term").isin(terms.distinct.map(t => t: Any): _*)),
      readTombs(spark, path, m))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("term"), col("positions"))))
        .as("pm"))
  }

  /** [[phraseDocs]] over the persisted index — no corpus scan: the
    * phrase's terms pull their position lists from the positional
    * postings, candidate docs are those holding EVERY phrase term (map
    * membership), and the alignment check — some start p in pos(t0) with
    * p+i in pos(ti) for every offset i — runs as an `exists` over the
    * candidate docs' bounded position lists only (the lambda is
    * interpreted, but its input is |phrase terms| positions of docs that
    * already contain all terms — never the corpus token stream; the same
    * budget-bounded-HOF trade as fuzzySuggest's key builder). Repeated
    * phrase tokens resolve through the same map entry. Result ==
    * [[phraseDocs]] over the indexed corpus (pinned in SearchSpec). */
  def phraseDocsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, phrase: String): DataFrame = {
    val toks = phrase.split(' ').filter(_.nonEmpty)
    require(toks.nonEmpty, "phrase must contain at least one token")
    val pm = positionsByDoc(spark, path, toks.toSeq)
    val allPresent = toks.distinct
      .map(t => col("pm").getItem(t).isNotNull)
      .reduce(_ && _)
    val aligned = exists(col("pm").getItem(toks.head),
      p => toks.zipWithIndex.tail
        .map { case (t, i) => array_contains(col("pm").getItem(t), p + i) }
        .foldLeft(lit(true))(_ && _))
    pm.filter(allPresent).filter(aligned).select("doc_id")
  }

  /** [[proximityDocs]] over the persisted index: the two terms' position
    * lists come from the positional postings (term-pruned scan), and the
    * band check |pa−pb| ≤ w is a nested `exists` over the candidate
    * docs' two bounded lists — no corpus scan, no position join. Result
    * == [[proximityDocs]] over the indexed corpus (pinned in
    * SearchSpec). */
  def proximityDocsFromIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, termA: String, termB: String, w: Int): DataFrame = {
    require(termA != termB, "proximity needs two distinct terms")
    val pm = positionsByDoc(spark, path, Seq(termA, termB))
    val near = exists(col("pm").getItem(termA),
      pa => exists(col("pm").getItem(termB), pb => abs(pa - pb) <= w))
    pm.filter(col("pm").getItem(termA).isNotNull &&
        col("pm").getItem(termB).isNotNull)
      .filter(near)
      .select("doc_id")
  }

  /** TF-IDF keyword extraction — the top-k most characteristic terms per
    * document (doc tagging / related-article features; the classic
    * per-document summary an indexer exports next to BM25's per-query
    * ranking).
    *
    * Plan shape at 100 TB: tf is the usual two-level hash agg (map-side
    * combine collapses repeats pre-shuffle, the shuffle carries
    * (doc, term, k)); df re-aggregates the tf frame's vocabulary-keyed
    * side and joins back on the term key (vocabulary-sized build side —
    * AQE broadcasts from measured size); N rides a 1-row broadcast. The
    * top-k rank window partitions BY DOCUMENT over that doc's distinct
    * terms — a frame bounded by document length, never corpus-sized (the
    * no-global-window discipline of q35/q63).
    *
    * Float discipline: score = tf · ln(N/df) — one int×double multiply of
    * one libm log per row, no sums, so Spark and the oracle compute the
    * same double up to libm's 1-ulp bound; the rank ORDERS ON THE
    * 4-dp-ROUNDED score (term-asc tie-break) so a sub-ulp wiggle cannot
    * move a rank boundary (q63's rounded-rank-cut rule). */
  def tfidfKeywords(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val score = round(col("tf") * log(col("n_docs") / col("df")), 4)
    tf.join(df, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", score)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= k)
      .select("doc_id", "term", "tf", "tfidf", "rank")
  }

  /** Proximity search — documents where `termA` and `termB` occur within
    * `w` token positions of each other (news search's phrase-adjacent
    * query type: "merger NEAR/5 lawsuit").
    *
    * Plan shape at 100 TB: posexplode then FILTER TO THE TWO TERMS before
    * anything else — the join input carries only the two terms' position
    * lists, a |hits| frame, never the corpus token stream; the pairing is
    * an equi-join on doc_id between two slices of that filtered frame
    * (band predicate |pa-pb| ≤ w applied post-join on the bounded
    * per-doc position lists), and the output dedups on doc_id with a
    * semi-style distinct. Position base (0- vs 1-based) cancels in the
    * absolute difference, so the oracle's 1-based ordinality matches. */
  def proximityDocs(docs: DataFrame, termA: String, termB: String,
      w: Int): DataFrame = {
    require(termA != termB, "proximity needs two distinct terms")
    val pos = docs
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p", "term")))
      .filter(col("term").isin(termA, termB))
    val a = pos.filter(col("term") === termA).select(col("doc_id"), col("p").as("pa"))
    val b = pos.filter(col("term") === termB).select(col("doc_id"), col("p").as("pb"))
    a.join(b, Seq("doc_id"))
      .filter(abs(col("pa") - col("pb")) <= w)
      .select("doc_id").distinct()
  }

  /** Saved-alert evaluation — the standing-query side of a news engine:
    * a TABLE of boolean alerts (alert_id, must: array<string>,
    * must_not: array<string>) evaluated against the corpus in ONE plan,
    * returning every (alert_id, doc_id) where the document contains ALL
    * of the alert's must terms and NONE of its must_not terms. [[
    * booleanDocs]] answers one ad-hoc query; this is the multi-query
    * batch a production alerting tier runs per crawl batch.
    *
    * Plan shape at 100 TB: the alert table is the SMALL dimension
    * (thousands of alerts vs billions of documents). Must and must_not
    * terms fold into ONE flagged alert-term dim (alert_id, term,
    * w = 1/0, n_terms) on a broadcast, so the whole operator is ONE
    * corpus scan → one broadcast inner join (which both prunes the token
    * stream to alert-relevant postings and fans each posting out to its
    * alerts) → one hash agg on (alert_id, doc_id): a match is
    * `sum(w) == |distinct must|` (every must term hit, postings are
    * distinct per doc) AND `count == sum(w)` (no must_not row joined —
    * the exclusion needs no second scan or anti join). Per-alert terms
    * are deduplicated in-plan (array_distinct) so a sloppy alert
    * definition cannot break the count conjunction.
    *
    * An alert with an empty must list matches nothing (it contributes no
    * w=1 rows, and docs with none of its must_not terms never join) —
    * surfaced semantics, not an error: match-everything standing queries
    * are a different operator. */
  def matchAlerts(docs: DataFrame, alerts: DataFrame): DataFrame = {
    val nTerms = size(array_distinct(col("must"))).as("n_terms")
    val must = alerts.select(col("alert_id"), nTerms,
      explode(array_distinct(col("must"))).as("term"), lit(1L).as("w"))
    val mustNot = alerts.select(col("alert_id"), nTerms,
      explode(array_distinct(col("must_not"))).as("term"), lit(0L).as("w"))
    // distinct over the DIM (alert-table-sized): a re-ingested alert feed
    // can carry the same alert row twice, and duplicated dim rows would
    // double every joined term count — silently unsatisfying the
    // n_hit == n_terms conjunction. A term in both must and must_not of
    // one alert keeps both rows (different w) and still matches nothing.
    val at = must.unionByName(mustNot).distinct()
    docs
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .join(broadcast(at), Seq("term"))
      .groupBy("alert_id", "doc_id", "n_terms")
      .agg(sum("w").as("n_hit"), count(lit(1)).as("n_rows"))
      .filter(col("n_hit") === col("n_terms") && col("n_rows") === col("n_hit"))
      .select("alert_id", "doc_id")
  }

  /** Next-word suggestion — the bigram language model behind a search
    * box's type-ahead: for a seed term, the top-k tokens that FOLLOW it
    * in the corpus, with the bigram's conditional probability
    * p(next | seed) = n(seed, next) / Σ n(seed, ·).
    *
    * Plan shape at 100 TB: a codegen'd array_contains filter prunes the
    * corpus to seed-containing documents FIRST (the q59/q65 discipline —
    * the bigram construction never touches non-matching documents); the
    * pairing is arrays_zip of two slice views of the token array (all
    * codegen'd builtins, no lambda HOF on the corpus path, no shuffle of
    * token streams); counts are a two-level hash agg on the next-term
    * key; the seed total rides a 1-row broadcast; top-k is orderBy+limit
    * = TakeOrderedAndProject. p is int/int in one double division —
    * bit-identical in the oracle, so the (n desc, next) rank cut is
    * stable. */
  def nextWords(docs: DataFrame, seed: String, k: Int): DataFrame = {
    val toks = split(col("text"), " ")
    val c = docs
      .filter(array_contains(toks, seed))
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1).as("w1"),
        slice(toks, lit(2), size(toks) - 1).as("w2"))).as("bg"))
      .filter(col("bg.w1") === seed)
      .groupBy(col("bg.w2").as("next"))
      .agg(count(lit(1)).as("n"))
    val tot = c.agg(sum("n").as("tot"))
    c.crossJoin(broadcast(tot))
      .select(col("next"), col("n"),
        round(col("n") * lit(1.0) / col("tot"), 4).as("p"))
      .orderBy(col("n").desc, col("next")).limit(k)
  }

  /** Fuzzy term lookup — dictionary terms within Levenshtein distance 1
    * of each query string, ranked by document frequency (the "did you
    * mean" / typo-tolerant suggestion box).
    *
    * Scale shape: the naive plan is |queries| × |vocabulary| levenshtein
    * calls — a cross join that dies when both sides are large. This uses
    * the SymSpell deletion-neighborhood instead (Garbe 2012, public
    * domain): a pair at distance ≤ 1 MUST share a key in
    * {t} ∪ deletions1(t) (equal → t itself; deletion/insertion → one IS
    * a 1-deletion of the other; substitution at i → both 1-deletions at
    * i agree), so candidates come from an EQUI-JOIN on the deletion key
    * — vocabulary-side keys ≈ |V| · (avg_len+1), query-side the same,
    * shuffle on short strings. The neighborhood over-generates at
    * exactly distance 2 (e.g. transposed affixes sharing a middle
    * deletion), so a codegen'd `levenshtein ≤ 1` verify filters the
    * candidate set — |candidates| rows, never |V|·|Q|.
    *
    * The deletion keys are built with sequence/transform HOFs — these
    * run interpreted (the round-2 finding), but ONLY over the
    * vocabulary/query frames, never the corpus token stream; the
    * corpus-sized work (vocab extraction) stays in the codegen'd
    * two-level agg. */
  def fuzzySuggest(docs: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val vocab = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    def delKeys(c: org.apache.spark.sql.Column) =
      array_union(
        array(c),
        transform(sequence(lit(0), length(c) - 1),
          i => concat(c.substr(lit(1), i), c.substr(i + lit(2), length(c)))))
    val vk = vocab.select(col("term"), col("df"),
      explode(delKeys(col("term"))).as("key"))
    val qk = queries.select(col("q"),
      explode(delKeys(col("q"))).as("key"))
    import org.apache.spark.sql.expressions.Window
    vk.join(qk, Seq("key"))
      .filter(levenshtein(col("q"), col("term")) <= 1)
      .select("q", "term", "df").distinct() // shared keys → dup candidate pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("df").desc, col("term"))))
      .filter(col("rank") <= k)
  }

  /** Posting-list compression audit — delta-gap + variable-byte coding
    * (Scholer, Williams, Yiannis & Zobel, SIGIR'02; Zobel & Moffat, ACM
    * Computing Surveys'06 §8): the storage planner's answer to "what does
    * the q57 inverted index cost on disk, and what does gap+VByte coding
    * save?". Per term with df ≥ `minDf`: raw bytes (8 per 64-bit doc id),
    * VByte bytes of the gap sequence (first gap = doc_id+1 so ids at 0
    * still encode ≥1; VByte length = ⌈bits/7⌉ via an exact integer CASE
    * ladder, identical in the oracle), and the compression ratio.
    *
    * Plan shape at 100 TB: distinct-term postings collapse map-side
    * (text never shuffles — only (term, doc_id) pairs ride the one
    * exchange, the q57 index-build profile); the sorted-id array and
    * both byte counts are per-term aggregate state, the same frames an
    * index writer materializes anyway. All outputs are exact integers
    * (ratio = integer/integer, rounded 4 dp). */
  def postingCompressionAudit(docs: DataFrame, minDf: Int = 5): DataFrame = {
    // VByte bytes for a gap v ≥ 1: k bytes iff v < 128^k = 2^(7k) — an
    // exact integer ladder up to the 9-byte ceiling of a 63-bit value,
    // spelled the same way in the DuckDB oracle.
    def vbyteLen(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (1 to 8).foldRight(lit(9L): org.apache.spark.sql.Column) { (k, rest) =>
        when(v < lit(1L << (7 * k)), lit(k.toLong)).otherwise(rest)
      }
    docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= minDf)
      .select(col("term"), col("ids"),
        expr("""transform(ids, (x, i) ->
                 CASE WHEN i = 0 THEN x + 1 ELSE x - element_at(ids, i) END)""")
          .as("gaps"))
      .select(col("term"),
        size(col("ids")).cast("long").as("df"),
        (size(col("ids")).cast("long") * lit(8L)).as("raw_bytes"),
        aggregate(col("gaps"), lit(0L), (acc, g) => acc + vbyteLen(g))
          .as("vbyte_bytes"))
      .withColumn("ratio",
        round(col("vbyte_bytes").cast("double") / col("raw_bytes"), 4))
  }

  /** Rank-biased precision (Moffat & Zobel, "Rank-Biased Precision for
    * Measurement of Retrieval Effectiveness", TOIS 2008) — the
    * user-model eval metric next to [[retrievalEval]]'s P@k/MRR/NDCG:
    * a reader inspects rank 1 and continues with persistence p, so
    * RBP = (1−p)·Σ relᵢ·p^(i−1); the residual p^k bounds how much an
    * unjudged tail could still add (the metric's built-in uncertainty,
    * the reason TREC adopted it for shallow judgments). Relevance =
    * q153's conjunctive definition.
    *
    * Exactness device: p is the RATIONAL pNum/pDen, so every weight
    * (1−p)p^(i−1) scaled by pDen^k is the exact integer
    * (pDen−pNum)·pNum^(i−1)·pDen^(k−i) — the weights are
    * Scala-computed and interpolated into the oracle (a2 discipline),
    * the weighted sum is an integer, and RBP/residual are one double
    * division each. The rank frame is the k-row post-limit dim. */
  def rbpEval(docs: DataFrame, queryTerms: Seq[String], k: Int,
      pNum: Int = 4, pDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queryTerms.nonEmpty && k >= 1 && 0 < pNum && pNum < pDen,
      "need terms, positive k, 0 < p < 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val ranked = scoresRaw(docs, queryTerms)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("s"))
      .orderBy(col("s").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("s").desc, col("doc_id"))))
    val rel = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .filter(col("term").isin(queryTerms.map(t => t: Any): _*))
      .groupBy("doc_id").agg(count(lit(1)).as("nq"))
      .filter(col("nq") === queryTerms.length)
      .select(col("doc_id"), lit(1L).as("rel"))
    val weights = rbpWeights(k, pNum, pDen).toSeq.toDF("rank", "wt")
    // exact integer powers widened to double (≤ 2^52), then one
    // correctly-rounded division — deterministic, unlike math.pow
    val denom = BigInt(pDen).pow(k).toDouble
    val residual = BigInt(pNum).pow(k).toDouble / denom
    ranked.join(rel, Seq("doc_id"), "left").na.fill(0L, Seq("rel"))
      .join(broadcast(weights), Seq("rank"))
      .agg(count(lit(1)).as("n_ranked"), sum("rel").as("n_hits"),
        sum(col("rel") * col("wt")).as("num"))
      .crossJoin(broadcast(rel.agg(count(lit(1)).as("n_relevant"))))
      .select(lit(k).as("k"), col("n_relevant"), col("n_hits"),
        round(col("num").cast("double") / lit(denom), 6).as("rbp"),
        round(lit(residual), 6).as("rbp_residual"))
  }

  /** The exact integer RBP weights (rank → (pDen−pNum)·pNum^(r−1)·
    * pDen^(k−r)) — shared with the oracle via interpolation. */
  def rbpWeights(k: Int, pNum: Int, pDen: Int): Seq[(Int, Long)] =
    (1 to k).map(i => i ->
      (BigInt(pDen - pNum) * BigInt(pNum).pow(i - 1) * BigInt(pDen).pow(k - i))
        .toLong)

  /** Elias–Fano posting-list size audit — the succinct-encoding
    * companion of [[postingCompressionAudit]] (Elias '74 / Fano '71;
    * Vigna, "Quasi-succinct indices", WSDM'13 made it the modern
    * default for web-scale inverted indexes; Ottaviano & Venturini's
    * partitioned variant powers production engines). For each term's
    * strictly-increasing posting list of n ids over universe
    * U = max_id + 1:
    *
    *   l        = max(0, ⌊log₂(U/n)⌋)          (low-bit width)
    *   ef_bits  = n·l  +  n + ⌊U / 2^l⌋        (low array + unary highs)
    *
    * — within half a bit per element of the information-theoretic
    * minimum, WITH random access (unlike VByte's sequential gaps; the
    * reason EF wins for skip-heavy conjunctive queries). Every
    * quantity is exact integer arithmetic: ⌊log₂⌋ via a CASE ladder
    * over powers of two, the shift via integral division — spelled
    * identically in the oracle, so the relation is hash-exact.
    *
    * Plan shape: identical to q199's (one (term, doc_id) exchange,
    * per-term aggregate frames); emitting both codecs' sizes per term
    * lets the storage planner pick per-list (the partitioned-EF
    * insight) rather than per-index. */
  def eliasFanoAudit(docs: DataFrame, minDf: Int = 5): DataFrame = {
    def vbyteLen(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (1 to 8).foldRight(lit(9L): org.apache.spark.sql.Column) { (k, rest) =>
        when(v < lit(1L << (7 * k)), lit(k.toLong)).otherwise(rest)
      }
    // max k in [0, 40] with 2^k ≤ q  (q ≥ 1; fixture universes are tiny,
    // the 40-bit ceiling covers a 10^12-page universe)
    def floorLog2(q: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      (1 to 40).foldLeft(lit(0L): org.apache.spark.sql.Column) { (acc, k) =>
        when(q >= lit(1L << k), lit(k.toLong)).otherwise(acc)
      }
    docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy("term")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) >= minDf)
      .select(col("term"), col("ids"),
        size(col("ids")).cast("long").as("df"),
        (element_at(col("ids"), -1).cast("long") + 1L).as("universe"),
        expr("""transform(ids, (x, i) ->
                 CASE WHEN i = 0 THEN x + 1 ELSE x - element_at(ids, i) END)""")
          .as("gaps"))
      .withColumn("l", floorLog2(expr("universe DIV df")))
      .select(col("term"), col("df"), col("universe"), col("l"),
        ((col("df") * col("l") + col("df") +
          expr("universe DIV CAST(pow(2, l) AS BIGINT)") + lit(7L))
          .cast("long")).as("ef_bits_p7"),
        aggregate(col("gaps"), lit(0L), (acc, g) => acc + vbyteLen(g))
          .as("vbyte_bytes"))
      .select(col("term"), col("df"), col("universe"), col("l"),
        (col("ef_bits_p7") - 7L).as("ef_bits"),
        expr("ef_bits_p7 DIV 8").as("ef_bytes"),
        col("vbyte_bytes"))
      .withColumn("ef_vs_vbyte",
        round(col("ef_bytes").cast("double") / col("vbyte_bytes"), 4))
  }

  /** Maximal-Marginal-Relevance diversified re-ranking (Carbonell &
    * Goldstein, SIGIR'98) — the SERP-diversity pass after scoring: from
    * the BM25 top-`n` candidate pool, greedily select `k` results,
    * each maximizing  λ·relevance − (1−λ)·max-similarity-to-selected,
    * so near-duplicate hits (syndicated copies that survived dedup,
    * same-story rewrites) cannot monopolize the page — the
    * query-time complement of q145's host collapse.
    *
    * Determinism/oracle discipline: candidates are ordered by the
    * 4-dp-ROUNDED BM25 (doc_id tiebreak — the q63 rounded-rank rule);
    * pairwise similarity is 3-shingle Jaccard rounded 4 dp (q33's
    * grain); each greedy step computes mmr = λ·bm25 − (1−λ)·penalty on
    * those already-rounded inputs (λ literals Scala-evaluated, the
    * q143 interpolation rule) and rounds to 6 dp BEFORE the argmax, so
    * both engines pick identical winners. The oracle unrolls the k
    * greedy steps as chained CTEs.
    *
    * Plan shape: everything after the TakeOrderedAndProject top-n runs
    * on n-bounded frames (n² similarity pairs, k tiny argmax rounds) —
    * query-bounded, never corpus-bounded; the corpus-scale work is
    * exactly q53's scoring pass. */
  def mmrRerank(docs: DataFrame, queryTerms: Seq[String], n: Int = 10,
      k: Int = 5, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= n, "need 1 <= k <= n")
    val cands = scoresRaw(docs, queryTerms)
      .select(col("doc_id"), round(col("bm25_raw"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(n)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("bm25"),
        graft.functions.expressions.shingles3(col("text")).as("sh"))
      .localCheckpoint()
    val sims = cands.as("a")
      .join(cands.as("b"), col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y"),
        round(size(array_intersect(col("a.sh"), col("b.sh"))).cast("double") /
          size(array_union(col("a.sh"), col("b.sh"))).cast("double"), 4).as("sim"))
      .localCheckpoint()
    val mu = 1.0 - lambda // Scala-evaluated; oracle interpolates
    var selected = cands
      .orderBy(col("bm25").desc, col("doc_id")).limit(1)
      .select(col("doc_id"), col("bm25"), lit(0.0).as("max_sim"),
        round(lit(lambda) * col("bm25"), 6).as("mmr"), lit(1).as("rank"))
      .localCheckpoint()
    for (r <- 2 to k) {
      val selIds = selected.select(col("doc_id").as("y"))
      val pen = sims.join(broadcast(selIds), Seq("y"), "left_semi")
        .groupBy(col("x").as("doc_id")).agg(max("sim").as("pen"))
      val next = cands
        .join(selected.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(pen, Seq("doc_id"), "left")
        .select(col("doc_id"), col("bm25"),
          coalesce(col("pen"), lit(0.0)).as("max_sim"))
        .withColumn("mmr",
          round(lit(lambda) * col("bm25") - lit(mu) * col("max_sim"), 6))
        .orderBy(col("mmr").desc, col("doc_id")).limit(1)
        .withColumn("rank", lit(r))
      selected = selected.unionByName(next).localCheckpoint()
    }
    selected.select(col("rank"), col("doc_id"), col("bm25"),
      col("max_sim"), col("mmr"))
  }

}
