package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Parquet
import graft.operators.Rounds

/** Corpus-level training-data operations that sit ON TOP of the dedup /
  * similarity primitives: turning near-dup PAIRS into duplicate CLUSTERS
  * (connected components), decontaminating a corpus against an eval set,
  * deterministic stratified sampling, and corpus token statistics.
  *
  * Scale design notes (the 100 TB story):
  *  - Connected components is the step every dedup pipeline needs after the
  *    pair join: transitive closure picks ONE keeper per duplicate group.
  *    Implemented as distributed min-label propagation — O(diameter)
  *    all-shuffle iterations, each a pair of equi-joins + a hash agg; no
  *    driver-side graph ever materializes. Near-dup graphs are dense
  *    clique-ish clusters (diameter 2-4 in practice), so the iteration
  *    count is small and independent of corpus size; `localCheckpoint`
  *    truncates the lineage so plan size stays constant per iteration.
  *  - Decontamination joins corpus shingle postings against the eval set's
  *    distinct shingles on an 8-byte hash key. No forced broadcast: an eval
  *    benchmark is usually tiny (AQE will broadcast it from measured size)
  *    but nothing breaks if it isn't.
  *  - Stratified sampling must be deterministic and key-stable at 10^10
  *    rows (re-runs and late-arriving partitions must agree), so it is a
  *    pure function of the row key — no RNG state, no sampleBy. The query
  *    entry uses a Lehmer-style LCG on doc_id so the DuckDB oracle can
  *    mirror it exactly; production would swap in xxhash64(key, salt)
  *    (same shape, not oracle-expressible — see OracleParity in SURVEY §7).
  */
object Corpus {

  /** Connected components over an undirected pair list `edges(a, b)`:
    * returns (doc_id, rep, cluster_size) for every node that appears in at
    * least one edge, where `rep` is the minimum doc_id of the node's
    * component (the canonical keeper) — exactly the transitive closure of
    * the near-dup relation.
    *
    * Distributed min-label propagation WITH path compression: every node
    * starts labeled with its own id; each round (1) hooks to the min of its
    * own and its neighbors' labels, then (2) compresses label ← label(label)
    * (pointer doubling — labels are always node ids of the same component,
    * so the self-join is total). Hook alone converges in O(diameter)
    * rounds; the doubling step makes it O(log diameter), so even a
    * pathological chain-shaped dup graph converges in a few dozen rounds at
    * any scale. Every step is an equi-join or partial-agg-friendly hash agg
    * keyed on node id; no driver-side graph, and `localCheckpoint`
    * truncates lineage so the plan stays constant-size per round.
    *
    * Fixpoint ⇒ correctness: labels are monotone non-increasing and stay
    * within the component; at a hook fixpoint the label is constant across
    * every (symmetric) edge, hence constant per component, and the
    * component-minimum node never adopts a larger label — so the shared
    * label is the component min.
    *
    * The hook + pointer-doubling pattern is the classic public-domain
    * parallel-CC recipe (Shiloach–Vishkin PRAM CC, 1982; its MapReduce
    * descendants: Rastogi et al. "hash-to-min", ICDE 2013, and Kiveris et
    * al. "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * re-expressed here as Catalyst joins/aggregations, original code.
    *
    * `checkpointDir = None` (default) truncates per-round lineage with
    * memory-backed `localCheckpoint` — fastest, and fine in
    * local mode or for jobs short enough to simply re-run, but NOT
    * fault-tolerant: on a real cluster an executor loss mid-iteration kills
    * the job (lineage is gone, no recompute path). `checkpointDir =
    * Some(dfsPath)` is the cluster deployment mode: each round's label
    * table commits to storage and re-reads from it, so recovery replays
    * from the last committed round. Outputs are identical (CorpusSpec mode
    * parity); superseded round dirs are deleted as the loop advances, the
    * FINAL round's files back the returned frame — the caller owns the
    * directory's lifecycle. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    def persistRound(df: DataFrame, name: String): DataFrame = checkpointDir match {
      case Some(root) =>
        val path = s"$root/$name"
        df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
        Parquet.read(spark, path)
      case None => df.localCheckpoint(true)
    }
    def releaseRound(df: DataFrame, name: String): Unit = checkpointDir match {
      case Some(root) => graft.operators.Checkpoints.deleteRecursively(s"$root/$name")
      case None => Rounds.free(df)
    }
    val e = edges.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
    // Symmetric closure once; propagation then only needs one direction.
    val sym = persistRound(
      e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct(),
      "sym")
    var labels = persistRound(
      sym.select(col("src").as("id")).distinct().withColumn("label", col("id")),
      "labels_r0")
    var labelsName = "labels_r0"
    var converged = false
    var iter = 0
    try {
      while (!converged && iter < maxIter) {
        // Hook: candidate label = min over own + incoming neighbor labels.
        val fromNeighbors = sym
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(min("label").as("nlabel"))
        val hooked = labels
          .join(fromNeighbors, Seq("id"), "left")
          .select(col("id"), col("label").as("old"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("h"))
        // Compress: label ← label(label). h(x) ≤ x invariantly, so hh ≤ h.
        val pmap = hooked.select(col("id").as("hid"), col("h").as("hh"))
        val nextName = s"labels_r${iter + 1}"
        val next = persistRound(
          hooked
            .join(pmap, col("h") === col("hid"))
            .select(col("id"), col("old"), least(col("h"), col("hh")).as("label")),
          nextName) // truncate lineage: constant plan per round
        val nChanged = next.filter(col("label") < col("old")).count()
        releaseRound(labels, labelsName) // next is materialized — old copy can go
        labels = next.select("id", "label")
        labelsName = nextName
        converged = nChanged == 0
        iter += 1
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")
    } catch {
      // On any mid-loop failure nothing downstream will consume the frames:
      // release the edge table and the live label checkpoint too. (In
      // storage mode the dirs are left for crash forensics/recovery — the
      // caller owns the directory.)
      case t: Throwable =>
        if (checkpointDir.isEmpty) { Rounds.free(sym); Rounds.free(labels) }
        throw t
    }
    releaseRound(sym, "sym") // only the final label table is consumed downstream
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("label"))
      .select(col("id").as("doc_id"), col("label").as("rep"), col("cluster_size"))
  }

  /** Near-dup clusters of `docs`: word-3-gram Jaccard pairs (the exact,
    * PPJoin-pruned join from [[Dedup.ngramJaccardPairs]]) fed through
    * [[connectedComponents]] — the full pairs→clusters dedup pipeline in
    * one plan. */
  def dedupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    connectedComponents(Dedup.ngramJaccardPairs(docs, threshold))

  /** [[dedupClusters]] over an ALREADY-COMPUTED pair relation — the shape
    * the query registry uses so q33/q46/q88/q99/q101 derive from ONE cached
    * PPJoin pair kernel instead of five (round-4 VERDICT item 10). */
  def dedupClustersFrom(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)

  /** News story threading — the "related coverage" grouping a news index
    * serves next to each article: two articles belong to the same thread
    * iff they are textual near-duplicates (word-3-gram Jaccard ≥
    * `threshold`, the PPJoin-pruned pair join) AND published within
    * `maxGapSec` of each other — syndicated copies and quick follow-ups
    * cluster; an unrelated piece that happens to share boilerplate months
    * later does not. Thread identity = [[connectedComponents]] over the
    * time-bounded pair graph; output is the THREAD grain
    * (thread, n_articles, first_ts, last_ts, span_sec), threads of ≥ 2
    * articles by construction (singletons are not stories). `docs` must
    * carry a `ts` publish-time column next to (doc_id, lang, text).
    *
    * Scale shape: the pair join is the proven q33 plan; the time gate
    * attaches two 8-byte epoch values to the candidate-bounded PAIR set,
    * never to the corpus; CC is the pointer-doubling loop (O(log d)
    * rounds); the summary is one hash agg on the thread key. Note the
    * time gate runs AFTER the similarity join, not as a band-join
    * blocking key: a time-blocked variant (join on coarse time buckets)
    * would cut candidate generation too but changes recall at bucket
    * edges — with PPJoin pruning the candidate set is already
    * near-output-sized, so the exact gate is the right default. */
  def storyThreads(docs: DataFrame, threshold: Double = 0.5,
      maxGapSec: Long = 10800L): DataFrame =
    storyThreadsFrom(docs, Dedup.ngramJaccardPairs(docs, threshold), maxGapSec)

  /** [[storyThreads]] over a precomputed pair relation (shared-kernel
    * registry shape — see [[dedupClustersFrom]]); `docs` still carries
    * the `ts` publish-time column the gate and summary read. */
  def storyThreadsFrom(docs: DataFrame, basePairs: DataFrame,
      maxGapSec: Long = 10800L): DataFrame = {
    val ts = docs.select(col("doc_id"), col("ts"))
    val pairs = basePairs
      .join(ts.select(col("doc_id").as("a"), col("ts").as("ts_a")), Seq("a"))
      .join(ts.select(col("doc_id").as("b"), col("ts").as("ts_b")), Seq("b"))
      .filter(abs(unix_timestamp(col("ts_a")) - unix_timestamp(col("ts_b")))
        <= maxGapSec)
      .select("a", "b")
    connectedComponents(pairs)
      .join(ts, Seq("doc_id"))
      .groupBy(col("rep").as("thread"))
      .agg(
        count(lit(1)).as("n_articles"),
        min("ts").as("first_ts"),
        max("ts").as("last_ts"))
      .withColumn("span_sec",
        unix_timestamp(col("last_ts")) - unix_timestamp(col("first_ts")))
  }

  /** Fixed-iteration weighted PageRank — the second iterative graph
    * operator next to [[connectedComponents]] (entity/link authority:
    * which nodes sit at the center of the co-mention / link graph).
    * `edges` is DIRECTED (src, dst, w); pass both directions for an
    * undirected graph. A fixed iteration count (the production norm —
    * power iteration converges geometrically, and a pinned count keeps
    * runs reproducible) rather than a convergence test keeps the oracle
    * expressible: the DuckDB side unrolls the same `iters` rounds.
    *
    * Per round: rank'(v) = (1-d)/N + d * Σ_{(u,v)∈E} rank(u)·w(u,v)/outw(u)
    * — an equi-join of the rank table to the edge list on src, a hash agg
    * on dst, and a left join back to the node set (nodes without in-edges
    * keep the teleport mass; dangling-node mass leaks, the standard
    * simplification — co-mention graphs are symmetric so none exist
    * there). Every step is a shuffled equi-join/agg keyed on node id — no
    * driver-side graph, no windows; N rides a 1-row broadcast. For large
    * `iters` the lineage grows linearly — reuse the CC checkpoint pattern
    * (localCheckpoint / checkpointDir every few rounds) if iters ≫ 10;
    * at the pinned 3 rounds the single plan is the faster shape.
    *
    * Float discipline: (1-d) is computed ONCE in Scala and interpolated
    * into the oracle (1.0-0.85 is 0.15000000000000002 in IEEE — writing
    * `1 - 0.85` in SQL would yield exact DECIMAL 0.15, a different
    * double); per-edge terms are left-assoc rank*w/outw on both sides;
    * only the in-mass sum's addition order differs, absorbed by the 6-dp
    * output rounding. */
  def pagerankFixed(edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val outw = edges.groupBy("src").agg(sum("w").as("outw"))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val nCount = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val teleport = (1.0 - damping) // Scala-evaluated; oracle interpolates it
    // Unrolled on purpose (r6): `ranks` is referenced once per round —
    // linear plan growth at the pinned 3 rounds (~1.6 s at sf0.1); a
    // per-round Rounds.iterate checkpoint measured 2× slower (eager
    // materialization jobs cost more than Catalyst's linear plan). The
    // multiplicative-blowup case is opicFixed's dangling broadcast.
    var ranks = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("rank"))
    for (_ <- 1 to iters) {
      val inMass = edges
        .join(outw, Seq("src"))
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("rank") * col("w") / col("outw")).as("c"))
        .groupBy("node").agg(sum("c").as("cin"))
      ranks = nodes
        .join(inMass, Seq("node"), "left")
        .crossJoin(broadcast(nCount))
        .select(col("node"),
          (lit(teleport) / col("n_nodes") +
            lit(damping) * coalesce(col("cin"), lit(0.0))).as("rank"))
    }
    ranks.select(col("node"), round(col("rank"), 6).as("pagerank"))
  }

  /** Benchmark decontamination: which corpus documents share at least
    * `minOverlap` distinct word n-grams with the eval set?
    *
    * `evalPred` marks the eval/benchmark rows inside `docs` (they are
    * excluded from the output); returns (doc_id, n_overlap) with
    * n_overlap = |shingles(doc) ∩ shingles(eval-union)| ≥ minOverlap.
    *
    * Postings-join shape: both sides explode to (doc_id, shingle-hash)
    * postings; the eval side collapses to DISTINCT shingle keys before the
    * join, so the join key space is the eval vocabulary, not the corpus.
    * No forced broadcast — eval sets are small, AQE broadcasts from
    * measured size (same policy as the minhash attach joins).
    *
    * `n` is the shingle width: 3 matches the near-dup family's grain; 8+
    * is the industry decontamination norm (long n-grams make a
    * contamination match precise — an 8-token verbatim overlap is
    * benchmark text, not a common phrase).
    */
  def decontaminate(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      minOverlap: Long = 1L, n: Int = 3): DataFrame =
    decontaminateFrom(
      docs.repartition(col("doc_id")) // parallelize the shingle kernel (cf. Dedup)
        .select(col("doc_id"),
          graft.functions.expressions.shingles_n(col("text"), n).as("sh")),
      evalPred, minOverlap)

  /** [[decontaminate]] over a precomputed shingle frame — any frame with
    * (doc_id, sh) columns, e.g. [[Dedup.shingleFrame]] (the shared-kernel
    * path for composed pipelines; `evalPred` may reference the frame's
    * columns). */
  def decontaminateFrom(shingled: DataFrame, evalPred: org.apache.spark.sql.Column,
      minOverlap: Long = 1L): DataFrame = {
    val sh = shingled
      .select(col("doc_id"), evalPred.as("is_eval"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("is_eval"), xxhash64(col("shingle")).as("sk"))
    val evalShingles = sh.filter(col("is_eval")).select("sk").distinct()
    sh.filter(!col("is_eval"))
      .join(evalShingles, Seq("sk")) // postings are distinct per doc by shingles3
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Bloom-pruned decontamination — the 10^10-document scale path for
    * [[decontaminate]], and EXACTLY the same relation: a Bloom filter
    * built over the eval set's n-gram hashes is broadcast and probed
    * MAP-SIDE, so of the corpus's ~10^12 n-gram postings only the
    * ~fpp·|corpus| false positives plus the true hits ever reach the
    * exchange; the surviving candidates then take the ordinary exact
    * semi-join, which kills the false positives. Bloom filters have no
    * false negatives, so prune + exact-verify is LOSSLESS — the output
    * is identical to the unpruned operator (shared oracle; the
    * identity, including under an absurd fpp = 0.5 filter, is pinned
    * in CorpusSpec). This is [[graft.operators.BloomSeen]]'s
    * architecture applied to decon: the eval set plays the seen-set,
    * the corpus plays the frontier.
    *
    * The filter is an eval-set-sized driver/broadcast object (the
    * model-frame budget: a 10^6-entry benchmark suite at 10 bits/key
    * is ~1.2 MB); the corpus side never collects. */
  def bloomDecontaminateFrom(shingled: DataFrame,
      evalPred: org.apache.spark.sql.Column, minOverlap: Long = 1L,
      fpp: Double = 0.01): DataFrame = {
    val spark = shingled.sparkSession
    val sh = shingled
      .select(col("doc_id"), evalPred.as("is_eval"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("is_eval"), xxhash64(col("shingle")).as("sk"))
    val evalShingles = sh.filter(col("is_eval")).select("sk").distinct()
      .localCheckpoint() // reused: sizing count, filter build, exact verify
    val nEval = math.max(1L, evalShingles.count())
    val bloom = evalShingles.stat.bloomFilter("sk", nEval, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: Long) => bc.value.mightContainLong(k))
    sh.filter(!col("is_eval"))
      .filter(mightContain(col("sk"))) // map-side prune, no false negatives
      .join(evalShingles, Seq("sk")) // exact verify kills the fpp leak
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** [[bloomDecontaminateFrom]] from raw documents (n-gram kernel
    * inline) — the q224 entry point, q52's signature. */
  def bloomDecontaminate(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      minOverlap: Long = 1L, n: Int = 3, fpp: Double = 0.01): DataFrame =
    bloomDecontaminateFrom(
      docs.repartition(col("doc_id"))
        .select(col("doc_id"),
          graft.functions.expressions.shingles_n(col("text"), n).as("sh")),
      evalPred, minOverlap, fpp)

  /** Deterministic stratified sample: keep a row iff its key lands under
    * `permille` in a Lehmer-LCG permutation of `doc_id` — a pure function
    * of the key, so the sample is stable across re-runs, partitionings and
    * cluster sizes (no RNG state; the property a 10^10-row pipeline needs
    * for reproducible training mixes). Returns the sampled rows with their
    * bucket. Production note: for arbitrary/string keys substitute
    * pmod(xxhash64(key, salt), 1000) — identical plan shape; the LCG keeps
    * the DuckDB oracle exact (xxhash64 has no oracle counterpart). */
  /** The one definition of the sample-bucket key function (Lehmer-LCG
    * permutation of doc_id mod 1000) — [[stratifiedSample]] and
    * [[curate]]'s gate (5) must stay the SAME function, and the q48/q50
    * oracles mirror these constants (as `((x % 1000) + 1000) % 1000`, the
    * SQL spelling of pmod). `pmod`, not `%`: SQL `%` keeps the dividend's
    * sign, so a negative key (e.g. a production xxhash64(key, salt), which
    * is SIGNED) would yield a negative bucket that compares `< permille`
    * always — silent over-sampling. The Long multiply still wraps for
    * |doc_id| ≳ 1.9e14 (Spark wraps silently, DuckDB errors) — the wrap is
    * deterministic and key-stable, so sampling stays correct; only the
    * oracle comparison requires the fixture id domain. */
  def sampleBucket(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(docId * 48271L + 11L, lit(1000L)).cast("int")

  /** The shared wide-modulus permutation key over doc_id (the LCG family of
    * [[sampleBucket]] at modulus 1000003, where ranking ties are rare) —
    * the ONE definition behind every hash-ordered operator
    * ([[mixtureSample]], [[tokenBudgetMixture]], [[exactStratifiedSample]],
    * [[sequencePack]]); the oracles mirror it as
    * `(((doc_id*48271+11) % 1000003) + 1000003) % 1000003`. A constant
    * change here must hit those four oracle strings in lockstep. */
  private def hashOrderKey: org.apache.spark.sql.Column =
    pmod(col("doc_id") * 48271L + 11L, lit(1000003L))

  def stratifiedSample(docs: DataFrame, permille: Int): DataFrame =
    docs
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") < permille)
      .select(col("doc_id"), col("lang"), col("source"), col("bucket"))

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006,
    * the "exponential clocks" formulation): each doc gets clock =
    * −ln(u)/w with u uniform and w = its token count, and the k SMALLEST
    * clocks are the sample — inclusion probability ∝ token mass, the
    * draw every token-weighted epoch sampler needs. u comes from the
    * shared deterministic LCG permutation over doc_id (seedless, rerun-
    * and partitioning-stable; production swap-in: xxhash64), centered as
    * (key + 0.5)/M so u is never 0 or 1 and ln is finite.
    *
    * Determinism discipline: the cut is on the 6-dp-ROUNDED clock with
    * doc_id tiebreak (the q63 rrf precision — clocks for heavy docs
    * cluster near 0, where 4 dp would tie too coarsely), so cross-engine
    * ln/pow ulp noise cannot move the boundary. Plan shape at 100 TB: a
    * pure map stage then orderBy+limit = TakeOrderedAndProject
    * (per-partition partial top-k, no global sort, no window). */
  def weightedSample(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "need k >= 1")
    val u = (hashOrderKey.cast("double") + lit(0.5)) / lit(1000003.0)
    val w = size(split(col("text"), " ")).cast("double")
    docs
      .select(col("doc_id"), w.as("n_tokens"),
        round(-log(u) / w, 6).as("clock"))
      .orderBy(col("clock").asc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"), col("clock"))
  }

  /** Domain-mixture resampling — draw the LARGEST corpus that exactly
    * matches a target source distribution (the "data mixing" step of a
    * training pipeline: rebalance a crawl whose natural mix over-weights
    * some domains). Targets are normalized shares per source; sources
    * absent from `targets` are dropped; a target source with no documents
    * caps the feasible total at 0 (you cannot satisfy a mixture from an
    * empty stratum — surfaced, not silently renormalized).
    *
    * quota_s = floor(T·p_s) with T = min_s floor(n_s/p_s) — the binding
    * source fills completely, every other source downsamples to keep the
    * ratio. Selection within a source is DETERMINISTIC: rank by a Lehmer
    * permutation of doc_id (same family as [[sampleBucket]], wider
    * modulus so ranking ties are rare; doc_id tie-break makes the order
    * total) and keep the first quota_s — stable across re-runs,
    * partitionings and cluster sizes, and exactly mirrorable by a SQL
    * row_number oracle.
    *
    * Scale shape: counts/caps/quotas are source-cardinality frames on a
    * broadcast; the per-source rank does NOT use a per-source window
    * (one task per source = the skew trap when one domain dominates a
    * 10^10-doc crawl) — it reuses [[graft.operators.GlobalOrder]]:
    * range-partition by (source, hkey, doc_id) so a dominant source
    * SPREADS across many range partitions, then per-source rank =
    * global rank − the source's min rank (a source-cardinality offset
    * join). */
  def mixtureSample(docs: DataFrame, targets: Seq[(String, Double)],
      parts: Int = 32): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "shares must be > 0")
    val z = targets.map(_._2).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val tgt = targets.map { case (s, p) => (s, p / z) }.toDF("source", "p")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    // broadcast the RIGHT side: a left outer join cannot build left, so a
    // broadcast hint there is silently ignored (HintErrorLogger warns)
    val caps = tgt.join(broadcast(counts), Seq("source"), "left")
      .select(col("source"), col("p"),
        floor(coalesce(col("n"), lit(0L)).cast("double") / col("p"))
          .cast("long").as("cap"))
    val quotas = caps.crossJoin(broadcast(caps.agg(min("cap").as("t"))))
      .select(col("source"),
        floor(col("t") * col("p")).cast("long").as("quota"))
    val hkey = hashOrderKey
    val ranked = graft.operators.GlobalOrder.withRank(
      docs.join(broadcast(quotas), Seq("source"))
        .select(col("source"), col("doc_id"), col("quota"), hkey.as("hkey")),
      Seq(col("source"), col("hkey"), col("doc_id")), parts, "grank")
    val offsets = ranked.groupBy("source").agg(min("grank").as("off"))
    ranked.join(broadcast(offsets), Seq("source"))
      .withColumn("rnk", col("grank") - col("off") + 1L)
      .filter(col("rnk") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rnk"))
  }

  /** Token-budget mixture: fill each source's TOKEN quota — its normalized
    * share of `totalTokens` — with documents in deterministic hash order,
    * the Dolma/Pile-style sampler that mixes training data by token COUNT
    * rather than document count ([[mixtureSample]]'s grain). A document is
    * taken while its source's budget is not yet exhausted (cumulative
    * tokens BEFORE the doc < quota, so the quota-crossing doc is kept —
    * the standard greedy fill; mirrored clause-for-clause in the oracle).
    *
    * Scale shape: the per-source cumulative token count is
    * [[graft.operators.GlobalOrder.withRunningSum]] — a two-phase
    * range-partitioned scan, NOT a `sum().over(partitionBy(source))`
    * window, which would funnel the largest source's every document
    * through one task at 10^10 docs. Quotas ride a broadcast dim; the
    * hash key is the sign-safe pmod LCG shared with [[mixtureSample]]
    * (production swap-in: xxhash64, also via pmod).
    * Returns (source, doc_id, n_tokens, cum_tokens). */
  def tokenBudgetMixture(docs: DataFrame, targets: Seq[(String, Double)],
      totalTokens: Long, parts: Int = 32): DataFrame = {
    require(targets.nonEmpty && targets.forall(_._2 > 0), "shares must be > 0")
    require(totalTokens > 0, "token budget must be > 0")
    val z = targets.map(_._2).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val quotas = targets
      .map { case (src, p) => (src, math.floor(p / z * totalTokens).toLong) }
      .toDF("source", "quota")
    val hkey = hashOrderKey
    val toks = docs.join(broadcast(quotas), Seq("source"))
      .select(col("source"), col("doc_id"), col("quota"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        hkey.as("hkey"))
    val summed = graft.operators.GlobalOrder.withRunningSum(
      toks, "source", "n_tokens",
      Seq(col("source"), col("hkey"), col("doc_id")), parts, "cum_tokens")
    summed.filter(col("cum_tokens") - col("n_tokens") < col("quota"))
      .select(col("source"), col("doc_id"), col("n_tokens"), col("cum_tokens"))
  }

  /** End-to-end corpus curation — the composed training-data pipeline in
    * ONE DataFrame: a document survives iff it
    *  (1) is not part of the eval/benchmark slice,
    *  (2) passes the quality gate (n_tokens ≥ minTokens),
    *  (3) shares no word-3-gram with the eval slice ([[decontaminate]]),
    *  (4) is the keeper (min-id representative) of its near-dup cluster, or
    *      is in no cluster ([[dedupClusters]]),
    *  (5) lands in the deterministic sample ([[stratifiedSample]]'s key
    *      function, bucket < permille).
    * Every filter is defined over the FULL input set, so the five gates
    * commute (pure set intersection — no staging-order semantics to get
    * wrong at 10^10 docs, and the DuckDB oracle mirrors them clause by
    * clause). Returns (doc_id, lang, n_tokens). */
  def curate(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      minTokens: Int = 30, permille: Int = 500): DataFrame = {
    // The shingle UDF is the CPU-heavy kernel (Dedup scale notes) and TWO
    // gates consume it (decontamination + the near-dup pair join). Run it
    // ONCE: persist the shared frame, let the CC stage's eager evaluation
    // populate it, checkpoint the (small) survivor set eagerly, then
    // release the corpus-sized cache before returning — the returned frame
    // is self-contained.
    val shingled = Dedup.shingleFrame(docs).persist()
    try {
      val q = TextAnalysis.quality(docs).select(col("doc_id"), col("n_tokens"))
      val contaminated = decontaminateFrom(shingled, evalPred).select("doc_id")
      val dupLosers =
        connectedComponents(Dedup.ngramJaccardPairsFrom(shingled, threshold = 0.5))
          .filter(col("doc_id") =!= col("rep")).select("doc_id")
      docs.filter(!evalPred)
        .join(q.filter(col("n_tokens") >= minTokens), Seq("doc_id"))
        .join(contaminated, Seq("doc_id"), "left_anti")
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .filter(sampleBucket(col("doc_id")) < permille)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
        .localCheckpoint(true)
    } finally shingled.unpersist(false)
  }

  /** Per-source document-length quantiles — the corpus-profiling pass a
    * curation pipeline runs before setting quality-gate thresholds (q50's
    * minTokens is exactly a number read off this table). Exact
    * percentiles with linear interpolation at rank p·(n−1) — the same
    * definition (R type 7) DuckDB's quantile_cont and numpy's default
    * use, so the oracle mirrors it; sub-ulp interpolation noise is
    * absorbed by the 4-dp output rounding.
    *
    * Scale note: Spark's exact `percentile` aggregates a value→count map
    * per group — bounded memory HERE because token counts live in a
    * small integer domain (a length histogram), which is the common case
    * for corpus profiling. For unbounded/continuous domains use
    * [[lengthQuantilesApprox]]: a single-pass mergeable quantile sketch
    * with fixed memory per group — the 100 TB default when the value
    * domain is not known to be small. */
  def lengthQuantiles(docs: DataFrame,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    quantileShape(docs, ps)((dl, pArr) => percentile(dl, pArr))

  /** [[lengthQuantiles]] via `percentile_approx` (Greenwald-Khanna
    * sketch): one pass, fixed memory, MERGEABLE partial states — partial
    * sketches combine across partitions/segments like the HLL sketches
    * below, so the plan shape survives any corpus size. Returns rank-
    * accurate (±1/accuracy) ACTUAL data values, not interpolated ones —
    * no DuckDB oracle (different definition); bounded-error vs the exact
    * path is pinned in CorpusSpec. */
  def lengthQuantilesApprox(docs: DataFrame,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99), accuracy: Int = 10000): DataFrame =
    quantileShape(docs, ps)((dl, pArr) =>
      percentile_approx(dl, pArr, lit(accuracy)))

  /** Output column for percentile p: p50, p99, p99_5 — exact decimal of
    * p·100 with '.'→'_' (rounding to whole percents would collide, e.g.
    * 0.995 and 0.999 both → "p100"). */
  private def pLabel(p: Double): String =
    "p" + (BigDecimal(p) * 100).underlying.stripTrailingZeros.toPlainString
      .replace(".", "_")

  private def quantileShape(docs: DataFrame, ps: Seq[Double])(
      agg: (org.apache.spark.sql.Column, org.apache.spark.sql.Column)
        => org.apache.spark.sql.Column): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), "ps in [0,1]")
    val labels = ps.map(pLabel)
    require(labels.distinct.size == labels.size, s"duplicate percentiles: $ps")
    val dl = docs.select(col("source"),
      size(split(col("text"), " ")).cast("double").as("dl"))
    dl.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        agg(col("dl"), array(ps.map(lit): _*)).as("qs"))
      .select(col("source") +: col("n_docs") +:
        labels.zipWithIndex.map { case (l, i) =>
          round(element_at(col("qs"), i + 1), 4).as(l) }: _*)
  }

  /** Per-source distinct-token estimates as MERGEABLE HyperLogLog
    * sketches (Apache DataSketches HLL via Spark's hll_sketch_agg) — the
    * sketch-architecture flavor of distinct counting (q10 uses the
    * monolithic approx_count_distinct): each partition builds a partial
    * sketch, partials merge associatively, and STORED sketches keep
    * merging — per-segment sketches union into corpus totals without
    * rescanning, the same lifecycle as the inverted index's segments.
    * Returns (source, n_tokens_est). Estimates are sketch-valued (no
    * DuckDB counterpart): rows-only in the gate; the ±5% accuracy bound
    * and union-vs-global merge identity are pinned in CorpusSpec. */
  def distinctTokenSketches(docs: DataFrame, lgK: Int = 12): DataFrame =
    tokenSketches(docs, lgK)
      .select(col("source"),
        hll_sketch_estimate(col("sk")).as("n_tokens_est"))

  /** The per-source HLL sketch table itself (source, sk: binary) — the
    * persistable artifact; [[mergeTokenSketches]] folds any set of them
    * into one estimate. */
  def tokenSketches(docs: DataFrame, lgK: Int = 12): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source")
      .agg(hll_sketch_agg(col("tok"), lit(lgK)).as("sk"))

  /** Union-merge a sketch table to one global distinct estimate — the
    * re-aggregation step (segments → corpus) that makes the sketch
    * architecture scale: no raw-data rescan, sketch-sized shuffle. */
  def mergeTokenSketches(sketches: DataFrame): DataFrame =
    sketches.agg(
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_tokens_est"))

  /** Byte-level merge of serialized DataSketches frequency sketches —
    * the associative partial/final kernel under [[frequencySketches]] /
    * [[mergeFrequencySketches]]. Buffer stays serialized (Encoders.BINARY
    * — spill/shuffle-safe with no kryo gamble on library internals); a
    * deser→merge→ser round-trip costs O(maxMapSize) and runs once per
    * INPUT SKETCH (one per partition×key), never per token. */
  private object FreqMerge
      extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.memory.Memory
    private def merged(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else {
        val serde = new ArrayOfStringsSerDe
        val s = ItemsSketch.getInstance(Memory.wrap(x), serde)
        s.merge(ItemsSketch.getInstance(Memory.wrap(y), serde))
        s.toByteArray(serde)
      }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = merged(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = merged(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder = org.apache.spark.sql.Encoders.BINARY
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Per-source token-frequency heavy-hitter sketches (Misra–Gries-family
    * ItemsSketch, Apache DataSketches) — the FREQUENCY sibling of the HLL
    * distinct trio: bounded memory (maxMapSize counters, power of 2) no
    * matter the vocabulary, mergeable segments → corpus with no rescan,
    * deterministic error bound n/maxMapSize with the NO_FALSE_NEGATIVES
    * guarantee (every item above threshold + error is returned).
    *
    * Build is ONE pass: mapPartitions folds each partition's token stream
    * into per-source sketches (the documented imperative-per-partition
    * exception — a sketch update loop has no Column form), emitting one
    * (source, sketch) row per partition×source; the groupBy then merges
    * sketch-sized payloads only. At 100 TB the shuffle carries
    * partitions×sources×O(maxMapSize) bytes — independent of token count. */
  def frequencySketches(docs: DataFrame, maxMapSize: Int = 1024): DataFrame = {
    import org.apache.datasketches.frequencies.ItemsSketch
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
      "maxMapSize must be a power of 2 >= 8")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"), col("text")).as[(String, String)]
      .mapPartitions { it =>
        val sks = scala.collection.mutable.HashMap.empty[String, ItemsSketch[String]]
        it.foreach { case (src, text) =>
          if (text != null) {
            val sk = sks.getOrElseUpdate(src, new ItemsSketch[String](maxMapSize))
            // split(' ') grain — same tokenization as every Column-side op
            text.split(' ').foreach(sk.update)
          }
        }
        val serde = new ArrayOfStringsSerDe
        sks.iterator.map { case (src, sk) => (src, sk.toByteArray(serde)) }
      }
      .toDF("source", "sk")
      .groupBy("source")
      .agg(udaf(FreqMerge).apply(col("sk")).as("sk"))
  }

  /** Union-merge a frequency-sketch table into ONE corpus-level sketch —
    * the segments → corpus re-aggregation (cf. [[mergeTokenSketches]]). */
  def mergeFrequencySketches(sketches: DataFrame): DataFrame =
    sketches.agg(udaf(FreqMerge).apply(col("sk")).as("sk"))

  /** Extract heavy hitters from a (…, sk) sketch table: one row per
    * frequent item with its estimate and deterministic bounds
    * (lb ≤ true ≤ ub), NO_FALSE_NEGATIVES — every item whose true count
    * exceeds threshold + maxError is guaranteed present. When the active
    * item count never exceeds the purge point (~0.75·maxMapSize) the
    * sketch is in its EXACT regime: est == lb == ub == true count, which
    * is what licenses the q125 DuckDB oracle at fixture vocabulary size;
    * the eviction-regime guarantees are pinned in CorpusSpec. */
  def heavyHitters(sketches: DataFrame, threshold: Long = 0): DataFrame = {
    import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
    import org.apache.datasketches.common.ArrayOfStringsSerDe
    import org.apache.datasketches.memory.Memory
    val hh = udf((b: Array[Byte]) =>
      if (b == null || b.isEmpty) Seq.empty[(String, Long, Long, Long)]
      else {
        val sk = ItemsSketch.getInstance(Memory.wrap(b), new ArrayOfStringsSerDe)
        sk.getFrequentItems(threshold, ErrorType.NO_FALSE_NEGATIVES)
          .map(r => (r.getItem, r.getEstimate, r.getLowerBound, r.getUpperBound))
          .toSeq
      })
    val keys = sketches.columns.filter(_ != "sk").map(col)
    sketches.select(keys :+ explode(hh(col("sk"))).as("h"): _*)
      .select(keys :+ col("h._1").as("token") :+ col("h._2").as("est") :+
        col("h._3").as("lb") :+ col("h._4").as("ub"): _*)
  }

  /** Byte-level merge of serialized KLL doubles sketches — the
    * associative partial/final kernel under [[lengthQuantileSketches]],
    * same lifecycle discipline as [[FreqMerge]]: buffers stay serialized
    * (shuffle/spill-safe), one deser→merge→ser round-trip per INPUT
    * sketch (one per partition×key), never per row. */
  private object KllMerge
      extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    private def merged(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else {
        val s = KllDoublesSketch.heapify(Memory.wrap(x))
        s.merge(KllDoublesSketch.heapify(Memory.wrap(y)))
        s.toByteArray
      }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = merged(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = merged(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder = org.apache.spark.sql.Encoders.BINARY
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Per-source document-length (token-count) quantiles as MERGEABLE KLL
    * sketches (Karnin, Lang & Liberty, FOCS'16 — the optimal streaming
    * quantile sketch; Apache DataSketches `KllDoublesSketch`) — the
    * sketch-architecture flavor of q77's exact percentiles, completing
    * the mergeable-sketch trio next to the HLL distinct (q79) and
    * frequency heavy-hitter (q125) sketches: each partition builds a
    * partial sketch, partials merge associatively, and STORED sketches
    * keep merging — per-segment length profiles union into corpus
    * profiles without rescanning text.
    *
    * Returns (source, sk: binary). Estimate-valued (KLL compaction is
    * randomized above the k-sized exact regime → no DuckDB counterpart;
    * rows-only in the gate). CorpusSpec pins: exact-regime estimates ==
    * true order statistics, per-source ∪ == global merge identity, and
    * the compaction-regime normalized-rank-error envelope. */
  def lengthQuantileSketches(docs: DataFrame, k: Int = 200): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    require(k >= 8 && k <= 65535, "KLL k out of range")
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"), size(split(col("text"), " ")).cast("double").as("dl"))
      .as[(String, Double)]
      .mapPartitions { it =>
        val sks = scala.collection.mutable.HashMap.empty[String, KllDoublesSketch]
        it.foreach { case (src, dl) =>
          sks.getOrElseUpdate(src, KllDoublesSketch.newHeapInstance(k)).update(dl)
        }
        sks.iterator.map { case (src, sk) => (src, sk.toByteArray) }
      }
      .toDF("source", "sk")
      .groupBy("source")
      .agg(udaf(KllMerge).apply(col("sk")).as("sk"))
  }

  /** Quantile estimates out of a (…, sk) KLL sketch table: n (exact —
    * every update is counted) plus one estimate column per requested
    * rank. The q215 read side; also the reader for any persisted sketch
    * segment. */
  def lengthQuantilesFromSketches(sketches: DataFrame,
      ps: Seq[Double] = Seq(0.5, 0.9, 0.99),
      labels: Seq[String] = Seq("p50", "p90", "p99")): DataFrame = {
    import org.apache.datasketches.kll.KllDoublesSketch
    import org.apache.datasketches.memory.Memory
    require(ps.size == labels.size, "one label per rank")
    val q = udf((b: Array[Byte]) =>
      if (b == null || b.isEmpty) None
      else {
        val sk = KllDoublesSketch.heapify(Memory.wrap(b))
        Some((sk.getN, ps.map(p => sk.getQuantile(p))))
      })
    val keys = sketches.columns.filter(_ != "sk").map(col)
    sketches.select(keys :+ q(col("sk")).as("r"): _*)
      .select(keys ++ Seq(col("r._1").as("n_docs")) ++
        labels.zipWithIndex.map { case (l, i) =>
          element_at(col("r._2"), i + 1).as(l) }: _*)
  }

  /** Union-merge a KLL sketch table into ONE corpus-level sketch — the
    * segments → corpus re-aggregation (cf. [[mergeFrequencySketches]]). */
  def mergeLengthSketches(sketches: DataFrame): DataFrame =
    sketches.agg(udaf(KllMerge).apply(col("sk")).as("sk"))

  /** Byte-level union of serialized theta sketches — the associative
    * kernel under [[sourceShingleThetaSketches]]. Unlike KLL, a theta
    * sketch's state (the k smallest hash values below θ) is a
    * DETERMINISTIC, merge-order-free function of the input set, so the
    * whole pipeline stays reproducible. */
  private object ThetaMerge
      extends org.apache.spark.sql.expressions.Aggregator[Array[Byte], Array[Byte], Array[Byte]] {
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import org.apache.datasketches.memory.Memory
    private def merged(x: Array[Byte], y: Array[Byte]): Array[Byte] =
      if (x.isEmpty) y
      else if (y.isEmpty) x
      else {
        val u = SetOperation.builder().buildUnion()
        u.union(Sketches.wrapSketch(Memory.wrap(x)))
        u.union(Sketches.wrapSketch(Memory.wrap(y)))
        u.getResult.toByteArray
      }
    def zero: Array[Byte] = Array.emptyByteArray
    def reduce(b: Array[Byte], a: Array[Byte]): Array[Byte] = merged(b, a)
    def merge(x: Array[Byte], y: Array[Byte]): Array[Byte] = merged(x, y)
    def finish(b: Array[Byte]): Array[Byte] = b
    def bufferEncoder = org.apache.spark.sql.Encoders.BINARY
    def outputEncoder = org.apache.spark.sql.Encoders.BINARY
  }

  /** Per-source distinct-3-shingle theta sketches (Agarwal et al. /
    * Apache DataSketches theta: the k-minimum-hash-values set sketch
    * whose SET OPERATIONS — union, intersection — stay inside sketch
    * space). This is the estimation path for cross-publisher content
    * overlap: q101/q184 compute syndication pairs EXACTLY with a
    * candidate-bounded pair join over shingle postings; at 10^10 pages
    * a first-pass triage wants "which publisher PAIRS overlap at all"
    * without any pair join — two sketch reads per pair answer it.
    * Returns (source, sk: binary); deterministic (see [[ThetaMerge]])
    * but DuckDB-inexpressible → the q219 entry is rows-only; the
    * exact-regime identity and error envelope are pinned in CorpusSpec. */
  def sourceShingleThetaSketches(docs: DataFrame, lgK: Int = 12): DataFrame = {
    import org.apache.datasketches.theta.UpdateSketch
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"),
      explode(graft.functions.expressions.shingles3(col("text"))).as("sh"))
      .as[(String, String)]
      .mapPartitions { it =>
        val sks = scala.collection.mutable.HashMap.empty[String, UpdateSketch]
        it.foreach { case (src, sh) =>
          sks.getOrElseUpdate(src,
            UpdateSketch.builder().setLogNominalEntries(lgK).build()).update(sh)
        }
        sks.iterator.map { case (src, sk) => (src, sk.compact().toByteArray) }
      }
      .toDF("source", "sk")
      .groupBy("source")
      .agg(udaf(ThetaMerge).apply(col("sk")).as("sk"))
  }

  /** Pairwise overlap estimates out of a theta-sketch table: for every
    * source pair a < b, the estimated distinct-shingle counts, the
    * intersection estimate, and the Jaccard estimate — the publisher
    * overlap triage matrix. The self-join is on the SKETCH DIM table
    * (one row per source), never the corpus; each cell costs two sketch
    * reads. Estimates round 4 dp. */
  def thetaOverlapEstimates(sketches: DataFrame): DataFrame = {
    import org.apache.datasketches.theta.{SetOperation, Sketches}
    import org.apache.datasketches.memory.Memory
    val est = udf((b: Array[Byte]) =>
      if (b == null || b.isEmpty) 0.0
      else Sketches.wrapSketch(Memory.wrap(b)).getEstimate)
    val interEst = udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || x.isEmpty || y == null || y.isEmpty) 0.0
      else {
        val it = SetOperation.builder().buildIntersection()
        it.intersect(Sketches.wrapSketch(Memory.wrap(x)))
        it.intersect(Sketches.wrapSketch(Memory.wrap(y)))
        it.getResult.getEstimate
      })
    val a = sketches.select(col("source").as("a"), col("sk").as("sk_a"))
    val b = sketches.select(col("source").as("b"), col("sk").as("sk_b"))
    a.join(b, col("a") < col("b"))
      .select(col("a"), col("b"),
        round(est(col("sk_a")), 4).as("est_a"),
        round(est(col("sk_b")), 4).as("est_b"),
        round(interEst(col("sk_a"), col("sk_b")), 4).as("est_inter"))
      .withColumn("jaccard_est",
        round(col("est_inter") /
          (col("est_a") + col("est_b") - col("est_inter")), 4))
  }

  /** Per-language top-k tokens by frequency (tie-break token asc): the
    * corpus-statistics pass (vocabulary head) of a training-data pipeline.
    * Explode → two-level hash agg (partial map-side combine collapses the
    * token stream before the shuffle) → per-lang top-k window over the
    * already-aggregated (lang, token) grain — the window input is the
    * vocabulary size, not the token stream. */
  def topTokens(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("rank", row_number().over(
        Window.partitionBy("lang").orderBy(desc("cnt"), asc("token"))))
      .filter(col("rank") <= k)
      .select("lang", "token", "cnt", "rank")
  }

  /** Paragraph-grain exact dedup (op 94) — the CCNet/Dolma pass that
    * precedes document-grain dedup: across the WHOLE corpus, keep only
    * the FIRST occurrence of each distinct paragraph (first = min
    * (doc_id, idx) — deterministic and key-stable) and rebuild each
    * document from its survivors. Boilerplate (subscribe footers, cookie
    * banners, navigation chrome) repeats across thousands of pages; at
    * the paragraph grain it disappears while each document's unique
    * content survives — document-grain dedup can't touch it.
    *
    * Input grain: (doc_id, paras: array<string>) — paragraph splitting
    * is the caller's (newlines in production; the fixture derives
    * deterministic breaks, see the q91 entry). Returns
    * (doc_id, n_paras, n_kept, text_dedup) for EVERY input doc —
    * a fully-deduped doc survives with n_kept = 0 and empty text.
    *
    * Plan: posexplode → keeper = min(struct(doc_id, idx)) per paragraph
    * HASH (one hash agg; the 8-byte key shuffles, q85's capture-index
    * trade — a 64-bit collision drops one innocent paragraph, it never
    * corrupts others) → semi-join survivors (equi-join on (hash, doc,
    * idx): no window over the corpus) → one regroup rebuilding text in
    * idx order (array_sort on (idx, para) structs makes collect_list's
    * arrival order irrelevant). Paragraph text crosses the exchange only
    * in the final regroup, where it IS the output. */
  def dedupParagraphs(paras: DataFrame): DataFrame = {
    val p = paras
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("idx", "para")))
      .withColumn("ph", xxhash64(col("para")))
    val keepers = p.groupBy("ph")
      .agg(min(struct(col("doc_id"), col("idx"))).as("k"))
      .select(col("ph").as("kh"), col("k.doc_id").as("kd"), col("k.idx").as("ki"))
    val kept = p.join(keepers,
      p("ph") === keepers("kh") && p("doc_id") === keepers("kd") &&
        p("idx") === keepers("ki"),
      "left_semi")
    val rebuilt = kept.groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("idx"), col("para")))),
            x => x.getField("para")),
          "\n").as("text_dedup"))
    paras.select(col("doc_id"), size(col("paras")).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Tokenizer vocabulary-coverage curve (op 95): rank the corpus
    * vocabulary by frequency and emit each rank's CUMULATIVE share of
    * all token occurrences — the table that sizes a tokenizer's
    * vocabulary ("the top 8k types cover 97.3% of the stream") and
    * exposes the Zipf head/tail split a curation pipeline budgets
    * around. Returns (rank, token, tf, cum_frac) for rank ≤ topK.
    *
    * Plan: explode → two-level hash agg collapses the token stream to
    * the vocabulary grain BEFORE any ordering; the cumulative sum is
    * [[graft.operators.GlobalOrder.withRunningSum]] — a range-partitioned
    * two-phase prefix sum over (tf desc, token asc), NOT
    * `sum().over(Window.orderBy(...))`, whose empty partitioning funnels
    * the whole vocabulary (10^7-10^8 types at web scale) through one
    * task. The grand total rides a 1-row broadcast. cum_frac is one
    * int·1.0/int division — bit-identical in the oracle. */
  def vocabCoverage(docs: DataFrame, topK: Int): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("tf"))
    // Fused prefix-sum + rank: ONE range shuffle/sort over (tf desc, token)
    // instead of the withRunningSum→withRank chain's two. The total is a
    // separate corpus column scan (size(split) — no explode, no token
    // shuffle): cheaper than re-running the vocab subtree, which the RDD
    // boundary would prevent Catalyst from reusing.
    val ranked = graft.operators.GlobalOrder.withRunningSumAndRank(
      vocab, valueCol = "tf",
      order = Seq(col("tf").desc, col("token").asc),
      parts = parts, sumCol = "cum_tf", rankCol = "rank")
    val total = docs.select(
      sum(size(split(col("text"), " "))).cast("double").as("total_tf"))
    ranked
      .filter(col("rank") <= topK)
      .crossJoin(broadcast(total))
      .select(col("rank"), col("token"), col("tf"),
        round(col("cum_tf") / col("total_tf"), 4).as("cum_frac"))
  }

  /** Cross-snapshot incremental dedup (op 96): dedup an INCOMING batch
    * (today's crawl) against the EXISTING corpus plus itself — the
    * ingestion-time flavor of exact dedup that makes corpus growth
    * incremental: the existing corpus contributes only its 8-byte text
    * hashes (never rescanned at text grain, never re-deduped), exactly
    * how the crawl's seen-set gates urls (op 12) but at content grain.
    * Keeps each incoming doc iff (a) its text hash is absent from the
    * existing corpus (anti-join) and (b) it is the batch's first holder
    * of that hash (min doc_id — deterministic keeper). Returns the
    * surviving incoming rows (doc_id, lang, source).
    *
    * Plan: two hash-keyed shuffles (anti-join + keeper agg/semi-join),
    * every exchange 8-byte-keyed; text never shuffles. In deployment the
    * existing side is a persisted hash index the batch appends to — the
    * inverted index's segment lifecycle (ops 60-62) applied to dedup. */
  def dedupAgainstCorpus(existing: DataFrame, incoming: DataFrame): DataFrame = {
    val exH = existing.select(xxhash64(col("text")).as("th")).distinct()
    val inc = incoming.select(
      col("doc_id"), col("lang"), col("source"), xxhash64(col("text")).as("th"))
    val fresh = inc.join(exH, Seq("th"), "left_anti")
    val firsts = fresh.groupBy("th").agg(min(col("doc_id")).as("doc_id"))
    fresh.join(firsts, Seq("th", "doc_id"), "left_semi")
      .select("doc_id", "lang", "source")
  }

  /** Exact-k stratified sample (op 101): for every stratum (source), the
    * EXACT k documents ranked first by a deterministic hash permutation —
    * true stratified ALLOCATION, closing the gap [[stratifiedSample]]
    * leaves open (a permille cut gives each stratum only ~k in
    * expectation; evaluation sets and per-domain audits need exactly k).
    * Selection is a pure function of the key (the [[mixtureSample]] LCG,
    * doc_id tie-break makes the order total), so the sample is stable
    * across re-runs, partitionings and cluster sizes. Strata smaller than
    * k are kept whole. Returns (source, doc_id, lang, rnk).
    *
    * Plan shape at 10^10 docs: the rank LOOKS like the per-stratum-window
    * skew trap (one task per stratum), but `row_number ≤ k` is exactly
    * what Spark's WindowGroupLimit rewrite turns into a PARTIAL group
    * limit pushed below the exchange: every map task keeps at most k rows
    * per stratum, so the shuffle and the final window see ≤ maps·k rows
    * per stratum — never the stratum's documents. Pinned in CorpusSpec. */
  def exactStratifiedSample(docs: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k > 0, "k must be > 0")
    val hkey = hashOrderKey
    docs
      .select(col("source"), col("doc_id"), col("lang"), hkey.as("hkey"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("source").orderBy(col("hkey"), col("doc_id"))))
      .filter(col("rnk") <= k)
      .select(col("source"), col("doc_id"), col("lang"), col("rnk"))
  }

  /** Quality-keeper near-dup dedup (op 102): [[dedupClusters]] picks the
    * MIN-ID representative; real curation pipelines (RefinedWeb §3.3,
    * CCNet) instead keep the BEST member of each duplicate cluster — the
    * longest / highest-quality copy, because syndicated republications
    * truncate and strip. Keeper = the cluster member with max n_tokens,
    * doc_id asc tie-break (total order ⇒ deterministic). Returns every
    * clustered doc as (doc_id, rep, cluster_size, n_tokens, keeper,
    * is_keeper); unclustered docs are implicitly all keepers (same
    * contract as [[dedupClusters]]).
    *
    * Plan: the cluster table is node-count-sized (docs in ≥1 pair), the
    * quality attach is an 8-byte equi-join, the argmax is one hash agg on
    * rep (max_by over a (n_tokens, −doc_id) struct — partial-aggregable,
    * no per-cluster window), and the keeper rejoin is cluster-count-sized.
    * Nothing corpus-sized shuffles beyond what the pair join already did. */
  def dedupKeepBest(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    dedupKeepBestFrom(docs, Dedup.ngramJaccardPairs(docs, threshold))

  /** [[dedupKeepBest]] over a precomputed pair relation (shared-kernel
    * registry shape — see [[dedupClustersFrom]]). */
  def dedupKeepBestFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val clusters = connectedComponents(pairs)
    val ntok = docs.select(
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val labeled = clusters.join(ntok, Seq("doc_id"))
    val keepers = labeled.groupBy("rep")
      .agg(max_by(col("doc_id"), struct(col("n_tokens"), -col("doc_id"))).as("keeper"))
    labeled.join(keepers, Seq("rep"))
      .select(col("doc_id"), col("rep"), col("cluster_size"), col("n_tokens"),
        col("keeper"), (col("doc_id") === col("keeper")).as("is_keeper"))
  }

  /** Fractional contamination profile (op 103): per TRAINING document,
    * what share of its distinct word-n-grams appear anywhere in the eval
    * slice — the graded signal behind [[decontaminate]]'s boolean gate
    * (the Dolma/GPT-3 style pipelines threshold on overlap FRACTION, and
    * auditing a threshold needs the whole distribution including the
    * zero-overlap mass). Returns EVERY non-eval doc as
    * (doc_id, n_grams, n_overlap, contamination∈[0,1]; 0.0 for docs too
    * short to form an n-gram).
    *
    * Plan: same skeleton as [[decontaminateFrom]] (postings ⋈ distinct
    * eval keys on 8-byte hashes), plus (a) n_grams is `size(sh)` — a map
    * column on the already-computed shingle array, no extra agg — and
    * (b) a left join re-attaching the zero-overlap docs, keyed on doc_id.
    * The ratio divides two ints, bit-identical in the oracle. */
  def contaminationShare(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      n: Int = 3): DataFrame = {
    val shingled = docs.repartition(col("doc_id"))
      .select(col("doc_id"), evalPred.as("is_eval"),
        graft.functions.expressions.shingles_n(col("text"), n).as("sh"))
    val train = shingled.filter(!col("is_eval"))
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_grams"), col("sh"))
    val posts = train
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sk"))
    val evalKeys = shingled.filter(col("is_eval"))
      .select(explode(col("sh")).as("shingle"))
      .select(xxhash64(col("shingle")).as("sk"))
      .distinct()
    val overlaps = posts.join(evalKeys, Seq("sk")) // postings distinct per doc
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    train.select(col("doc_id"), col("n_grams"))
      .join(overlaps, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        round(when(col("n_grams") >= 1,
          coalesce(col("n_overlap"), lit(0L)).cast("double") / col("n_grams"))
          .otherwise(0.0), 4).as("contamination"))
  }

  /** Sequence packing (op 113): assign documents to fixed token-budget
    * training sequences (every LLM pretraining pipeline packs documents
    * into ~2k–8k-token contexts to avoid padding waste). Exact first-fit
    * is inherently sequential; the distributed single-pass rule used here
    * is CHUNKED packing: documents take a deterministic global hash order
    * (the shared LCG key) and pack_id = cum_tokens_before div budget — a
    * boundary-crossing document stays in the pack where it starts, so a
    * pack can overflow by at most (max doc len − 1) tokens. That bounded
    * overflow is the price of a one-pass distributed rule, and the bound
    * is pinned in CorpusSpec.
    *
    * Scale shape: the global running sum is
    * [[graft.operators.GlobalOrder.withRunningSumAndRank]] — the
    * range-partitioned two-phase prefix sum (no single-task global
    * window); everything else is map algebra. Deterministic and
    * key-stable across partitionings (pinned). Returns
    * (doc_id, n_tokens, cum_before, pack_id). */
  def sequencePack(docs: DataFrame, packBudget: Long, parts: Int = 32): DataFrame = {
    require(packBudget > 0, "pack budget must be > 0")
    val hkey = hashOrderKey
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"), hkey.as("hkey"))
    graft.operators.GlobalOrder.withRunningSumAndRank(
      toks, valueCol = "n_tokens",
      order = Seq(col("hkey").asc, col("doc_id").asc),
      parts = parts, sumCol = "cum_tokens", rankCol = "grank")
      .select(col("doc_id"), col("n_tokens"),
        (col("cum_tokens") - col("n_tokens")).as("cum_before"),
        expr(s"(cum_tokens - n_tokens) div ${packBudget}L").as("pack_id"))
  }

  /** Curriculum ordering (op 114): the corpus in training order — global
    * rank by LM quality (the CCNet discipline: Wenzek et al. 2020 order
    * their corpus by LM score and take quality-decreasing buckets;
    * curriculum-learning pipelines feed the rank directly). Score = the
    * op-61 unigram log-prob (4-dp-rounded, so the rank cuts on the
    * ROUNDED score — the q63/q72 rounded-rank-cut rule: a sub-ulp float
    * wiggle cannot move a rank boundary).
    *
    * Scale shape: the rank is [[graft.operators.GlobalOrder.withRank]] —
    * a range-partitioned global rank, never an empty-partition window
    * funneling the corpus through one task. Returns
    * (doc_id, mean_logp, curriculum_rank). */
  def curriculum(docs: DataFrame, parts: Int = 32): DataFrame =
    graft.operators.GlobalOrder.withRank(
      TextAnalysis.unigramLogProb(docs),
      Seq(col("mean_logp").desc, col("doc_id").asc), parts, "curriculum_rank")
      .select(col("doc_id"), col("mean_logp"), col("curriculum_rank"))

  /** Corpus datasheet (op 108): the per-language summary table every
    * dataset release ships ("Datasheets for Datasets", Gebru et al. 2021
    * — and the first page of any Pile/Dolma-style corpus report): doc
    * and source counts, token totals and extremes, mean doc length, and
    * each language's share of the token stream. One pass, exact.
    *
    * Plan: token counts are a map column (no explode — `size(split)`);
    * ONE lang-grain hash agg (count-distinct on (lang, source) — the
    * shuffle carries lang×source keys, dim-sized); the corpus total
    * rides a 1-row broadcast. Ratios are single int/int divisions —
    * bit-identical in the oracle. */
  def datasheet(docs: DataFrame): DataFrame = {
    val per = docs.select(col("lang"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val byLang = per.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      countDistinct("source").as("n_sources"),
      sum("n_tokens").as("total_tokens"),
      min("n_tokens").as("min_tokens"),
      max("n_tokens").as("max_tokens"))
    val total = per.agg(sum("n_tokens").cast("double").as("corpus_tokens"))
    byLang.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"), col("n_sources"), col("total_tokens"),
        col("min_tokens"), col("max_tokens"),
        round(col("total_tokens").cast("double") / col("n_docs"), 4).as("mean_tokens"),
        round(col("total_tokens") / col("corpus_tokens"), 4).as("token_share"))
  }

  /** Per-host boilerplate-shingle mining (op 109): the word-3-grams that
    * appear in at least `minFrac` of a host's documents — site templates
    * (subscribe footers, nav chrome, cookie banners) surface as
    * near-universal shingles while real content never crosses the
    * threshold. The extraction-QA pass that tells a crawler its parser
    * is leaking template text into `text`, and the phrase-grain
    * complement of [[dedupParagraphs]] (which needs the boilerplate to
    * be a whole paragraph).
    *
    * Plan: the shingle kernel is native and per-doc-distinct, so the
    * postings explode feeds ONE (source, shingle) hash agg with map-side
    * combine (q49's token-stats shape at the shingle grain); per-source
    * doc totals ride a broadcast dim; the int/int fraction is
    * bit-identical in the oracle. */
  def boilerplateShingles(docs: DataFrame, minFrac: Double): DataFrame = {
    val postings = docs.select(col("source"), col("doc_id"),
      explode(Dedup.shingles3(col("text"))).as("shingle"))
    val counts = postings.groupBy("source", "shingle")
      .agg(count(lit(1)).as("n_docs_with")) // shingles3 dedups per doc
    val totals = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    counts.join(broadcast(totals), Seq("source"))
      .filter(col("n_docs_with").cast("double") / col("n_docs") >= minFrac)
      .select(col("source"), col("shingle"), col("n_docs_with"), col("n_docs"),
        round(col("n_docs_with").cast("double") / col("n_docs"), 4).as("doc_frac"))
  }

  /** Host-quality blocklist (op 105): per host (source), the share of its
    * documents failing the quality gate — the domain-level curation signal
    * (C4/Dolma maintain URL blocklists; a host whose pages are mostly
    * under-length boilerplate gets dropped WHOLESALE, which catches the
    * low-quality mass that per-document gates see one page at a time).
    * Returns (source, n_docs, n_bad, bad_frac, blocked) for every host;
    * blocked ⇔ bad_frac > maxBadFrac.
    *
    * Plan: the gate is a map-side boolean (token count — no shuffle), then
    * ONE host-grain hash agg (partial combine collapses each partition to
    * host cardinality). The int/int ratio is bit-identical in the oracle. */
  def hostQualityBlocklist(docs: DataFrame, minTokens: Int = 30,
      maxBadFrac: Double = 0.5): DataFrame =
    docs
      .select(col("source"),
        (size(split(col("text"), " ")) < minTokens).cast("long").as("bad"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("bad").as("n_bad"))
      .select(col("source"), col("n_docs"), col("n_bad"),
        round(col("n_bad").cast("double") / col("n_docs"), 4).as("bad_frac"),
        (col("n_bad").cast("double") / col("n_docs") > maxBadFrac).as("blocked"))

  /** Syndication/mirror-host detection (op 104): which HOST pairs
    * republish each other's content — the host-grain rollup of the
    * near-dup pair relation (a news crawler uses it to collapse wire-copy
    * mirrors into one canonical source and to seed per-host dedup
    * priors). A pair of distinct hosts counts once per cross-host
    * near-dup document pair (q33's exact PPJoin relation). Returns
    * (host_a < host_b, n_shared).
    *
    * Plan: the document pair set is already candidate-bounded by PPJoin
    * prefix pruning; attaching hosts is two 8-byte equi-joins against a
    * (doc_id, source) projection; the rollup is one hash agg on the host
    * pair — host-pair cardinality, not corpus cardinality. */
  def syndicationPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    syndicationPairsFrom(docs, Dedup.ngramJaccardPairs(docs, threshold))

  /** [[syndicationPairs]] over a precomputed pair relation (shared-kernel
    * registry shape — see [[dedupClustersFrom]]). */
  def syndicationPairsFrom(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("src_a")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("src_b")), Seq("b"))
      .filter(col("src_a") =!= col("src_b"))
      .select(least(col("src_a"), col("src_b")).as("host_a"),
        greatest(col("src_a"), col("src_b")).as("host_b"))
      .groupBy("host_a", "host_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Mirror-host clusters (round 5): connected components over the
    * syndication pair graph ([[syndicationPairsFrom]]'s host pairs as
    * edges) — wire-copy mirror FARMS, not just pairs. The canonical
    * source of each farm is its lexicographically first host
    * (deterministic, oracle-matched); only hosts with at least one
    * mirror edge appear.
    *
    * Plan: the host universe is tiny relative to the corpus, but the
    * shape is the scale one — hash-keyed min-label CC (pointer doubling,
    * O(log diameter) rounds, [[connectedComponents]]) plus two
    * host-grain joins; no driver-side graph. */
  def mirrorClustersFrom(hostPairs: DataFrame): DataFrame = {
    val edges = hostPairs.select(
      xxhash64(col("host_a")).as("a"), xxhash64(col("host_b")).as("b"))
    val hosts = hostPairs.select(col("host_a").as("host"))
      .unionByName(hostPairs.select(col("host_b").as("host"))).distinct()
      .withColumn("id", xxhash64(col("host")))
    val labeled = hosts.join(
      connectedComponents(edges).select(col("doc_id").as("id"), col("rep")),
      Seq("id"))
    val reps = labeled.groupBy("rep")
      .agg(min("host").as("mirror_group"), countDistinct("host").as("group_size"))
    labeled.join(reps, Seq("rep"))
      .select(col("host"), col("mirror_group"), col("group_size"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every RAW document
    * by how much more likely its tokens are under a TARGET-domain unigram
    * LM than under the raw-pool LM — `(Σ_t k_t · (ln p̂_T(t) − ln p̂_R(t)))
    * / Σ_t k_t`, add-one smoothed over the joint vocabulary so tokens
    * absent from one side stay finite. Resampling raw data by these
    * weights tilts a web-scale pool toward the target domain (DSIR uses
    * hashed n-gram features; the unigram form is its oracle-expressible
    * core — the hashed swap-in changes only the token key).
    *
    * `targetPred` marks the in-domain rows (they train p̂_T and are
    * excluded from the output); returns (doc_id, n_tokens, dsir_weight)
    * for every raw document, weight rounded to 4 dp.
    *
    * Plan shape at 100 TB: one vocabulary-grain conditional-sum agg trains
    * BOTH models in a single pass (map-side combine collapses the token
    * stream pre-shuffle, the q55 discipline); |V| and the two totals ride
    * a 1-row broadcast; the per-(doc, tok) frame joins the model on the
    * token key (vocabulary-sized — AQE broadcasts from measured size, no
    * forced broadcast). Float discipline: counts are integers carried in
    * doubles, so each smoothed ratio is built from exact operands and the
    * log-ratio is bit-identical in the oracle; only the final sums'
    * addition order differs, absorbed by the 4-dp rounding. */
  def importanceWeights(docs: DataFrame,
      targetPred: org.apache.spark.sql.Column): DataFrame = {
    val toksE = docs.select(col("doc_id"), targetPred.as("is_target"),
      explode(split(col("text"), " ")).as("tok"))
    val counts = toksE.groupBy("tok").agg(
      sum(when(col("is_target"), 1L).otherwise(0L)).cast("double").as("ct"),
      sum(when(col("is_target"), 0L).otherwise(1L)).cast("double").as("cr"))
    val totals = counts.agg(
      count(lit(1)).cast("double").as("v"),
      sum("ct").as("nt"), sum("cr").as("nr"))
    val model = counts.crossJoin(broadcast(totals))
      .select(col("tok"),
        (log((col("ct") + lit(1.0)) / (col("nt") + col("v"))) -
          log((col("cr") + lit(1.0)) / (col("nr") + col("v")))).as("lr"))
    val dt = toksE.filter(!col("is_target"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).cast("double").as("k"))
    dt.join(model, Seq("tok"))
      .groupBy("doc_id")
      .agg(sum("k").cast("long").as("n_tokens"),
        round(sum(col("k") * col("lr")) / sum("k"), 4).as("dsir_weight"))
  }

  /** Overlapping token-window chunking — the embedding/RAG prep step
    * (long documents must be cut to the encoder's context before the
    * q34/q35 similarity family sees them): each document yields windows of
    * `window` tokens starting every `stride` tokens, while the start is
    * inside the document. `stride < window` overlaps chunks (context
    * continuity across cuts); the trailing chunk is whatever remains.
    * Returns (doc_id, chunk_id, n_tokens, chunk_text) — chunk_id is the
    * window ordinal, so (doc_id, chunk_id) is the stable key an embedding
    * table joins back on.
    *
    * Plan shape at 100 TB: a pure generator stage — split / sequence /
    * posexplode / slice / array_join are all codegen'd builtins, the
    * per-doc expansion is ⌈n/stride⌉ (bounded by doc length), and nothing
    * shuffles; chunking pipelines into the scan and the downstream
    * embedding stage partitions on (doc_id, chunk_id). */
  def chunkWindows(docs: DataFrame, window: Int = 20,
      stride: Int = 10): DataFrame = {
    require(window >= 1 && stride >= 1, "window and stride must be positive")
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(0), size(col("tk")) - 1, lit(stride))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        least(size(col("tk")) - col("col"), lit(window)).as("n_tokens"),
        array_join(slice(col("tk"), col("col") + 1, lit(window)), " ").as("chunk_text"))
  }

  /** Greedy leftmost non-overlapping merge of adjacent (a, b) symbol
    * pairs — the BPE apply step, shared by [[bpeTrain]]'s per-round
    * rewrite and the test-side reference encoder. */
  private[ml] def mergeAdjacent(syms: Seq[String], a: String,
      b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Distributed BPE tokenizer training (Sennrich et al. 2016) — the
    * tokenizer-learning pass every LLM data pipeline runs over its corpus:
    * start from characters (plus a word-final marker so "low" and "lower"
    * learn distinct word-end units), repeatedly count adjacent symbol
    * pairs and merge the most frequent one. Returns the learned merge
    * table (rank, left, right, pair_count) in learning order — the whole
    * tokenizer model.
    *
    * Scale shape — the production insight is that BPE statistics live at
    * the VOCABULARY grain, not the corpus grain: one corpus scan collapses
    * the token stream to (word, count) with map-side combine, and every
    * one of the `numMerges` iterations runs over that vocabulary-sized
    * frame (pair counting = arrays_zip explode + hash agg weighted by word
    * count; at 100 TB the vocabulary is millions of rows while the corpus
    * is trillions of tokens). Each round collects exactly ONE row — the
    * argmax merge rule, deterministic via (count desc, pair asc) — which
    * is driver-sized by definition (the IVF-centroid precedent); the
    * rewrite applies that rule with a Scala UDF over the vocabulary frame
    * (never the corpus), and `localCheckpoint` truncates lineage each
    * round so the plan stays constant-size (the CC discipline).
    *
    * Iterative argmax (each round's input depends on the previous merge)
    * is not expressible as one SQL query — rows-only; CorpusSpec pins the
    * full merge table against a scalar reference implementation. */
  def bpeTrain(docs: DataFrame, numMerges: Int = 24): DataFrame = {
    require(numMerges >= 1, "need at least one merge")
    val spark = docs.sparkSession
    import spark.implicits._
    val mergeUdf = udf((syms: Seq[String], a: String, b: String) =>
      mergeAdjacent(syms, a, b))
    // One corpus scan → vocabulary grain; chars via slice(split(w, ""), 1,
    // len) (Java split keeps a trailing "" at limit -1), then the marker.
    var vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).cast("double").as("wc"))
      .select(col("wc"), concat(
        slice(split(col("word"), ""), lit(1), length(col("word"))),
        array(lit("</w>"))).as("syms"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= numMerges && !exhausted) {
      val best = vocab
        .select(col("wc"), explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1).as("l"),
          slice(col("syms"), lit(2), size(col("syms")) - 1).as("r"))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("wc").cast("long").as("cnt"))
        .orderBy(desc("cnt"), asc("l"), asc("r"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best.head
        val l: String = row.getString(0)
        val rr: String = row.getString(1)
        val cnt: Long = row.getLong(2)
        merges += ((r, l, rr, cnt))
        val prev = vocab
        vocab = vocab
          .select(col("wc"), mergeUdf(col("syms"), lit(l), lit(rr)).as("syms"))
          .localCheckpoint(true)
        prev.unpersist()
        r += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** CCNet quality bucketing (Wenzek et al. 2020 §4.4): split the corpus
    * into head / middle / tail TERCILES of the LM quality score — the
    * released CommonCrawl grouping downstream consumers mix by (train on
    * head, ablate with middle, drop tail). Head = best quality = highest
    * mean log-prob; cuts are strict `>` so docs AT a cut fall to the
    * lower bucket (mirrored in the oracle).
    *
    * Plan shape: the q55 scoring subtree (two-level hash agg +
    * vocabulary join), then ONE exact-percentile agg over the doc-grain
    * score frame for both cuts (value→count map bounded by the 4-dp
    * score domain; the GK sketch is the unbounded-domain path, cf.
    * lengthQuantilesApprox), cuts re-attached by a 1-row broadcast.
    * Cut-comparison safety: scores are 4-dp multiples (1e-4 apart ≫ ulp),
    * so a sub-ulp interpolation difference between engines can never
    * flip a doc across a cut. */
  def qualityBuckets(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.unigramLogProb(docs)
    val cuts = scored.agg(
      percentile(col("mean_logp"), array(lit(1.0 / 3), lit(2.0 / 3))).as("cs"))
      .select(element_at(col("cs"), 1).as("c1"), element_at(col("cs"), 2).as("c2"))
    scored.crossJoin(broadcast(cuts))
      .select(col("doc_id"), col("n_tokens"), col("mean_logp"),
        when(col("mean_logp") > col("c2"), "head")
          .when(col("mean_logp") > col("c1"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Apply a learned BPE merge table ([[bpeTrain]]'s output) to the
    * corpus: per document, the BPE token count next to the whitespace
    * token count and the tokens-per-word fertility ratio — the metric a
    * tokenizer release is judged by, and the unit every token-budget op
    * (packing, mixture, pricing) actually needs once a real tokenizer
    * replaces whitespace counting.
    *
    * Encode rule: merges apply in rank order, one greedy-leftmost pass
    * each — equivalent to the reference encoder's repeated lowest-rank
    * merge, because a rule's product symbol cannot feed an EARLIER rule
    * (that rule was learned before the product symbol existed).
    *
    * Scale shape: the merge table is the model — k rules, collected
    * driver-side by definition; encoding runs on the DISTINCT-WORD frame
    * (vocabulary grain, same insight as training) and rejoins the corpus
    * token stream on the word key (AQE broadcasts the vocabulary side
    * from measured size; the production swap-in is an 8-byte
    * xxhash64(word) join key — the q33 discipline). The corpus-side agg
    * is a two-level hash agg with map-side combine. */
  def bpeEncode(docs: DataFrame, merges: DataFrame): DataFrame = {
    val rules: Seq[(String, String)] = merges.select(col("rank"), col("left"), col("right"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq
    val encodeLen = udf((word: String) => {
      var syms: Seq[String] = word.split("").toSeq :+ "</w>"
      rules.foreach { case (a, b) => if (syms.length > 1) syms = mergeAdjacent(syms, a, b) }
      syms.length
    })
    val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
    val wordLens = words.select("word").distinct()
      .withColumn("n_sym", encodeLen(col("word")))
    words.join(wordLens, Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("ws_tokens"), sum("n_sym").as("bpe_tokens"))
      .select(col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
        round(col("bpe_tokens").cast("double") / col("ws_tokens"), 4).as("tokens_per_word"))
  }

  /** Corpus n-gram diversity — distinct-n (Li et al. 2016): per (lang, n)
    * the unique-to-total n-gram ratio for n = 1..maxN. The release-audit
    * metric that catches mode-collapsed or template-heavy corpora (low
    * distinct-2/3 with normal distinct-1).
    *
    * Single corpus scan: all maxN gram arrays are computed in ONE
    * projection (native `shingles_all_n` per width), tagged by `stack`,
    * then exploded — no per-width re-scan, no lambda HOF. The distinct
    * count runs on xxhash64(gram) (8-byte keys, never gram text on the
    * distinct shuffle; equal to the string-keyed oracle absent 64-bit
    * collisions — the q85 trade). */
  def distinctN(docs: DataFrame, maxN: Int = 3): DataFrame = {
    require(maxN >= 1, "need maxN >= 1")
    val withArrays = docs.select(col("lang") +:
      (1 to maxN).map(n =>
        graft.functions.expressions.shingles_all_n(col("text"), n).as(s"sh$n")): _*)
    val stackExpr =
      s"stack($maxN, " + (1 to maxN).map(n => s"$n, sh$n").mkString(", ") + ")"
    withArrays
      .select(col("lang"), expr(stackExpr).as(Seq("n", "grams")))
      .select(col("lang"), col("n"), explode(col("grams")).as("g"))
      .groupBy("lang", "n")
      .agg(count(lit(1)).as("n_grams"),
        countDistinct(xxhash64(col("g"))).as("n_uniq"))
      .select(col("lang"), col("n"), col("n_grams"), col("n_uniq"),
        round(col("n_uniq").cast("double") / col("n_grams"), 4).as("distinct_frac"))
  }

  /** Zipf rank-frequency slope per language: the OLS slope of ln(tf) on
    * ln(rank) over the top-K tokens — natural text sits near −1 (Zipf's
    * law); machine-generated or template spam drifts flat. A corpus-health
    * audit next to [[datasheet]] and [[distinctN]].
    *
    * Plan: token counts per (lang, tok) collapse with map-side combine;
    * the rank window runs on the VOCABULARY-grain frame (partition =
    * one language's vocab, never documents — the q49 discipline); the
    * slope is one closed-form agg of ln sums. Every ln argument (rank,
    * integer tf) is an exact integer-valued double on both engine and
    * oracle sides (the q55 discipline); round(…,4) absorbs sum order. */
  def zipfSlope(docs: DataFrame, topK: Int = 100): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topK >= 2, "need at least two ranks for a slope")
    val tf = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).cast("double").as("tf"))
    val ranked = tf
      .withColumn("rank",
        row_number().over(Window.partitionBy("lang").orderBy(desc("tf"), asc("tok"))))
      .filter(col("rank") <= topK)
      .select(col("lang"),
        log(col("rank").cast("double")).as("x"), log(col("tf")).as("y"))
    ranked.groupBy("lang")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .select(col("lang"), col("n").cast("long").as("n_ranks"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("zipf_slope"))
  }

  /** PMI collocation mining (Church & Hanks, Computational Linguistics'90):
    * adjacent-bigram pointwise mutual information pmi(x,y) =
    * ln(p(x,y)/(p(x)p(y))) with p(x,y) = c(x,y)/B over the bigram stream
    * and p(x) = c(x)/T over the token stream — the multiword-expression
    * miner feeding tokenizer vocab decisions and phrase dictionaries.
    * `minCount` applies Church & Hanks' low-frequency guard (PMI explodes
    * for hapax pairs); output = global top-`k` by rounded PMI with a full
    * (pmi DESC, w1, w2) tie-break so the cut is total-order deterministic.
    *
    * Plan: bigram and unigram counts are two-level hash aggs with
    * map-side combine; the totals are 1-row broadcast attaches; the two
    * count joins are vocab-grain equi-joins; top-k is
    * TakeOrderedAndProject (never a global window). ln arguments are
    * exact-integer-valued doubles composed in the identical expression
    * order in the oracle; round(…,4) absorbs ulp drift (q87 discipline). */
  /** Log-likelihood-ratio collocations (Dunning, "Accurate Methods for
    * the Statistics of Surprise and Coincidence", CL'93) — the robust
    * sibling of [[pmiCollocations]]: PMI overweights rare pairs (a
    * 5/5/5 coincidence maxes it out), while G² grows with EVIDENCE, so
    * the ranking surfaces collocations a tokenizer should actually
    * fuse. Per adjacent bigram the 2×2 contingency against the bigram
    * stream (k11 = c12, rows/cols = first/second-word marginals), G² =
    * 2·Σ k·ln(k·N/(R·C)) over the nonzero cells — each term spelled
    * with identical operand order in the oracle (one expression per
    * cell, fixed 4-term sum → bit-identical doubles; 4-dp output).
    * Shapes: q200's (bigram hash aggs, marginal reaggregation, 1-row
    * broadcast total, TakeOrderedAndProject top-k). */
  def llrCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    import org.apache.spark.sql.Column
    val toks = docs.select(split(col("text"), " ").as("t"))
    val biAll = toks
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull) // q87 pattern
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val rowM = biAll.groupBy("w1").agg(sum("c12").as("c1s"))
    val colM = biAll.groupBy("w2").agg(sum("c12").as("c2s"))
    val nTot = biAll.agg(sum("c12").as("nn"))
    def cell(kc: Column, r: Column, c: Column, n: Column): Column =
      when(kc > 0, kc.cast("double") *
        (log(kc.cast("double")) + log(n.cast("double")) -
          log(r.cast("double")) - log(c.cast("double"))))
        .otherwise(lit(0.0))
    val n = col("nn")
    biAll.filter(col("c12") >= minCount)
      .join(rowM, Seq("w1")).join(colM, Seq("w2"))
      .crossJoin(broadcast(nTot))
      .select(col("w1"), col("w2"), col("c12"), col("c1s"), col("c2s"),
        round(lit(2.0) * (
          cell(col("c12"), col("c1s"), col("c2s"), n) +
            cell(col("c1s") - col("c12"), col("c1s"), n - col("c2s"), n) +
            cell(col("c2s") - col("c12"), n - col("c1s"), col("c2s"), n) +
            cell(n - col("c1s") - col("c2s") + col("c12"),
              n - col("c1s"), n - col("c2s"), n)), 4).as("llr"))
      .orderBy(col("llr").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  def pmiCollocations(docs: DataFrame, minCount: Long = 5L, k: Int = 50): DataFrame = {
    val toks = docs.select(split(col("text"), " ").as("t"))
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val bi = toks
      .select(explode(arrays_zip(
        slice(col("t"), lit(1), size(col("t")) - 1).as("w1"),
        slice(col("t"), lit(2), size(col("t")) - 1).as("w2"))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .filter(col("w1").isNotNull && col("w2").isNotNull) // q87 pattern
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    val tTot = uni.agg(sum(col("c")).cast("double").as("tt"))
    val bTot = toks.select(greatest(size(col("t")) - 1, lit(0)).cast("long").as("nb"))
      .agg(sum(col("nb")).cast("double").as("bb"))
    bi
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), Seq("w1"))
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), Seq("w2"))
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(bTot))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        round(log((col("c12").cast("double") / col("bb")) /
          ((col("c1").cast("double") / col("tt")) *
            (col("c2").cast("double") / col("tt")))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  /** Heaps'-law fit (Heaps 1978; Baeza-Yates & Ribeiro-Neto §6): the
    * vocabulary-growth exponent — V(N) ≈ K·N^β fit by OLS on
    * (ln N_i, ln V_i) sampled after every document in doc_id order.
    * Natural web text sits near β ≈ 0.5–0.6; β drifting toward 1 means
    * the crawl keeps finding novel vocabularies (coverage incomplete),
    * β collapsing toward 0 means template/boilerplate saturation — the
    * corpus-growth planning twin of [[vocabCoverage]] and [[zipfSlope]].
    *
    * Plan: per-term first-occurrence doc = min(doc_id) hash agg (the
    * op-94 first-seen trade — one row per distinct term); per-doc
    * (token count, new-term count) is a vocab-grain join-free pair of
    * aggs; BOTH prefix sums ride ONE
    * [[graft.operators.GlobalOrder.withRunningSums]] range-partitioned
    * two-phase scan (never a partition-less window); the fit is one
    * closed-form agg over ln points (zipfSlope float discipline,
    * round(…,4) absorbs sum order). */
  def heapsFit(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sparkContext.defaultParallelism
    val firstDoc = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_new"))
    val perDoc = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .join(firstDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
    val pts = graft.operators.GlobalOrder
      .withRunningSums(perDoc, Seq("n_tok", "n_new"), Seq(col("doc_id").asc),
        parts, Seq("cum_tok", "cum_vocab"))
      .select(log(col("cum_tok").cast("double")).as("x"),
        log(col("cum_vocab").cast("double")).as("y"))
    val sums = pts.agg(count(lit(1)).cast("double").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    val beta = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    sums.select(col("n").cast("long").as("n_points"),
      round(beta, 4).as("beta"),
      round(exp((col("sy") - beta * col("sx")) / col("n")), 4).as("k"))
  }

  /** Token-balanced export shard assignment — the corpus-release writer's
    * bin-packing step (webdataset/parquet shard exports want near-equal
    * token mass per shard, not near-equal doc counts). Exact bin packing
    * is sequential; the distributed rule is LPT round-robin: global rank
    * by (n_tokens DESC, doc_id) via [[graft.operators.GlobalOrder]]'s
    * range-partitioned rank (never a partition-less window), shard =
    * (rank−1) mod numShards. Dealing in descending size order bounds the
    * max−min shard spread by the largest document's token count (pinned
    * in CorpusSpec) — the standard greedy guarantee, deterministic and
    * partitioning-stable (total sort order, doc_id tiebreak). */
  def shardAssign(docs: DataFrame, numShards: Int, parts: Int = 32): DataFrame = {
    require(numShards >= 1, "need at least one shard")
    val sized = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    graft.operators.GlobalOrder
      .withRank(sized, Seq(col("n_tokens").desc, col("doc_id").asc), parts, "rank")
      .select(col("doc_id"), col("n_tokens"),
        ((col("rank") - 1) % numShards).cast("int").as("shard"))
  }

  /** Deterministic epoch shuffle — the training data loader's per-epoch
    * document order. A Fisher–Yates permutation is inherently sequential
    * and a `rand()`-keyed sort is irreproducible across retries, so
    * production loaders key each epoch by a PSEUDORANDOM PERMUTATION of
    * the id space: here multiplicative (Fibonacci) hashing — key =
    * (id·a_e + e + 1) mod 2^32 with odd golden-ratio-family multipliers
    * (Knuth TAOCP v3 §6.4). An odd multiplier is a unit mod 2^32, so the
    * map is BIJECTIVE on any 2^32-aligned id window: every epoch is a
    * true permutation, exactly reproducible, and consecutive ids land
    * ~0.38·2^32 apart (the low-discrepancy Weyl rotation), so the order
    * wraps and mixes even for a tiny contiguous id range — a mod-prime
    * Lehmer map (the first cut here) never wraps when id·a < M and
    * silently degenerates to the identity order. Products stay exact
    * int64 for id < 2^31 (corpora key their shuffle on a compacted id
    * space — exactly what [[shardAssign]]'s rank provides). Position
    * assignment is [[graft.operators.GlobalOrder]]'s range-partitioned
    * two-phase rank, never a corpus-wide window. */
  def epochShuffle(docs: DataFrame, epochs: Int = 2, parts: Int = 32): DataFrame = {
    require(epochs >= 1 && epochs <= EpochMultipliers.length, "epoch count out of range")
    val M = 4294967296L // 2^32
    (0 until epochs).map { ep =>
      val keyed = docs.select(lit(ep).as("epoch"), col("doc_id"),
        pmod(col("doc_id") * EpochMultipliers(ep) + (ep + 1), lit(M)).as("k"))
      graft.operators.GlobalOrder
        .withRank(keyed, Seq(col("k").asc, col("doc_id").asc), parts, "position")
        .select("epoch", "doc_id", "position")
    }.reduce(_ unionByName _)
  }

  /** Odd multipliers: Knuth's 2654435761 (⌊2^32/φ⌋ to the nearest odd
    * prime-ish) and the xxhash32 second prime — both units mod 2^32. */
  val EpochMultipliers: Seq[Long] = Seq(2654435761L, 2246822519L)

  /** Shard source-diversity audit: Shannon entropy (nats) and top-source
    * share of each [[shardAssign]] shard's source mix — the release
    * check that LPT round-robin dealing kept every training shard a
    * corpus-representative blend rather than a single-publisher block
    * (a shard dominated by one source trains a biased step whenever the
    * loader consumes shards sequentially; the entropy twin of q140's
    * corpus-level concentration audit).
    *
    * Plan: the shard map joins back to the 8-byte doc keys only; the
    * (shard, source) counts collapse with map-side combine; entropy is
    * one closed-form agg over the bounded shard×source grain — every
    * ln argument is an exact integer ratio (q124 discipline, round 4). */
  def shardBalanceAudit(docs: DataFrame, numShards: Int, parts: Int = 32): DataFrame = {
    val sh = shardAssign(docs, numShards, parts).select("doc_id", "shard")
    val bySrc = sh.join(docs.select("doc_id", "source"), Seq("doc_id"))
      .groupBy("shard", "source").agg(count(lit(1)).as("c"))
    // H = −Σ(c/n)ln(c/n) = ln n − (Σ c·ln c)/n — one flat agg, no nested
    // aggregate; spelled identically in the oracle.
    bySrc.groupBy("shard")
      .agg(count(lit(1)).cast("long").as("n_sources"),
        sum("c").cast("long").as("n_docs"),
        round(log(sum("c").cast("double")) -
          sum(col("c").cast("double") * log(col("c").cast("double"))) /
            sum("c").cast("double"), 4).as("entropy"),
        round(max("c").cast("double") / sum("c").cast("double"), 4).as("top_share"))
  }

  /** Hashed bag-of-words features (the Weinberger et al. 2009 hashing
    * trick): one row per (doc_id, idx) with idx = pmod(xxhash64(token),
    * dim) and v = token-count / doc-length (tf-normalized so long docs
    * don't dominate the gradient), plus a constant bias feature at
    * idx = dim. The feature space is FIXED at plan time — no vocabulary
    * collection, no fitting pass — which is what makes the trick the
    * standard at web scale. */
  private[graft] def hashedFeatures(docs: DataFrame, dim: Int): DataFrame = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
    val tok = base
      .select(col("doc_id"), size(col("tk")).cast("double").as("n"),
        explode(col("tk")).as("tok"))
      .groupBy(col("doc_id"),
        pmod(xxhash64(col("tok")), lit(dim.toLong)).cast("int").as("idx"))
      .agg((count(lit(1)) / first("n")).as("v"))
    tok.select(col("doc_id"), col("idx"), col("v"))
      .unionByName(base.select(col("doc_id"), lit(dim).as("idx"), lit(1.0).as("v")))
  }

  /** Model-based quality classification — the GPT-3/LLaMA-family filter
    * (Brown et al. 2020, App. A): a logistic-regression classifier over
    * [[hashedFeatures]] trained to distinguish a high-quality target
    * slice (`targetPred`) from the raw corpus, then every document scored
    * by it. The discriminative sibling of q112's generative DSIR
    * log-ratio: it LEARNS which token rates separate the slices instead
    * of assuming the unigram model.
    *
    * Training is full-batch gradient descent, `iters` rounds. Per round:
    * (1) margins — one doc-grain hash agg over the CACHED feature frame
    * (weights ride in as a dim+1 literal array, element_at per row);
    * (2) gradient — one idx-grain hash agg of v·(σ(margin) − y),
    * collecting exactly dim+1 rows (the model is driver-sized BY
    * DEFINITION, like bpeTrain's argmax row — the corpus never moves).
    * At 10^10 docs each round is two shuffles of (doc_id, double) /
    * (int, double) pairs; the trained model is ~dim doubles, the
    * train-once/score-many deployment shape. Scores are fp-sum-order
    * dependent (like q104's k-means) → rows-only query entry; CorpusSpec
    * pins scalar-GD parity and planted-signal separation. */
  def qualityClassifier(docs: DataFrame, targetPred: org.apache.spark.sql.Column,
      dim: Int = 64, iters: Int = 10, lr: Double = 1.0): DataFrame = {
    require(dim >= 2 && iters >= 1 && lr > 0, "need dim >= 2, iters >= 1, lr > 0")
    val labels0 = docs
      .select(col("doc_id"), coalesce(targetPred.cast("double"), lit(0.0)).as("y"))
      .persist()
    try {
      val nDocs = labels0.count().toDouble
      // Feature-frame partitioning (r6 — round-5 verdict item 2): sized to
      // the feature volume (nnz ≤ docs × (dim+1); ~4M rows ≈ 100 MB per
      // partition), NOT to spark.sql.shuffle.partitions. The GD loop runs
      // ~2 doc-grain jobs per round over these frames; with both cached
      // sides hash-partitioned by doc_id the margins agg and both residual
      // joins need NO exchange (any hashpartitioning(doc_id, n) satisfies
      // the clustered distribution), so a round is map-side work plus one
      // AQE-coalesced dim+1-row gradient agg — at bench scale the 4×-cores
      // policy (128) was instead scheduling 128 tasks × ~21 tiny jobs
      // (q122's 10× r5 regression, 5 s → 49 s).
      val parts = math.max(1, math.ceil(nDocs * (dim + 1) / 4e6).toInt)
      val feats = hashedFeatures(docs, dim)
        .repartition(parts, col("doc_id")).persist()
      val labels = labels0.repartition(parts, col("doc_id")).persist()
      try {
      def margins(w: Array[Double]): DataFrame = feats
        .withColumn("wv", element_at(typedlit(w.toSeq), col("idx") + 1) * col("v"))
        .groupBy("doc_id").agg(sum("wv").as("m"))
      val w = new Array[Double](dim + 1)
      for (_ <- 1 to iters) {
        val resid = labels.join(margins(w), Seq("doc_id"))
          .select(col("doc_id"),
            (lit(1.0) / (lit(1.0) + exp(-col("m"))) - col("y")).as("r"))
        val g = new Array[Double](dim + 1)
        feats.join(resid, Seq("doc_id"))
          .groupBy("idx").agg(sum(col("v") * col("r")).as("g"))
          .collect()
          .foreach(row => g(row.getAs[Int]("idx")) = row.getAs[Double]("g"))
        var i = 0
        while (i <= dim) { w(i) -= lr * g(i) / nDocs; i += 1 }
      }
      margins(w).join(labels, Seq("doc_id"))
        .select(col("doc_id"),
          round(lit(1.0) / (lit(1.0) + exp(-col("m"))), 4).as("score"),
          (col("m") > 0).as("target_like"),
          (col("y") > 0.5).as("is_target"))
        .localCheckpoint(true) // materialize before the feature cache drops
      } finally {
        feats.unpersist()
        labels.unpersist()
      }
    } finally {
      labels0.unpersist()
    }
  }

  /** Language-temperature resampling weights (the mT5/XLM-R multilingual
    * mixing rule, Xue et al. 2021 / Conneau et al. 2020): resampled
    * share ∝ share^α with α < 1 — low-resource languages are up-sampled,
    * the head is flattened. Per language: doc count, raw corpus share,
    * the temperature-resampled share, and the sampling factor a
    * per-document draw multiplies its base rate by (the q131/q48
    * samplers consume it as the weight column).
    *
    * Plan shape at 100 TB: ONE lang-grain hash agg over the corpus
    * (map-side combined), then everything downstream runs on the
    * lang-cardinality frame (≤ a few hundred rows) with 1-row broadcast
    * totals — no second corpus scan, no shuffle beyond the first agg.
    *
    * Float discipline: share is an exact int/int double on both sides;
    * pow/`^` may differ by an ulp between libms, absorbed by the 6-dp
    * rounding (q69's argument); Z sums lang-cardinality terms only. */
  def temperatureWeights(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").cast("double").as("n_total"))
    val p = counts.crossJoin(broadcast(total))
      .withColumn("share", col("n_docs").cast("double") / col("n_total"))
      .withColumn("p_alpha", pow(col("share"), lit(alpha)))
    val z = p.agg(sum("p_alpha").as("z"))
    p.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        round(col("share"), 6).as("share"),
        round(col("p_alpha") / col("z"), 6).as("resampled_share"),
        round(col("p_alpha") / col("z") / col("share"), 6).as("sample_factor"))
  }

  /** Cross-snapshot token-distribution drift — KL(new ‖ old) per
    * language with add-1 smoothing over the union vocabulary: the
    * corpus-release audit that catches a parser regression, a source-mix
    * shift, or template contamination between two crawl snapshots (a
    * large KL on a stable language = investigate before training).
    *
    * Smoothed p(tok) = (c_new+1)/(N_new+V), q(tok) = (c_old+1)/(N_old+V);
    * KL = Σ p·(ln(c_new+1) − ln(N_new+V) − ln(c_old+1) + ln(N_old+V)) —
    * EVERY ln operand is an exact integer-valued double (the q55/q120
    * discipline), so both engines evaluate identical logs; only the
    * final sum's order differs, absorbed by 6-dp rounding.
    *
    * Plan shape: one union scan with a side tag → ONE (lang, tok) hash
    * agg with map-side combine (conditional counts per side) → lang-grain
    * totals re-attached via a lang-cardinality broadcast join → one
    * final lang-grain agg. The shuffle carries the vocabulary grain,
    * never the token stream. */
  def tokenDrift(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    val tagged = oldDocs.select(col("lang"), col("text"), lit(0).as("side"))
      .unionAll(newDocs.select(col("lang"), col("text"), lit(1).as("side")))
    val tokCounts = tagged
      .select(col("lang"), col("side"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("lang", "tok")
      .agg(
        sum(when(col("side") === 0, 1L).otherwise(0L)).as("c_old"),
        sum(when(col("side") === 1, 1L).otherwise(0L)).as("c_new"))
    val langTotals = tokCounts.groupBy("lang")
      .agg(sum("c_old").as("n_old"), sum("c_new").as("n_new"),
        count(lit(1)).as("vocab"))
    tokCounts.join(broadcast(langTotals), Seq("lang"))
      .select(col("lang"), col("n_old"), col("n_new"), col("vocab"),
        (((col("c_new") + 1).cast("double") / (col("n_new") + col("vocab"))) *
          (log(col("c_new") + 1) - log(col("n_new") + col("vocab")) -
            log(col("c_old") + 1) + log(col("n_old") + col("vocab"))))
          .as("term"))
      .groupBy("lang")
      .agg(first("n_old").as("n_tokens_old"), first("n_new").as("n_tokens_new"),
        first("vocab").as("vocab"), round(sum("term"), 6).as("kl_new_old"))
  }

  /** Per-language source-concentration audit — is a language slice
    * dominated by a handful of publishers? Emits, per language: source
    * count, doc count, top-source share, HHI (Herfindahl–Hirschman,
    * Σ share²), Jain's fairness index ((Σn)²/(k·Σn²), 1 = perfectly
    * even), and Shannon entropy over the source distribution. The
    * release-audit sibling of op-108's datasheet: a diverse-looking
    * corpus whose 'de' slice is 90% one wire service is a training-data
    * risk the doc counts alone don't show.
    *
    * Exactness: HHI = (Σn²)/N², Jain = N²/(k·Σn²), top = max(n)/N — all
    * single divisions of exactly-summed integer-valued doubles
    * (bit-identical in the oracle, no rounding needed; the squares and
    * products go through DOUBLE, not Long — Long² overflows at the
    * 10^10-doc design point, and integer-valued doubles stay exact to
    * 2^53); entropy = ln N − (Σ n·ln n)/N keeps every ln operand
    * integer-valued (q55 discipline), its sum order absorbed by 6-dp
    * rounding. Plan: two-level hash agg ((lang, source) → lang),
    * map-side combined — shuffles carry the source grain. */
  def sourceConcentration(docs: DataFrame): DataFrame = {
    val nd = col("n").cast("double")
    docs.groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_sources"),
        sum("n").as("n_docs"),
        (max("n").cast("double") / sum("n")).as("top_share"),
        (sum(nd * nd) / (sum(nd) * sum(nd))).as("hhi"),
        ((sum(nd) * sum(nd)) /
          (count(lit(1)) * sum(nd * nd))).as("jain"),
        round(log(sum(nd)) - sum(nd * log(nd)) / sum(nd), 6).as("entropy"))
  }

  /** Fixed-iteration HITS (Kleinberg 1999) over a weighted directed
    * graph — hubs point at good authorities, authorities are pointed at
    * by good hubs; the second centrality next to op-75's PageRank (an
    * authority ranking that, unlike PageRank, separates the pointer
    * role from the pointee role).
    *
    * EXACTNESS over per-round normalization: scores start at 1 and each
    * half-round is Σ w·score — with integer weights every intermediate
    * value is an exact integer-valued double (sum order irrelevant, the
    * oracle unrolls the same joins), and the single end normalization is
    * one division per node by an exactly-summed total. The classic
    * per-round L2 normalization would put a sqrt-of-float-sum inside
    * every round; deferring it to the end changes nothing at fixed
    * iteration count (HITS is scale-invariant per round). Caveat at
    * scale: magnitudes grow like (Σw)^iters — fine in doubles for the
    * pinned 3 iterations on any real graph (≪ 1e300); a production
    * run with iters ≫ 10 would switch to per-round normalization and
    * forfeit oracle exactness.
    *
    * Plan: per half-round ONE shuffled equi-join of scores to edges +
    * one hash agg — node-grain frames throughout, no driver-side graph
    * (the op-75 discipline). */
  def hitsFixed(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    var hub = nodes.select(col("node"), lit(1.0).as("s"))
    var auth = hub
    for (_ <- 1 to iters) {
      auth = nodes.join(
        edges.join(hub.withColumnRenamed("node", "src"), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("w") * col("s")).as("t"))
          .withColumnRenamed("dst", "node"),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("t"), lit(0.0)).as("s"))
      hub = nodes.join(
        edges.join(auth.withColumnRenamed("node", "dst"), Seq("dst"))
          .groupBy(col("src")).agg(sum(col("w") * col("s")).as("t"))
          .withColumnRenamed("src", "node"),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("t"), lit(0.0)).as("s"))
    }
    val scores = auth.withColumnRenamed("s", "a")
      .join(hub.withColumnRenamed("s", "h"), Seq("node"))
    val totals = scores.agg(sum("a").as("za"), sum("h").as("zh"))
    scores.crossJoin(broadcast(totals))
      .select(col("node"),
        round(col("a") / col("za"), 6).as("authority"),
        round(col("h") / col("zh"), 6).as("hub"))
  }

  /** Cross-snapshot corpus overlap: how much of one crawl snapshot's
    * CONTENT recurs in another (the refresh-rate / dedup-planning audit —
    * "how much of next month's crawl is this month's crawl again").
    * Content identity = the sorted distinct token set (the q31 rep
    * notion: word order and repetition don't make a page new); each side
    * collapses to its distinct set-key population, then one row:
    * distinct counts, the intersection, Jaccard, and containment of the
    * NEW side in the old (the "re-crawl waste" share).
    *
    * Scale shape: the set key is xxhash64 of the canonically-joined
    * token set, computed MAP-SIDE — text never shuffles; both distincts
    * and the intersection join carry 8-byte keys only. Identity is
    * modulo xxhash64 collisions (the q85 capture-digest trade; the
    * oracle compares the token sets themselves). Ratios are single
    * divisions of exactly-summed integers — bit-identical, no rounding
    * (q140 discipline). */
  def snapshotOverlap(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def keys(d: DataFrame) = d
      .select(xxhash64(concat_ws(" ",
        array_sort(array_distinct(split(col("text"), " "))))).as("k"))
      .distinct()
    val a = keys(oldDocs)
    val b = keys(newDocs)
    val common = a.join(b, Seq("k"), "left_semi").agg(count(lit(1)).as("n_common"))
    a.agg(count(lit(1)).as("n_old"))
      .crossJoin(b.agg(count(lit(1)).as("n_new")))
      .crossJoin(common)
      .select(col("n_old"), col("n_new"), col("n_common"),
        (col("n_common").cast("double") /
          (col("n_old") + col("n_new") - col("n_common")).cast("double")).as("jaccard"),
        (col("n_common").cast("double") / col("n_new").cast("double"))
          .as("containment_new"))
  }

  /** Training-shard export sink: materialize the corpus as `numShards`
    * token-balanced parquet shards (the [[shardAssign]] LPT assignment)
    * partitioned by `shard=` directory — the layout a training job's
    * data loader consumes shard-per-worker, with near-equal token mass
    * so no worker straggles.
    *
    * Commit protocol (the checkpoint/manifest-last discipline, op 5):
    * the `_MANIFEST` marker is DELETED before the overwrite and written
    * back only after the data lands, so a reader (or a concurrent
    * session sharing the work dir) either sees the complete previous
    * generation or refuses — never a half-written mix. The row-count in
    * the manifest comes from the written parquet FOOTERS (a metadata
    * read, no second scan of the corpus). Rows sort by doc_id within
    * each shard file for reproducible iteration order. */
  def writeTrainingShards(docs: DataFrame, path: String, numShards: Int,
      parts: Int = 32): Unit = {
    import java.nio.file.{Files, Paths}
    require(numShards >= 1, "need at least one shard")
    val spark = docs.sparkSession
    val manifest = Paths.get(path, "_MANIFEST")
    Files.createDirectories(Paths.get(path))
    Files.deleteIfExists(manifest) // uncommit before touching data
    shardAssign(docs, numShards, parts)
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .repartition(numShards, col("shard"))
      // the writer's required ordering for partitionBy("shard") must be
      // satisfied by OUR sort or the planner inserts its own (dropping
      // the doc_id sub-order) — lead with the partition column
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("shard")
      .parquet(s"$path/data")
    val nDocs = Parquet.read(spark, s"$path/data").count() // footer metadata only
    Files.writeString(manifest,
      s"""{"num_shards":$numShards,"n_docs":$nDocs}""")
  }

  /** Read back a committed [[writeTrainingShards]] export; refuses an
    * uncommitted (manifest-less) directory. */
  def readTrainingShards(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    require(java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_MANIFEST")),
      s"no committed shard export at $path")
    Parquet.read(spark, s"$path/data")
  }

  /** Content-novelty curve over crawl time: per time bucket, how many
    * DISTINCT word n-grams appeared, and what share of them had never
    * been seen in ANY earlier bucket — the "is the crawl still finding
    * new text or re-reading the web" saturation audit that sizes
    * incremental crawls (novelty decays as coverage completes).
    *
    * Shape: one shingle kernel pass → per-(bucket, shingle-hash)
    * occurrence agg (map-side combined) → min-bucket-per-shingle agg
    * (the FIRST-occurrence table — one row per distinct shingle in the
    * corpus, the same first-seen trade as op-94's min-date) → one
    * equi-join back on the 8-byte key. Text never shuffles; novelty is
    * an exact integer ratio (q140 discipline). */
  def noveltyCurve(docs: DataFrame, n: Int = 3): DataFrame = {
    val sh = docs.repartition(col("doc_id"))
      .select(date_trunc("hour", col("ts")).as("bucket"),
        explode(graft.functions.expressions.shingles_n(col("text"), n)).as("s"))
      .select(col("bucket"), xxhash64(col("s")).as("sk"))
    val occ = sh.groupBy("bucket", "sk").agg(count(lit(1)).as("c"))
    val first = occ.groupBy("sk").agg(min("bucket").as("first_bucket"))
    occ.join(first, Seq("sk"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_distinct"),
        sum(when(col("bucket") === col("first_bucket"), lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
      .select(col("bucket"), col("n_distinct"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_distinct").cast("double"))
          .as("novelty"))
  }

  /** Contrastive hard-negative mining: for each eval/query document, the
    * top-k corpus documents that are lexically CLOSE (many shared
    * distinct terms) but NOT near-duplicates (token-set Jaccard <
    * `maxJaccard`) — the negatives a contrastive retriever trains
    * against (similar enough to be hard, distinct enough to be true
    * negatives).
    *
    * Shape: both sides collapse to DISTINCT (doc, term-hash) postings
    * map-side (text never shuffles); the term-keyed join produces
    * (eval, candidate) shared-term counts by hash agg; the Jaccard gate
    * needs NO separate pair relation — J = shared/(|e|+|c|−shared) from
    * the same counts, an exact integer-ratio comparison. The rank
    * window runs on the aggregated pair grain with an all-integer key
    * (n_shared desc, doc_id) — no float boundary anywhere.
    *
    * `maxDf` drops terms with corpus document frequency above it before
    * the join — the stop-term pruning that bounds the pair space (a
    * ubiquitous term would otherwise pair every eval doc with every
    * doc; production variants go further and drive candidates off
    * idf-weighted champion lists, cf. [[Search.championTopK]]). */
  def hardNegatives(docs: DataFrame, evalPred: org.apache.spark.sql.Column,
      k: Int = 5, maxJaccard: Double = 0.5,
      maxDf: Long = Long.MaxValue): DataFrame = {
    require(k >= 1 && maxJaccard > 0, "need positive k and Jaccard gate")
    val toks = docs
      .select(col("doc_id"), evalPred.as("is_eval"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
      .select(col("doc_id"), col("is_eval"), xxhash64(col("term")).as("tk"))
    // All set statistics (shared counts AND sizes, hence the Jaccard
    // gate) are over the df-PRUNED vocabulary — one coherent universe,
    // the PPJoin-style convention for stop-pruned set similarity.
    val kept = toks.join(
      toks.groupBy("tk").agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select("tk"),
      Seq("tk"), "left_semi")
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val shared = kept.filter(col("is_eval"))
      .select(col("doc_id").as("eval_doc"), col("tk"))
      .join(kept.filter(!col("is_eval"))
        .select(col("doc_id").as("neg_doc"), col("tk")), Seq("tk"))
      .groupBy("eval_doc", "neg_doc").agg(count(lit(1)).as("n_shared"))
    val gated = shared
      .join(sizes.select(col("doc_id").as("eval_doc"), col("sz").as("esz")), Seq("eval_doc"))
      .join(sizes.select(col("doc_id").as("neg_doc"), col("sz").as("nsz")), Seq("neg_doc"))
      .filter(col("n_shared").cast("double") /
        (col("esz") + col("nsz") - col("n_shared")).cast("double") < maxJaccard)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("eval_doc")).orderBy(desc("n_shared"), col("neg_doc"))
    gated
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("eval_doc"), col("neg_doc"), col("n_shared"), col("rank"))
  }

  /** Leakage-free train/val/test split: near-duplicate CLUSTERS are
    * assigned to splits atomically (split by the cluster representative,
    * never the document), so no near-dup pair straddles train and eval —
    * the split-contamination rule every LLM data pipeline needs on top
    * of plain hashing (a doc-keyed split leaks every duplicated
    * document's content across the boundary).
    *
    * Clusters = [[dedupClusters]] (ngram-Jaccard pairs → connected
    * components); documents in no pair are their own singleton cluster
    * (rep = doc_id via the left join). The split key is the
    * [[sampleBucket]] LCG over the REP (pmod — sign-safe for hashed
    * production reps): bucket < trainPermille → train, <
    * trainPermille+valPermille → val, else test. Deterministic,
    * partition-stable, and clusters can't straddle splits by
    * construction (all members share the rep). */
  def leakageFreeSplit(docs: DataFrame, threshold: Double = 0.5,
      trainPermille: Int = 800, valPermille: Int = 100): DataFrame = {
    require(trainPermille > 0 && valPermille > 0 &&
      trainPermille + valPermille < 1000, "permille cuts must partition [0,1000)")
    val clusters = dedupClusters(docs, threshold).select("doc_id", "rep")
    val bucket = sampleBucket(col("rep"))
    docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .withColumn("split",
        when(bucket < trainPermille, lit("train"))
          .when(bucket < trainPermille + valPermille, lit("val"))
          .otherwise(lit("test")))
  }
}
