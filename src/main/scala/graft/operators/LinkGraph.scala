package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web link-graph analytics over a crawl's hyperlink edge table
  * (src page → dst page, anchor text) — the graph-side signals a
  * frontier scheduler and an indexer both consume: anchor-text
  * profiles (the classic off-page relevance signal), BFS depth from
  * the seed list (crawl-depth policy input), seed-personalized
  * PageRank (TrustRank — Gyöngyi et al. 2004 — the link-spam
  * demotion signal), and per-node degree/reciprocity stats (the
  * link-farm audit view).
  *
  * Scale shape shared by all four: every step is a shuffled equi-join
  * or hash aggregate keyed on page id — no driver-side graph, no
  * windows over raw edges (the one window in [[anchorProfiles]] runs
  * on the (dst, term) AGGREGATED grain, the op-49 discipline). At a
  * 10^10-url graph the edge table shuffles 8-byte ids + short anchor
  * strings only.
  *
  * The iterative kernels that checkpoint per round (BFS, OPIC, LPA,
  * HyperBall) materialize their loop-invariant edge-side inputs once
  * through [[Rounds.hoisted]] and free them before returning; their
  * results read only their own final checkpoints.
  */
object LinkGraph {

  /** Per-target anchor-text profile: for each link target, the
    * in-degree, the number of distinct incoming anchor terms, and the
    * dominant anchor term (most linking occurrences; lexicographic
    * tie-break) — the aggregated off-page description of a page that
    * fielded ranking (BM25F's anchor field) consumes.
    *
    * `edges` columns: (src, dst, anchor). Two map-side-combined hash
    * aggs — edge grain for in-degree, (dst, term) grain for counts —
    * plus one row_number window on the aggregated term grain
    * (WindowGroupLimit-sized, never the raw anchor stream) folded
    * into a final dst-grain agg. */
  def anchorProfiles(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_degree"))
    val terms = edges
      .select(col("dst"), explode(split(col("anchor"), " ")).as("term"))
      .groupBy("dst", "term").agg(count(lit(1)).as("n_links"))
    val w = Window.partitionBy(col("dst")).orderBy(desc("n_links"), col("term"))
    val prof = terms
      .withColumn("rn", row_number().over(w))
      .groupBy("dst")
      .agg(
        count(lit(1)).as("n_terms"),
        max(when(col("rn") === 1, col("term"))).as("top_term"),
        max(when(col("rn") === 1, col("n_links"))).as("top_links"))
    deg.join(prof, Seq("dst"))
      .select(col("dst").as("doc_id"), col("in_degree"),
        col("n_terms"), col("top_term"), col("top_links"))
  }

  /** BFS hop distance from the seed set: (doc_id, depth) for every
    * page reachable from `seeds` within `rounds` hops (unreached pages
    * are absent — the frontier's "beyond the depth budget" cut).
    *
    * Delta iteration: each round expands ONLY the frontier discovered
    * in the previous round (never the whole reached set), so round r
    * shuffles O(|frontier_r| · avg-degree) rows; min-depth semantics
    * come free because a node already in `dist` is anti-joined away
    * before it can re-enter at a larger depth. Cycles terminate for
    * the same reason. localCheckpoint truncates the per-round lineage
    * (the op-53 CC pattern; swap in a reliable checkpointDir for
    * fault tolerance on a long-lived cluster job, as
    * [[graft.ml.Corpus.connectedComponents]] does). */
  def seedDepths(edges: DataFrame, seeds: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 32, "rounds must be in [1,32]")
    val dist = Rounds.hoisted(edges.select(col("src"), col("dst"))) { e =>
      deltaBfs(e, seeds.select(col("doc_id").as("node"), lit(0).as("d")).distinct(),
        Nil, rounds)
    }
    dist.select(col("node").as("doc_id"), col("d").as("depth"))
  }

  /** The delta BFS behind [[seedDepths]], [[harmonicExact]] and
    * [[neighborhoodFunction]]: from `dist0` (`keys`, node, d = 0), round
    * r joins the round-r−1 frontier to the hoisted edge relation `e`
    * (src, dst) and anti-joins the rows already reached on (`keys`,
    * node). Every frontier and reached set is an eager localCheckpoint
    * and the superseded ones are freed, so the returned reached set
    * (`keys`, node, d) is the only storage left and reads nothing lazy —
    * `e` may be freed once this returns. */
  private def deltaBfs(e: DataFrame, dist0: DataFrame, keys: Seq[String],
      rounds: Int): DataFrame = {
    var dist = dist0.localCheckpoint()
    var frontier = dist
    for (r <- 1 to rounds) {
      val next = frontier
        .join(e, frontier("node") === e("src"))
        .select(keys.map(col) :+ col("dst").as("node"): _*).distinct()
        .join(dist, keys :+ "node", "left_anti")
        .select(keys.map(col) ++ Seq(col("node"), lit(r).as("d")): _*)
        .localCheckpoint()
      val reached = dist.unionAll(next).localCheckpoint()
      Rounds.free(frontier) // round 1's frontier is dist itself
      Rounds.free(dist)
      dist = reached
      frontier = next
    }
    Rounds.free(frontier)
    dist
  }

  /** Every (origin, node, d) with d = the hop distance from origin to
    * node, d ≤ `rounds`, over the self-loop-free distinct edges — the
    * exact pair table of [[harmonicExact]] and [[neighborhoodFunction]]. */
  private def pairDistances(edges: DataFrame, rounds: Int): DataFrame =
    Rounds.hoisted(edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()) { e =>
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      deltaBfs(e, nodes.select(col("node").as("origin"), col("node"), lit(0).as("d")),
        Seq("origin"), rounds)
    }

  /** TrustRank: PageRank personalized to a trusted seed set — the
    * teleport vector is uniform over `seeds` (and zero elsewhere)
    * instead of uniform over all nodes, so score mass flows outward
    * from vetted pages and link-farm islands that no trusted page
    * reaches score ~0. Fixed `iters` rounds, unit edge weights.
    *
    * Float discipline (the op-72 PageRank rules): (1-d) is evaluated
    * ONCE in Scala and interpolated into the oracle; the per-edge
    * term is the left-assoc rank/outdeg on both sides; only the
    * in-mass sum's addition order differs, absorbed by the 6-dp
    * output rounding. Seeds outside the graph carry no mass (the
    * teleport denominator counts seeds ∩ nodes). */
  def trustrank(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val e = edges.select(col("src"), col("dst"))
    val outw = e.groupBy("src").agg(count(lit(1)).cast("double").as("outw"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val seedNodes = seeds.select(col("doc_id").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val nSeeds = seedNodes.agg(count(lit(1)).cast("double").as("n_seeds"))
    val tele = nodes
      .join(seedNodes.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .crossJoin(broadcast(nSeeds))
      .select(col("node"),
        when(col("is_seed").isNotNull, lit(1.0) / col("n_seeds"))
          .otherwise(lit(0.0)).as("t"))
    val teleportMass = 1.0 - damping // Scala-evaluated; oracle interpolates
    // Unrolled on purpose (r6): `ranks` is referenced ONCE per round, so
    // the plan grows only linearly with the pinned 3 rounds (~1.7 s at
    // sf0.1) — a per-round Rounds.iterate checkpoint was measured 3.5×
    // SLOWER here (eager materialization jobs cost more than Catalyst's
    // linear plan). Contrast opicFixed, whose dangling-mass broadcast
    // references state multiple times per round and DOES explode.
    var ranks = tele.select(col("node"), col("t").as("rank"))
    for (_ <- 1 to iters) {
      val inMass = e
        .join(outw, Seq("src"))
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("rank") / col("outw")).as("c"))
        .groupBy("node").agg(sum("c").as("cin"))
      ranks = tele
        .join(inMass, Seq("node"), "left")
        .select(col("node"),
          (lit(teleportMass) * col("t") +
            lit(damping) * coalesce(col("cin"), lit(0.0))).as("rank"))
    }
    ranks.select(col("node").as("doc_id"), round(col("rank"), 6).as("trust"))
  }

  /** Spam-mass estimation (Gyöngyi, Berkhin, Garcia-Molina & Pedersen,
    * "Link Spam Detection Based on Mass Estimation", VLDB'06): how much
    * of a page's PageRank arrives via paths the trusted core cannot
    * explain. Runs TWO personalized-PageRank recursions in ONE joint
    * iteration over the same edges:
    *   - `pr`: teleport uniform 1/N over ALL nodes (plain PageRank);
    *   - `tr`: teleport 1/N at the trusted seeds, 0 elsewhere (the
    *     paper's q′ — note 1/N, NOT TrustRank's 1/|S|, so tr ≤ pr holds
    *     component-wise by teleport-vector monotonicity and the
    *     relative mass (pr − tr)/pr lands in [0, 1]).
    * High relative mass ≈ rank manufactured by link structure no
    * trusted page endorses — the demotion signal.
    *
    * Plan shape: the per-round in-mass join runs ONCE and aggregates
    * BOTH columns in the same map-side-combined hash agg (half the
    * shuffles of composing [[trustrank]] with `pagerankFixed`). Float
    * discipline: q69's — (1−d) and d Scala-evaluated (oracle
    * interpolates), per-edge terms the left-assoc rank/outdeg, only the
    * in-mass sums' addition order differs (absorbed by the 6-dp round);
    * the mass ratio is one division of two already-rounded values. */
  def spamMass(edges: DataFrame, seeds: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    val e = edges.select(col("src"), col("dst"))
    val outw = e.groupBy("src").agg(count(lit(1)).cast("double").as("outw"))
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nCount = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val seedNodes = seeds.select(col("doc_id").as("node")).distinct()
      .join(nodes, Seq("node"), "left_semi")
    val tele = nodes
      .join(seedNodes.withColumn("is_seed", lit(true)), Seq("node"), "left")
      .crossJoin(broadcast(nCount))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("tp"),
        when(col("is_seed").isNotNull, lit(1.0) / col("n_nodes"))
          .otherwise(lit(0.0)).as("tt"))
    val teleportMass = 1.0 - damping // Scala-evaluated; oracle interpolates
    // Unrolled on purpose (r6): same linear-plan argument as trustrank —
    // a per-round checkpoint measured 3.5× slower at sf0.1.
    var ranks = tele.select(col("node"), col("tp").as("pr"), col("tt").as("tr"))
    for (_ <- 1 to iters) {
      val inMass = e
        .join(outw, Seq("src"))
        .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"),
          (col("pr") / col("outw")).as("cp"), (col("tr") / col("outw")).as("ct"))
        .groupBy("node").agg(sum("cp").as("cinp"), sum("ct").as("cint"))
      ranks = tele
        .join(inMass, Seq("node"), "left")
        .select(col("node"),
          (lit(teleportMass) * col("tp") +
            lit(damping) * coalesce(col("cinp"), lit(0.0))).as("pr"),
          (lit(teleportMass) * col("tt") +
            lit(damping) * coalesce(col("cint"), lit(0.0))).as("tr"))
    }
    ranks.select(col("node").as("doc_id"),
      round(col("pr"), 6).as("pagerank"), round(col("tr"), 6).as("trusted_pr"),
      round((round(col("pr"), 6) - round(col("tr"), 6)) / round(col("pr"), 6), 6)
        .as("rel_spam_mass"))
  }

  /** Host-level link-graph rollup: page edges aggregated to the
    * (src_host, dst_host) grain, same-host navigation excluded — the
    * inter-publisher citation matrix that seeds TrustRank whitelists
    * and surfaces link farms (a host pair with an absurd one-way link
    * mass). Two 8-byte-key dim joins + one pair-grain hash agg; at a
    * 10^10-page graph the OUTPUT is host²-bounded, which is the point
    * of rolling up before any analysis. */
  def hostGraph(edges: DataFrame, hosts: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    e.join(hosts.select(col("doc_id").as("src"), col("host").as("src_host")), Seq("src"))
      .join(hosts.select(col("doc_id").as("dst"), col("host").as("dst_host")), Seq("dst"))
      .filter(col("src_host") =!= col("dst_host"))
      .groupBy("src_host", "dst_host").agg(count(lit(1)).as("n_links"))
  }

  /** Bibliographic-coupling pairs (Kessler 1963, the link-based
    * relatedness signal orthogonal to anchors/PageRank): two pages are
    * coupled iff they LINK TO ≥ `minShared` common targets — "cite the
    * same sources" relatedness, robust to pages that never link to each
    * other. Output (a, b, n_shared) with a < b.
    *
    * Shape: the self-join runs on the dst key, so each target
    * replicates by its in-degree² — `maxIndeg` drops super-connected
    * targets first (a page everyone links to carries no coupling
    * signal; the same stop-key pruning as the hard-negative maxDf and
    * the PPJoin prefix bound). Pair counts are a map-side-combined hash
    * agg on the (a, b) grain. */
  def couplingPairs(edges: DataFrame, minShared: Long = 2,
      maxIndeg: Long = Long.MaxValue): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val kept = e.join(
      e.groupBy("dst").agg(count(lit(1)).as("ind"))
        .filter(col("ind") <= maxIndeg).select("dst"),
      Seq("dst"), "left_semi")
    kept.select(col("src").as("a"), col("dst"))
      .join(kept.select(col("src").as("b"), col("dst")), Seq("dst"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** OPIC — Adaptive On-line Page Importance Computation (Abiteboul,
    * Preda & Cobena, WWW'03): the frontier-priority signal a crawler can
    * maintain WHILE crawling, unlike PageRank's converge-then-read. Each
    * node starts with cash 1/N; every round it distributes its whole
    * cash equally over its out-edges (dangling nodes return theirs
    * uniformly to all N — the paper's virtual-root shortcut), and banks
    * what it distributed in its history. The importance estimate after k
    * rounds is (history + cash) / (k + 1): total cash is conserved at 1
    * and history grows by exactly 1 per round, so the scores sum to 1.
    *
    * Fixed `iters` rounds keep it deterministic and oracle-unrollable
    * (the q69 PageRank discipline — the oracle replays the same per-round
    * formula; only the in-mass addition order differs and the 6-dp output
    * rounding absorbs it). Every round is two hash-keyed equi-joins plus
    * one hash agg on node ids — no driver-side graph state; the dangling
    * mass is a 1-row broadcast crossJoin (constant attach). The edges and
    * out-degrees every round reads are hoisted (Rounds' hoist rule). */
  def opicFixed(edges: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 16, "iters must be in [1,16]")
    val state = Rounds.hoisted(edges.select(col("src"), col("dst"))) { e =>
      Rounds.hoisted(e.groupBy("src").agg(count(lit(1)).as("outd"))) { outd =>
        opicRounds(e, outd, iters)
      }
    }
    state.select(col("node").as("doc_id"),
      round((col("hist") + col("cash")) / (iters + 1.0), 6).as("opic"))
  }

  /** [[opicFixed]]'s rounds over hoisted `e` (src, dst) and `outd`
    * (src, outd); every round, the last included, is checkpointed, so
    * the returned (node, cash, hist, n_nodes) state reads neither. */
  private def opicRounds(e: DataFrame, outd: DataFrame, iters: Int): DataFrame = {
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val nCount = nodes.agg(count(lit(1)).cast("double").as("n_nodes"))
    val state0 = nodes.crossJoin(broadcast(nCount))
      .select(col("node"), (lit(1.0) / col("n_nodes")).as("cash"),
        lit(0.0).as("hist"), col("n_nodes"))
    // Per-round lineage truncation (r6): each round references `state` three
    // times (in-mass join, dangling agg, carry), so the unrolled plan grew
    // ~3× per round — see Rounds' scaladoc for the measured blowup.
    Rounds.iterate(state0, iters) { state =>
      // mass arriving over edges: src's cash split equally per out-edge
      val inMass = e
        .join(outd, Seq("src"))
        .join(state.select(col("node").as("src"), col("cash")), Seq("src"))
        .select(col("dst").as("node"), (col("cash") / col("outd")).as("c"))
        .groupBy("node").agg(sum("c").as("cin"))
      // dangling nodes (no out-edges) return their cash uniformly
      val dangling = state
        .join(outd.select(col("src").as("node")), Seq("node"), "left_anti")
        .agg(coalesce(sum("cash"), lit(0.0)).as("dmass"))
      state
        .join(inMass, Seq("node"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          (coalesce(col("cin"), lit(0.0)) + col("dmass") / col("n_nodes"))
            .as("cash"),
          (col("hist") + col("cash")).as("hist"),
          col("n_nodes"))
    }
  }

  /** Per-node degree audit: out-degree, in-degree, and the count of
    * reciprocated out-edges (dst links back to src — mutual-linking is
    * the cheapest link-farm tell). One row per node with any edge.
    * Three hash aggs + one self equi-join on (src, dst) — the
    * reciprocal probe joins the edge table to its own reversal on the
    * composite key, never a cross product. */
  def degreeStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val out = e.groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("out_deg"))
    val in = e.groupBy(col("dst").as("doc_id")).agg(count(lit(1)).as("in_deg"))
    val recip = e
      .join(e.select(col("dst").as("src"), col("src").as("dst")), Seq("src", "dst"), "left_semi")
      .groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("n_reciprocal"))
    out.join(in, Seq("doc_id"), "full")
      .join(recip, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("n_reciprocal"), lit(0L)).as("n_reciprocal"))
  }

  /** Per-node triangle counts + local clustering coefficient over the
    * undirected page graph — the link-farm / community-density audit
    * (a page whose neighborhood is a clique is inside a tightly-knit
    * community; a high-degree page with near-zero clustering is a hub).
    *
    * Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11 —
    * the MapReduce-native scheme): every undirected edge is directed
    * from its lower-(degree, id) endpoint to the higher, so each
    * triangle is found EXACTLY once (at its lowest-rank apex) and the
    * wedge count is bounded by Σ d⁺(v)² where d⁺ ≤ O(√m) — the
    * orientation is what kills the "last reducer" skew of a naive
    * wedge join at a celebrity node: a 10⁸-in-degree page contributes
    * no wedges at all unless both neighbors outrank it.
    *
    * Plan shape: symmetrize+distinct (hash agg), degree (hash agg),
    * two 8-byte-key equi-joins to attach ranks, one self equi-join on
    * the apex for wedges, one semi-join to close them, one explode+agg
    * to credit each corner — no window, no cross product; only ids and
    * longs shuffle. Output per node with ≥1 edge: (doc_id, degree,
    * n_tri, clustering = 2T/(d(d−1)), 6 dp; 0 when d < 2). */
  def triangleStats(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("node").as("a"), col("deg").as("deg_a")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("deg_b")), Seq("b"))
    // orient low-(deg, id) -> high-(deg, id)
    val oriented = withDeg.select(
      when(col("deg_a") < col("deg_b") ||
        (col("deg_a") === col("deg_b") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("o"))
      .select(col("o.u").as("u"), col("o.v").as("v"))
    val orientedD = oriented
      .join(deg.select(col("node").as("v"), col("deg").as("deg_v")), Seq("v"))
    // wedges at apex u with rank(v) < rank(w); the closing edge, if it
    // exists, is oriented (v, w) by rank transitivity
    val wedges = orientedD.as("x").join(orientedD.as("y"), "u")
      .filter(col("x.deg_v") < col("y.deg_v") ||
        (col("x.deg_v") === col("y.deg_v") && col("x.v") < col("y.v")))
      .select(col("u"), col("x.v").as("v"), col("y.v").as("w"))
    val tris = wedges.join(
      oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"), "left_semi")
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0) * coalesce(col("n_tri"), lit(0L)).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** One-row degree-mixing audit of the link graph — the two
    * structural statistics the classic web measurements report
    * (Broder et al., "Graph structure in the Web", WWW'00 measured the
    * in/out-degree power laws; Newman, "Assortative mixing in
    * networks", PRL'02 defined the degree-correlation coefficient):
    *
    *  - `assortativity`: Pearson correlation of endpoint degrees over
    *    the undirected edge list (both directions — the standard
    *    symmetric estimator). The web is famously DISassortative
    *    (hubs link to leaves); a strongly assortative subgraph is a
    *    link-farm tell, complementing [[degreeStats]]' reciprocity.
    *    Every sum is an exact integer (degrees × counts), so the
    *    coefficient is ONE double division — hash-exact across
    *    engines at 6 dp.
    *  - `indeg_slope` / `outdeg_slope`: OLS slope of ln(#nodes with
    *    degree k) on ln k over the directed degree histograms (k ≥ 1)
    *    — the power-law exponent estimate (Broder reported ≈ −2.1 in /
    *    −2.7 out). Float discipline follows
    *    [[graft.ml.Corpus.heapsFit]]: sums of a histogram-sized
    *    handful of ln-products, 4-dp output round absorbing
    *    association order.
    *
    * Plan: three hash aggs (degrees, histograms) + one 1-row final agg
    * per statistic, stitched by 1-row broadcast crossJoins — nothing
    * wider than the edge list's 8-byte keys ever shuffles. */
  def degreeMixAudit(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val deg = und.select(col("a").as("node"))
      .unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val nNodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    // integer moment sums over undirected edges; both-direction Pearson:
    // n = 2m, Σx = Σy = sx, Σxy = 2·sxy, Σx² = Σy² = sxx
    val moments = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .agg(count(lit(1)).as("m"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("db")).as("sxy"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"))
    def powerSlope(degrees: DataFrame): DataFrame = {
      val pts = degrees.filter(col("deg") >= 1)
        .groupBy("deg").agg(count(lit(1)).as("n_k"))
        .select(log(col("deg").cast("double")).as("x"),
          log(col("n_k").cast("double")).as("y"))
      pts.agg(((count(lit(1)) * sum(col("x") * col("y")) - sum("x") * sum("y")) /
        (count(lit(1)) * sum(col("x") * col("x")) - sum("x") * sum("x")))
        .as("slope"))
    }
    val inSlope = powerSlope(e.groupBy(col("dst").as("node"))
      .agg(count(lit(1)).as("deg")))
    val outSlope = powerSlope(e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")))
    moments.crossJoin(broadcast(nNodes))
      .crossJoin(broadcast(inSlope.select(col("slope").as("in_slope"))))
      .crossJoin(broadcast(outSlope.select(col("slope").as("out_slope"))))
      .select(col("n_nodes"), col("m").as("n_edges_und"),
        round(((lit(2L) * col("m") * lit(2L) * col("sxy") - col("sx") * col("sx"))
          .cast("double")) /
          ((lit(2L) * col("m") * col("sxx") - col("sx") * col("sx"))
            .cast("double")), 6).as("assortativity"),
        round(col("in_slope"), 4).as("indeg_slope"),
        round(col("out_slope"), 4).as("outdeg_slope"))
  }

  /** R-truncated harmonic centrality (Boldi & Vigna, "Axioms for
    * Centrality", Internet Math. 2014 — their recommended geometric
    * centrality) over a DIM-BOUNDED node universe (host/publisher
    * grain): H(u) = Σ_{v≠u, d(v,u)≤R} 1/d(v,u), distances measured
    * INTO u (how easily the rest of the graph reaches this publisher).
    * The radius cap R both bounds the iteration and matches practice —
    * real web distances concentrate far below any useful R (Broder
    * measured avg ≈ 16 page-grain; host grain is far tighter).
    *
    * Exactness device: every distance d ≤ R, so Σ 1/d is computed as
    * an INTEGER sum of (lcm(1..R) / d) divided once by the lcm — the
    * whole statistic is exact integer arithmetic plus one double
    * division, hash-identical across engines (no float-sum order
    * anywhere).
    *
    * Plan shape: multi-source delta BFS — round r joins the round-r−1
    * FRONTIER (never the full reached set) to the edge list and
    * anti-joins the visited (origin, node) pairs, the op-53/op-142
    * discipline. State is the (origin, node) pair table: O(V·ball)
    * rows of two 8-byte keys — the exact-mode budget Boldi & Vigna's
    * HyperBall replaces with per-node HLL registers when V leaves dim
    * scale; [[hyperballHarmonic]] is that scale path (same loop, the
    * pair table collapsed to mergeable sketches), parity-pinned in
    * LinkGraphSpec. */
  def harmonicExact(edges: DataFrame, rounds: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 24, "rounds must be in [1,24]")
    val lcm = (1 to rounds).foldLeft(1L)((a, k) => a / gcd(a, k) * k)
    pairDistances(edges, rounds).filter(col("d") > 0)
      .groupBy("node")
      .agg(count(lit(1)).as("n_sources"), sum(expr(s"$lcm DIV d")).as("hnum"))
      .select(col("node").as("host"), col("n_sources"),
        round(col("hnum").cast("double") / lit(lcm.toDouble), 6).as("harmonic"))
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Neighbourhood function + effective diameter (Palmer, Gibbons &
    * Faloutsos, "ANF", KDD'02; the metric HyperANF — Boldi, Rosa &
    * Vigna, WWW'11 — scaled to the full web): N(r) = the number of
    * ordered pairs (u, v), u ≠ v, with d(u, v) ≤ r, for r = 1..R, plus
    * each radius's share of N(R) and the classic effective-diameter
    * flag (the first r whose share ≥ 0.9). Exact mode over a
    * dim-bounded universe (host grain) — the same (origin, node) BFS
    * pair table as [[harmonicExact]]; at page grain the sketch path is
    * [[hyperballHarmonic]]'s loop reading per-round ball sizes instead
    * of the final harmonic sum.
    *
    * All counts are integers; the share is one integer division rounded
    * 6 dp — hash-exact. The final cumulative step runs on an R-row
    * frame (the radius dim), so its unpartitioned window is bounded by
    * construction (the op-49 exemption). */
  def neighborhoodFunction(edges: DataFrame, rounds: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 24, "rounds must be in [1,24]")
    val perR = pairDistances(edges, rounds).filter(col("d") > 0)
      .groupBy(col("d").as("r")).agg(count(lit(1)).as("n_new"))
    val radii = edges.sparkSession.range(1, rounds + 1)
      .select(col("id").cast("int").as("r"))
    val w = Window.orderBy(col("r"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = radii.join(perR, Seq("r"), "left")
      .select(col("r"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_pairs", sum("n_new").over(w)) // R-row bounded frame
    val total = cum.agg(max("n_pairs").as("n_total"))
    cum.crossJoin(broadcast(total))
      .select(col("r"), col("n_pairs"),
        round(col("n_pairs").cast("double") / col("n_total").cast("double"), 6)
          .as("share"))
      .withColumn("reaches_90pct", col("share") >= 0.9)
  }

  /** The H-index family of a node (Lü, Zhou, Zhang & Stanley, "The
    * H-index of a network node and its relation to degree and
    * coreness", Nature Communications 2016): iterating
    * h(v) ← H(h(u) : u ∈ N(v)) from h⁰ = degree yields the spectrum
    * h⁰ = degree → h¹ = the node's classic h-index → … → h^∞ =
    * CORENESS; every finite iterate is a centrality in its own right
    * and a MONOTONE upper bound on the coreness (h^{r+1} ≤ h^r, since
    * the h-index of a multiset never exceeds its size). The k-core
    * grain is the dense-subgraph tell in link-spam analysis: a link
    * farm is a high-core cluster its organic neighborhood is not.
    *
    * This returns the r-th iterate for FIXED `rounds` — deterministic
    * and oracle-unrollable (the q216 discipline). On hub-rich web
    * graphs the iteration reaches coreness within a handful of rounds
    * (LinkGraphSpec pins iterate-16 == exact peeling coreness on
    * random graphs); on long-chain topologies like the synthetic
    * fixture the correction wave travels ~1 hop/round, so the fixed-
    * round value there is the documented UPPER-BOUND member of the
    * family, pinned ≥ coreness and monotone in r.
    *
    * The h-index of a value multiset has the closed form
    * max over the desc-sorted prefix of min(value_i, i) — ties in the
    * sort order cannot change it, so no tie-break is needed. Per round:
    * one equi-join (neighbor value lookup) + one row_number window on
    * DEGREE-BOUNDED frames + one node-grain hash agg. */
  def hIndexIterates(edges: DataFrame, rounds: Int = 6): DataFrame = {
    require(rounds >= 1 && rounds <= 32, "rounds must be in [1,32]")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val nbr = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionAll(e.select(col("dst").as("node"), col("src").as("nbr")))
      .distinct()
    val w = Window.partitionBy(col("node")).orderBy(desc("v"), asc("nbr"))
    // Unrolled on purpose (r6): `h` is referenced once per round — linear
    // plan growth; a per-round checkpoint measured 2× slower at sf0.1
    // (same finding as trustrank).
    var h = nbr.groupBy("node").agg(count(lit(1)).cast("int").as("h"))
    for (_ <- 1 to rounds) {
      h = nbr
        .join(h.select(col("node").as("nbr"), col("h").as("v")), Seq("nbr"))
        .withColumn("rn", row_number().over(w))
        .groupBy("node")
        .agg(max(least(col("v"), col("rn"))).as("h"))
    }
    h.select(col("node").as("doc_id"), col("h").as("h_iter"))
  }

  /** Fixed-round synchronous label propagation (Raghavan, Albert &
    * Kumara, Phys. Rev. E 2007) over the undirected page graph — the
    * near-linear community detector that needs no objective function:
    * every node starts with its own label; each round it adopts the
    * most frequent label among its neighbors (deterministic tie-break:
    * smallest label — the published algorithm breaks ties randomly,
    * which a reproducible pipeline cannot; fixed `rounds` replaces the
    * run-to-convergence stop for the same reason, the q69/q143
    * fixed-round discipline). Communities are DENSER than connected
    * components (q46's grain): a chain crossing two publisher clusters
    * is one component but two communities.
    *
    * Plan shape per round: one equi-join (neighbor label lookup) + one
    * (node, label) hash agg + one row_number window whose frame is a
    * node's DISTINCT NEIGHBOR LABELS (degree-bounded, never corpus-
    * wide). The symmetric neighbor table every round reads is hoisted
    * (Rounds' hoist rule). Output: (doc_id, community, community_size). */
  def lpaCommunities(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 16, "rounds must be in [1,16]")
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val w = Window.partitionBy(col("node")).orderBy(desc("c"), asc("lab"))
    // Per-round lineage truncation (r6; integer labels — bit-exact under
    // any evaluation order) — see Rounds' scaladoc. Every round, the last
    // included, is checkpointed, so `lab` no longer reads `nbr`.
    val lab = Rounds.hoisted(e.select(col("src").as("node"), col("dst").as("nbr"))
        .unionAll(e.select(col("dst").as("node"), col("src").as("nbr")))
        .distinct()) { nbr =>
      Rounds.iterate(
        nbr.select(col("node")).distinct()
          .select(col("node"), col("node").as("lab")), rounds) { lab =>
        nbr
          .join(lab.select(col("node").as("nbr"), col("lab")), Seq("nbr"))
          .groupBy("node", "lab").agg(count(lit(1)).as("c"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("node"), col("lab"))
      }
    }
    val sizes = lab.groupBy("lab").agg(count(lit(1)).as("community_size"))
    lab.join(sizes, Seq("lab"))
      .select(col("node").as("doc_id"), col("lab").as("community"),
        col("community_size"))
  }

  /** Per-community structure audit over a (doc_id, community) labeling
    * — the quality check a community detector ([[lpaCommunities]])
    * ships with: for each community its node count, volume (Σ degree),
    * internal edge count, cut size, and CONDUCTANCE
    * cut / min(vol, 2m − vol) (Kannan, Vempala & Vetta's cluster-
    * quality measure, JACM 2004) — a link farm shows up as a
    * high-volume community with near-zero conductance. Every quantity
    * is an exact integer except the final division (6 dp) — hash-exact.
    * Shape: two label attach joins on 8-byte keys + community-grain
    * hash aggs; the m total is a 1-row broadcast attach. */
  def communityQuality(edges: DataFrame, labels: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val la = labels.select(col("doc_id").as("a"), col("community").as("ca"))
    val lb = labels.select(col("doc_id").as("b"), col("community").as("cb"))
    val j = und.join(la, Seq("a")).join(lb, Seq("b"))
    val intra = j.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra_edges"))
    val cut = j.filter(col("ca") =!= col("cb"))
      .select(col("ca").as("community"))
      .unionAll(j.filter(col("ca") =!= col("cb")).select(col("cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("cut_edges"))
    val deg = und.select(col("a").as("node")).unionAll(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val vol = labels.join(deg.withColumnRenamed("node", "doc_id"), Seq("doc_id"))
      .groupBy("community")
      .agg(count(lit(1)).as("n_nodes"), sum("deg").as("volume"))
    val mTot = und.agg(count(lit(1)).as("m"))
    vol.join(intra, Seq("community"), "left")
      .join(cut, Seq("community"), "left")
      .crossJoin(broadcast(mTot))
      .select(col("community"), col("n_nodes"), col("volume"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        coalesce(col("cut_edges"), lit(0L)).as("cut_edges"),
        when(least(col("volume"), lit(2L) * col("m") - col("volume")) > 0,
          round(coalesce(col("cut_edges"), lit(0L)).cast("double") /
            least(col("volume"), lit(2L) * col("m") - col("volume")).cast("double"), 6))
          .otherwise(lit(0.0)).as("conductance"))
  }

  /** One-row web-graph datasheet — the release document for a crawl's
    * link graph (the q106 corpus-datasheet idea applied to structure),
    * composing the proven statistics: node/edge counts, reciprocity
    * (share of directed edges with a reverse — the link-farm tell
    * op 144 audits per node), global clustering coefficient
    * 3·triangles/wedges (Broder-style density), Newman assortativity,
    * and the modularity of the LPA labeling. Every input is an exact
    * integer sum; each statistic is one division at 6 dp — hash-exact.
    * Plan: five 1-row aggregates stitched by broadcast crossJoins; the
    * heavy lifting is exactly [[triangleStats]] / [[degreeMixAudit]] /
    * [[modularityQ]]'s shapes. */
  def graphDatasheet(edges: DataFrame, lpaRounds: Int = 3): DataFrame = {
    // Persisted (r6): the datasheet composes SIX sub-audits (counts,
    // reciprocity, triangles, degree mix, LPA, modularity) that each
    // re-instantiated the upstream edge plan — one evaluation, shared by
    // every branch.
    val cachedEdges = edges.persist()
    val e = cachedEdges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val und = e.select(least(col("src"), col("dst")).as("a"),
      greatest(col("src"), col("dst")).as("b")).distinct()
    val counts = e.agg(count(lit(1)).as("n_edges_dir"))
      .crossJoin(broadcast(und.agg(count(lit(1)).as("n_edges_und"))))
      .crossJoin(broadcast(e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .agg(count(lit(1)).as("n_nodes"))))
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_recip_dir"))
    val triAgg = triangleStats(cachedEdges)
      .agg(sum("n_tri").as("tri3"), // each triangle credited at 3 corners
        sum(col("degree") * (col("degree") - 1)).as("wedges2"))
    val mix = degreeMixAudit(cachedEdges)
      .select(col("assortativity"))
    val mod = modularityQ(cachedEdges,
      lpaCommunities(cachedEdges, lpaRounds).select(col("doc_id"), col("community")))
      .select(col("q_modularity").as("lpa_modularity"),
        col("n_communities"))
    counts.crossJoin(broadcast(recip)).crossJoin(broadcast(triAgg))
      .crossJoin(broadcast(mix)).crossJoin(broadcast(mod))
      .select(col("n_nodes"), col("n_edges_dir"), col("n_edges_und"),
        round(col("n_recip_dir").cast("double") /
          col("n_edges_dir").cast("double"), 6).as("reciprocity"),
        round((lit(2L) * col("tri3")).cast("double") /
          col("wedges2").cast("double"), 6).as("global_clustering"),
        col("assortativity"), col("n_communities"), col("lpa_modularity"))
  }

  /** Newman modularity of a labeling (Newman & Girvan, Phys. Rev. E
    * 2004): Q = Σ_c [ e_c/m − (vol_c/2m)² ] — how much denser inside
    * communities the graph is than a degree-preserving random rewiring.
    * Computed from the INTEGER closed form
    * Q = (4m·Σe_c − Σvol_c²) / (4m²), so the statistic is one double
    * division of two exact integers — no float-sum order anywhere,
    * hash-exact. One row: (n_communities, m_edges, q_modularity). */
  def modularityQ(edges: DataFrame, labels: DataFrame): DataFrame = {
    val audit = communityQuality(edges, labels)
    val mTot = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
      .agg(count(lit(1)).as("m"))
    audit
      .agg(count(lit(1)).as("n_communities"),
        sum("intra_edges").as("s_intra"),
        sum(col("volume") * col("volume")).as("s_vol2"))
      .crossJoin(broadcast(mTot))
      .select(col("n_communities"), col("m").as("m_edges"),
        round((lit(4L) * col("m") * col("s_intra") - col("s_vol2")).cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"), 6).as("q_modularity"))
  }

  /** HyperBall (Boldi, Rosa & Vigna, "HyperANF: approximating the
    * neighbourhood function of very large graphs", WWW'11 / the
    * HyperBall refinement) — the 10^10-node path for
    * [[harmonicExact]]: instead of the exact (origin, node) pair
    * table, each node carries ONE mergeable HyperLogLog sketch of its
    * inbound ball; round r unions every in-neighbor's round-r−1
    * sketch (one equi-join + one hll_union_agg per round, sketch-sized
    * shuffle), and the harmonic estimate accumulates
    * (|B_r| − |B_{r−1}|)/r from the per-round cardinality estimates.
    * Memory is O(V · 2^lgK) bytes total vs the exact mode's O(V·ball)
    * pairs. Estimate-valued (no oracle); the ±rel-err envelope vs
    * [[harmonicExact]] is pinned in LinkGraphSpec. The distinct edge
    * relation every round reads is hoisted (Rounds' hoist rule), and each
    * superseded round's state is freed. */
  def hyperballHarmonic(edges: DataFrame, rounds: Int = 12, lgK: Int = 12): DataFrame = {
    require(rounds >= 1 && rounds <= 24, "rounds must be in [1,24]")
    val last = Rounds.hoisted(edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct()) { e =>
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      var state = nodes
        .groupBy("node")
        .agg(hll_sketch_agg(col("node"), lit(lgK)).as("sk"))
        .select(col("node"), col("sk"),
          hll_sketch_estimate(col("sk")).as("b_prev"), lit(0.0).as("h"))
        .localCheckpoint()
      for (r <- 1 to rounds) {
        // inbound ball: my sketch ∪ (in-neighbors' sketches)
        val fromNbr = e
          .join(state.select(col("node").as("src"), col("sk")), Seq("src"))
          .select(col("dst").as("node"), col("sk"))
        val merged = state.select(col("node"), col("sk"))
          .unionByName(fromNbr)
          .groupBy("node").agg(hll_union_agg(col("sk")).as("sk2"))
        val next = state.drop("sk")
          .join(merged, Seq("node"))
          .select(col("node"), col("sk2").as("sk"),
            hll_sketch_estimate(col("sk2")).as("b_cur"),
            (col("h") + (hll_sketch_estimate(col("sk2")) - col("b_prev")) /
              lit(r.toDouble)).as("h"))
          .withColumnRenamed("b_cur", "b_prev")
          .localCheckpoint()
        Rounds.free(state)
        state = next
      }
      state
    }
    last.select(col("node").as("host"), round(col("h"), 4).as("harmonic_est"))
  }

  /** SALSA authority scores (Lempel & Moran, WWW'00; Najork, SIGIR'07
    * measured the authority side out-ranking HITS for web retrieval) —
    * the random-walk cousin of [[graft.ml.Corpus.hitsFixed]] whose
    * stationary solution is CLOSED-FORM: on the bipartite support graph
    * (every page split into a hub copy and an authority copy, one
    * undirected bipartite edge per link), the authority weight of page i
    * in connected component A_j is (|A_j|/|A|) · (d_in(i)/Σ_{k∈A_j}
    * d_in(k)). No eigen-iteration at all — mutual reinforcement reduces
    * to within-component in-degree normalization, which is why SALSA
    * resists the tightly-knit-community effect that inflates HITS.
    *
    * Plan shape: the bipartite encoding (2·id / 2·id+1) feeds the proven
    * O(log diameter) [[graft.ml.Corpus.connectedComponents]] kernel; the
    * in-degree and per-component sums are hash aggs over 8-byte keys;
    * the |A| total is a 1-row broadcast attach. Every score input is an
    * exact integer, the final two-ratio product rounds at 6 dp. */
  def salsaAuthorities(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct()
    val bip = e.select((col("src") * 2).as("a"), (col("dst") * 2 + 1).as("b"))
    val cc = graft.ml.Corpus.connectedComponents(bip)
      .select(col("doc_id").as("enc"), col("rep"))
    val din = e.groupBy("dst").agg(count(lit(1)).as("din"))
    val auth = din.join(cc, cc("enc") === din("dst") * 2 + 1).drop("enc")
    val comp = auth.groupBy("rep")
      .agg(sum("din").as("comp_din"), count(lit(1)).as("comp_auth"))
    val total = auth.agg(count(lit(1)).cast("double").as("n_auth"))
    auth.join(comp, Seq("rep")).crossJoin(broadcast(total))
      .select(col("dst").as("doc_id"), col("rep").as("component"),
        col("din").as("d_in"),
        round((col("comp_auth").cast("double") / col("n_auth")) *
          (col("din").cast("double") / col("comp_din").cast("double")), 6)
          .as("salsa_auth"))
  }
}
