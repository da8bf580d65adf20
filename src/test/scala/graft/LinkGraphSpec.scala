package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.LinkGraph

/** Link-graph analytics: anchor profiles vs hand truth, BFS seed depth vs
  * a scalar BFS (cycles included), TrustRank vs a scalar power iteration,
  * degree/reciprocity audit vs hand counts. */
class LinkGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("anchorProfiles: counts, distinct terms, dominant term with tie-break") {
    // dst 10 gets anchors from three sources: "buy acme stock" twice
    // (terms buy/acme/stock ×2) and "acme earnings call" once — top term
    // is "acme" (3 links); dst 20 gets one anchor "alpha beta beta":
    // beta counts twice from ONE link (in_degree 1, n_terms 2).
    val edges = Seq(
      (1L, 10L, "buy acme stock"),
      (2L, 10L, "buy acme stock"),
      (3L, 10L, "acme earnings call"),
      (4L, 20L, "alpha beta beta")
    ).toDF("src", "dst", "anchor")
    val got = LinkGraph.anchorProfiles(edges)
      .as[(Long, Long, Long, String, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (10L, 3L, 5L, "acme", 3L),
      (20L, 1L, 2L, "beta", 2L)))
  }

  test("anchorProfiles: lexicographic tie-break on equal link counts") {
    val edges = Seq((1L, 5L, "zeta alpha"), (2L, 5L, "zeta alpha"))
      .toDF("src", "dst", "anchor")
    val got = LinkGraph.anchorProfiles(edges)
      .as[(Long, Long, Long, String, Long)].collect()
    assert(got === Array((5L, 2L, 2L, "alpha", 2L)))
  }

  test("seedDepths == scalar BFS on a graph with cycles and unreachable nodes") {
    // 0→1→2→3→4→5 chain, 2→0 back-cycle, 10→11 island (unreachable),
    // 0→3 shortcut (3 must take depth 1, not 3).
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 0L), (10L, 11L), (0L, 3L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("doc_id")
    def truthBfs(rounds: Int): Map[Long, Int] = {
      val adj = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
        (2L, 0L), (10L, 11L), (0L, 3L)).groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var dist = Map(0L -> 0)
      var frontier = Set(0L)
      for (r <- 1 to rounds) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Nil)).diff(dist.keySet)
        dist ++= next.map(_ -> r)
        frontier = next
      }
      dist
    }
    for (rounds <- Seq(1, 2, 6)) {
      val got = LinkGraph.seedDepths(edges, seeds, rounds)
        .as[(Long, Int)].collect().toMap
      assert(got === truthBfs(rounds), s"rounds=$rounds")
    }
  }

  test("seedDepths == scalar BFS on seeded random graphs (3 seeds × cycles allowed)") {
    for (seed <- Seq(11, 29, 47)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val seeds = (0 until 3).map(_ => rnd.nextInt(n).toLong).distinct
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var dist = seeds.map(_ -> 0).toMap
      var frontier = seeds.toSet
      for (r <- 1 to 5) {
        val next = frontier.flatMap(x => adj.getOrElse(x, Nil)).diff(dist.keySet)
        dist ++= next.map(_ -> r)
        frontier = next
      }
      val got = LinkGraph.seedDepths(edges.toDF("src", "dst"), seeds.toDF("doc_id"), rounds = 5)
        .as[(Long, Int)].collect().toMap
      assert(got === dist, s"seed=$seed")
    }
  }

  test("trustrank conserves bounded mass and matches scalar iteration on random graphs") {
    for (seed <- Seq(3, 17)) {
      val rnd = new scala.util.Random(seed)
      val n = 20
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val seeds = nodes.take(3)
      val d = 0.85
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val tele = nodes.map(x => x -> (if (seeds.contains(x)) 1.0 / seeds.size else 0.0)).toMap
      var rank = tele
      for (_ <- 1 to 3) {
        val in = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
        for ((s, dsts) <- adj if rank.contains(s); dst <- dsts if rank.contains(dst))
          in(dst) += rank(s) / dsts.size
        rank = nodes.map(x => x -> ((1.0 - d) * tele(x) + d * in(x))).toMap
      }
      val got = LinkGraph.trustrank(edges.toDF("src", "dst"), seeds.toDF("doc_id"),
        iters = 3, damping = d).as[(Long, Double)].collect().toMap
      assert(got.keySet === nodes.toSet, s"seed=$seed")
      for (x <- nodes) {
        val want = BigDecimal(rank(x)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(got(x) - want) <= 1e-6, s"seed=$seed node=$x: ${got(x)} vs ${rank(x)}")
      }
      // total mass never exceeds 1 (teleport 1, damping leaks via dangling nodes)
      assert(got.values.sum <= 1.0 + 1e-9, s"seed=$seed mass ${got.values.sum}")
    }
  }

  test("trustrank == scalar power iteration; unreachable island scores teleport-zero") {
    // Seeded star: 0 links to 1,2; 1→2; island 7→8 no trusted path.
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (7L, 8L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("doc_id")
    val d = 0.85
    // Scalar reference: nodes {0,1,2,7,8}, teleport 1.0 on node 0.
    val adj = Map(0L -> Seq(1L, 2L), 1L -> Seq(2L), 7L -> Seq(8L))
    val nodes = Seq(0L, 1L, 2L, 7L, 8L)
    var rank = nodes.map(n => n -> (if (n == 0L) 1.0 else 0.0)).toMap
    for (_ <- 1 to 3) {
      val in = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((s, dsts) <- adj; dst <- dsts) in(dst) += rank(s) / dsts.size
      rank = nodes.map(n => n -> ((1.0 - d) * (if (n == 0L) 1.0 else 0.0) + d * in(n))).toMap
    }
    val got = LinkGraph.trustrank(edges, seeds, iters = 3, damping = d)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === nodes.toSet)
    for (n <- nodes) {
      // Engine rounds HALF_UP at 6 dp; mirror that on the scalar truth
      // (0.1179375 sits EXACTLY on the boundary — a tolerance can't).
      val want = BigDecimal(rank(n)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(n) === want, s"node $n: ${got(n)} vs ${rank(n)}")
    }
    assert(got(7L) === 0.0 && got(8L) === 0.0, "untrusted island carries no mass")
  }

  test("spamMass == scalar joint iteration; untrusted island has relative mass 1") {
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 20
      val edges = (Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b } ++ Seq((100L, 101L))).distinct // island
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val seeds = nodes.filter(_ < 100L).take(3)
      val d = 0.85
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val tp = nodes.map(x => x -> 1.0 / nodes.size).toMap
      val tt = nodes.map(x => x -> (if (seeds.contains(x)) 1.0 / nodes.size else 0.0)).toMap
      var pr = tp; var tr = tt
      for (_ <- 1 to 3) {
        val inP = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
        val inT = scala.collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
        for ((s, dsts) <- adj; dst <- dsts) {
          inP(dst) += pr(s) / dsts.size; inT(dst) += tr(s) / dsts.size
        }
        pr = nodes.map(x => x -> ((1.0 - d) * tp(x) + d * inP(x))).toMap
        tr = nodes.map(x => x -> ((1.0 - d) * tt(x) + d * inT(x))).toMap
      }
      def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val got = LinkGraph.spamMass(edges.toDF("src", "dst"), seeds.toDF("doc_id"),
        iters = 3, damping = d)
        .as[(Long, Double, Double, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got.keySet === nodes.toSet, s"seed=$seed")
      for (x <- nodes) {
        val (gp, gt, gm) = got(x)
        assert(math.abs(gp - r6(pr(x))) <= 1e-6, s"seed=$seed pr node=$x")
        assert(math.abs(gt - r6(tr(x))) <= 1e-6, s"seed=$seed tr node=$x")
        // trusted-core PR never exceeds plain PR (teleport monotonicity)
        assert(gt <= gp + 1e-12, s"seed=$seed node=$x: tr $gt > pr $gp")
        assert(gm >= -1e-12 && gm <= 1.0 + 1e-12, s"seed=$seed node=$x mass $gm")
      }
      // the island no trusted page reaches: ALL its rank is spam mass
      assert(got(100L)._3 === 1.0 && got(101L)._3 === 1.0, s"seed=$seed island")
    }
  }

  test("trustrank: seeds outside the edge set carry no teleport mass") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("doc_id") // 99 not in the graph
    val got = LinkGraph.trustrank(edges, seeds, iters = 1, damping = 0.85)
      .as[(Long, Double)].collect().toMap
    // n_seeds==1 (only node 1): rank(1)=0.15, rank(2)=0.85·(1.0/1).
    assert(got === Map(1L -> 0.15, 2L -> 0.85))
  }

  test("hostGraph: inter-host rollup excludes same-host edges, counts distinct page links") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (1L, 2L)).toDF("src", "dst")
    val hosts = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("doc_id", "host")
    val got = LinkGraph.hostGraph(edges, hosts)
      .as[(String, String, Long)].collect().toSet
    // 1→2 same-host dropped (and the duplicate edge deduped first);
    // a→b carries 1→3 and 2→3; b→a carries 3→1.
    assert(got === Set(("a", "b", 2L), ("b", "a", 1L)))
  }

  test("couplingPairs: shared-target counting, threshold, maxIndeg prune") {
    // 1→{10,11,12}; 2→{10,11}; 3→{10}; 4→{20}
    val edges = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L), (2L, 11L),
      (3L, 10L), (4L, 20L)).toDF("src", "dst")
    val got = LinkGraph.couplingPairs(edges, minShared = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 2L)))
    val one = LinkGraph.couplingPairs(edges, minShared = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(one === Set((1L, 2L, 2L), (1L, 3L, 1L), (2L, 3L, 1L)))
    // dst 10 has in-degree 3: pruning it leaves (1,2) sharing only 11.
    val pruned = LinkGraph.couplingPairs(edges, minShared = 1, maxIndeg = 2)
      .as[(Long, Long, Long)].collect().toSet
    assert(pruned === Set((1L, 2L, 1L)))
  }

  test("opicFixed == scalar OPIC simulation (dangling node + cycle)") {
    // 1→2→3→1 cycle, 2→4 with 4 dangling (returns cash via the virtual
    // root), 5→1 a source node (in the graph via its out-edge only).
    val edgeList = Seq((1L, 2L), (2L, 3L), (3L, 1L), (2L, 4L), (5L, 1L))
    val edges = edgeList.toDF("src", "dst")
    def truth(iters: Int): Map[Long, Double] = {
      val nodes = edgeList.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val outd = edgeList.groupBy(_._1).view.mapValues(_.size).toMap
      val n = nodes.size.toDouble
      var cash = nodes.map(_ -> 1.0 / n).toMap
      var hist = nodes.map(_ -> 0.0).toMap
      for (_ <- 1 to iters) {
        val dmass = nodes.filterNot(outd.contains).map(cash).sum
        val in = nodes.map { v =>
          v -> edgeList.filter(_._2 == v).map(e => cash(e._1) / outd(e._1)).sum
        }.toMap
        hist = nodes.map(v => v -> (hist(v) + cash(v))).toMap
        cash = nodes.map(v => v -> (in(v) + dmass / n)).toMap
      }
      nodes.map(v => v -> (hist(v) + cash(v)) / (iters + 1.0)).toMap
    }
    for (iters <- Seq(1, 3)) {
      val got = graft.operators.LinkGraph.opicFixed(edges, iters)
        .as[(Long, Double)].collect().toMap
      val exp = truth(iters)
      assert(got.keySet === exp.keySet)
      for ((k, v) <- exp) assert(math.abs(got(k) - v) < 1e-6, s"node $k iters $iters")
      // cash is conserved and history grows 1/round → scores sum to 1
      assert(math.abs(got.values.sum - 1.0) < 1e-5)
    }
  }

  test("salsaAuthorities: closed-form truth on a two-component bipartite graph") {
    // component 1 (bipartite): hubs {1,2} → auths {3,4}: 1→3, 1→4, 2→3.
    // component 2: hub 10 → auth 11. |A| = 3 auths total.
    // scores: comp1 (|A_j|=2): a(3) = (2/3)·(2/3), a(4) = (2/3)·(1/3);
    //         comp2 (|A_j|=1): a(11) = (1/3)·(1/1).
    val edges = Seq((1L, 3L), (1L, 4L), (2L, 3L), (10L, 11L)).toDF("src", "dst")
    def m6(x: Double) = math.round(x * 1e6).toDouble / 1e6
    val got = LinkGraph.salsaAuthorities(edges)
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got.keySet === Set(3L, 4L, 11L))
    assert(got(3L) === ((2L, m6(2.0 / 3 * 2 / 3))))
    assert(got(4L) === ((1L, m6(2.0 / 3 * 1 / 3))))
    assert(got(11L) === ((1L, m6(1.0 / 3))))
    // the stationary distribution sums to 1 across all authorities
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-5)
    // split-copy semantics (the SALSA trait that defuses the TKC effect):
    // adding 3→10 links hub-copy(3) to auth-copy(10) — a NEW bipartite
    // component, NOT a merge of 3's authority component with 10's; the
    // authority side now spans three components {3,4} {11} {10}.
    val widened = LinkGraph.salsaAuthorities(
      edges.unionByName(Seq((3L, 10L)).toDF("src", "dst")))
      .as[(Long, Long, Long, Double)].collect()
    assert(widened.map(_._2).distinct.length === 3)
    assert(math.abs(widened.map(_._4).sum - 1.0) < 1e-5)
  }

  test("degreeStats: hand truth including a reciprocal pair") {
    // 1↔2 reciprocal; 1→3, 4→1 one-way.
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L), (4L, 1L)).toDF("src", "dst")
    val got = LinkGraph.degreeStats(edges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got === Array(
      (1L, 2L, 2L, 1L), // out: 2,3; in: 2,4; reciprocal: 1→2
      (2L, 1L, 1L, 1L),
      (3L, 0L, 1L, 0L),
      (4L, 1L, 0L, 0L)))
  }

  // ---- round 5 (sixth session): triangles / degree mix / harmonic ----

  /** Seeded random directed edge list (self-loops excluded, dedup'd). */
  private def randomEdges(seed: Int, n: Int, m: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (1 to m).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  private def undirected(es: Seq[(Long, Long)]): Set[(Long, Long)] =
    es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet

  test("triangleStats == brute-force triple enumeration on seeded random graphs") {
    for (seed <- Seq(1, 2, 3)) {
      val es = randomEdges(seed, 14, 60)
      val und = undirected(es)
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val deg = nodes.map(v => v -> und.count(e => e._1 == v || e._2 == v)).toMap
      def adj(a: Long, b: Long) = und.contains((math.min(a, b), math.max(a, b)))
      val triTriples = nodes.combinations(3).filter {
        case Seq(a, b, c) => adj(a, b) && adj(b, c) && adj(a, c)
      }.toSeq
      val perNode = nodes.map(v =>
        v -> triTriples.count(_.contains(v))).toMap
      val truth = nodes.map { v =>
        val d = deg(v); val t = perNode(v)
        val lcc = if (d >= 2)
          BigDecimal(2.0 * t / (d.toLong * (d - 1))
          ).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        else 0.0
        (v, d.toLong, t.toLong, lcc)
      }
      val got = LinkGraph.triangleStats(es.toDF("src", "dst"))
        .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
      assert(got.map(r => (r._1, r._2, r._3)) === truth.map(r => (r._1, r._2, r._3)),
        s"seed $seed structure")
      got.zip(truth).foreach { case (g, t) =>
        assert(math.abs(g._4 - t._4) < 1e-9, s"seed $seed lcc node ${g._1}")
      }
    }
  }

  test("degreeMixAudit == scalar moments + OLS on a hand graph") {
    // hand-built non-regular digraph: a hub (0), a cycle, two feeders —
    // degree variance on both sides (a random dense graph can degenerate
    // to a regular one, where Pearson's denominator is 0/NaN)
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L), (1L, 2L), (2L, 3L),
      (3L, 4L), (4L, 5L), (5L, 0L), (1L, 5L), (6L, 0L), (6L, 1L), (7L, 3L))
    val und = undirected(es)
    val deg = und.toSeq.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toLong).toMap
    val m = und.size.toLong
    val sx = und.toSeq.map(e => deg(e._1) + deg(e._2)).sum
    val sxy = und.toSeq.map(e => deg(e._1) * deg(e._2)).sum
    val sxx = und.toSeq.map(e => deg(e._1) * deg(e._1) + deg(e._2) * deg(e._2)).sum
    val assortTruth = (2 * m * 2 * sxy - sx * sx).toDouble /
      (2 * m * sxx - sx * sx).toDouble
    def slope(hist: Map[Long, Long]): Double = {
      val pts = hist.toSeq.map { case (k, nk) => (math.log(k.toDouble), math.log(nk.toDouble)) }
      val n = pts.size.toDouble
      val (xs, ys) = (pts.map(_._1), pts.map(_._2))
      val sxy = pts.map(p => p._1 * p._2).sum
      (n * sxy - xs.sum * ys.sum) / (n * pts.map(p => p._1 * p._1).sum - xs.sum * xs.sum)
    }
    val inHist = es.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      .map { case (k, v) => (k, v) }
    val outHist = es.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      .groupBy(_._2).view.mapValues(_.size.toLong).toMap
      .map { case (k, v) => (k, v) }
    val got = LinkGraph.degreeMixAudit(es.toDF("src", "dst"))
      .as[(Long, Long, Double, Double, Double)].collect().head
    assert(!assortTruth.isNaN && !slope(inHist).isNaN && !slope(outHist).isNaN,
      "fixture must be non-degenerate")
    assert(got._1 === es.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong)
    assert(got._2 === m)
    assert(math.abs(got._3 - assortTruth) < 1e-6)
    assert(math.abs(got._4 - slope(inHist)) < 1e-4)
    assert(math.abs(got._5 - slope(outHist)) < 1e-4)
  }

  test("harmonicExact == all-pairs scalar BFS (cycles, unreachable, radius cap)") {
    val es = randomEdges(11, 12, 40)
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val rounds = 6
    val lcm = Seq(1, 2, 3, 4, 5, 6).map(_.toLong)
      .foldLeft(1L)((a, k) => a / BigInt(a).gcd(BigInt(k)).toLong * k)
    // dist(origin)(node) via BFS capped at `rounds`
    def bfs(o: Long): Map[Long, Int] = {
      var dist = Map(o -> 0); var frontier = Set(o)
      for (r <- 1 to rounds) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil)).diff(dist.keySet)
        dist ++= next.map(_ -> r); frontier = next
      }
      dist
    }
    val all = nodes.map(o => o -> bfs(o)).toMap
    val truth = nodes.flatMap { u =>
      val in = nodes.filter(v => v != u && all(v).contains(u)).map(v => all(v)(u))
      if (in.isEmpty) None
      else Some((u, in.size.toLong,
        BigDecimal(in.map(d => lcm / d).sum.toDouble / lcm.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.sortBy(_._1)
    val got = LinkGraph.harmonicExact(es.toDF("src", "dst"), rounds)
      .as[(Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(got.map(r => (r._1, r._2)) === truth.map(r => (r._1, r._2)))
    got.zip(truth).foreach { case (g, t) =>
      assert(math.abs(g._3 - t._3) < 1e-9, s"harmonic node ${g._1}")
    }
  }

  test("q212 radius cap is a fixpoint on the sf0.001 host graph (12 == 13 rounds)") {
    val dir = TestSpark.Sf0001
    val he = graft.queries.PipelineQueries.hostEdges(spark, dir)
    val a = LinkGraph.harmonicExact(he, 12).orderBy("host")
      .as[(String, Long, Double)].collect().toSeq
    val b = LinkGraph.harmonicExact(he, 13).orderBy("host")
      .as[(String, Long, Double)].collect().toSeq
    assert(a.map(r => (r._1, r._2)) === b.map(r => (r._1, r._2)))
    // harmonic denominators differ (lcm(1..12) vs lcm(1..13)) but the
    // VALUES agree when no new node enters at depth 13
    a.zip(b).foreach { case (x, y) => assert(math.abs(x._3 - y._3) < 1e-6) }
  }

  test("neighborhoodFunction == all-pairs scalar BFS; flat tail past the diameter") {
    val es = randomEdges(13, 12, 40)
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
    val rounds = 6
    def bfs(o: Long): Map[Long, Int] = {
      var dist = Map(o -> 0); var frontier = Set(o)
      for (r <- 1 to rounds) {
        val next = frontier.flatMap(v => adj.getOrElse(v, Nil)).diff(dist.keySet)
        dist ++= next.map(_ -> r); frontier = next
      }
      dist
    }
    val dists = for { o <- nodes; (v, d) <- bfs(o) if d > 0 } yield d
    val truth = (1 to rounds).map { r =>
      val np = dists.count(_ <= r).toLong
      (r, np)
    }
    val total = truth.last._2
    val got = LinkGraph.neighborhoodFunction(es.toDF("src", "dst"), rounds)
      .as[(Int, Long, Double, Boolean)].collect().sortBy(_._1).toSeq
    assert(got.map(g => (g._1, g._2)) === truth)
    got.foreach { g =>
      val share = BigDecimal(g._2.toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(g._3 - share) < 1e-9, s"r=${g._1}")
      assert(g._4 === (g._3 >= 0.9), s"flag at r=${g._1}")
    }
    // the tail past the diameter is flat at the total
    assert(got.last._2 === total)
  }

  test("hIndexIterates: converged == peeling coreness; fixed round upper-bounds it monotonically") {
    // scalar truth: classic iterative peeling (remove nodes with deg < k)
    def peelCoreness(und: Set[(Long, Long)]): Map[Long, Int] = {
      val nodes = und.toSeq.flatMap(e => Seq(e._1, e._2)).distinct
      var core = Map.empty[Long, Int]
      var remaining = nodes.toSet
      var k = 0
      while (remaining.nonEmpty) {
        var changed = true
        while (changed) {
          val deg = remaining.map(v =>
            v -> und.count(e => (e._1 == v && remaining(e._2)) ||
              (e._2 == v && remaining(e._1)))).toMap
          val drop = remaining.filter(v => deg(v) <= k)
          changed = drop.nonEmpty
          core ++= drop.map(_ -> k)
          remaining --= drop
        }
        k += 1
      }
      core
    }
    for (seed <- Seq(4, 15)) {
      val es = randomEdges(seed, 14, 55)
      val truth = peelCoreness(undirected(es))
      // hub-rich random graphs converge well inside the cap
      val got = LinkGraph.hIndexIterates(es.toDF("src", "dst"), rounds = 16)
        .as[(Long, Int)].collect().toMap
      assert(got === truth, s"seed $seed")
    }
    // On the long-chain fixture the correction wave travels ~1 hop per
    // round (>64 rounds to the fixpoint — measured), so q220's fixed
    // iterate is the documented UPPER-BOUND member of the H-index
    // family: pin h^r ≥ coreness and monotone non-increase in r.
    val edges = graft.queries.PipelineQueries.linkEdges(spark, TestSpark.Sf0001)
    val truth = peelCoreness(
      edges.select("src", "dst").as[(Long, Long)].collect()
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .filter(e => e._1 != e._2).toSet)
    val h6 = LinkGraph.hIndexIterates(edges, rounds = 6).as[(Long, Int)].collect().toMap
    val h7 = LinkGraph.hIndexIterates(edges, rounds = 7).as[(Long, Int)].collect().toMap
    assert(h6.keySet === truth.keySet)
    truth.foreach { case (v, c) =>
      assert(h6(v) >= c, s"h6 must upper-bound coreness at node $v")
      assert(h7(v) <= h6(v), s"monotone non-increase at node $v")
    }
  }

  test("lpaCommunities == scalar synchronous LPA with min-label tie-break") {
    for (seed <- Seq(2, 9, 21)) {
      val es = randomEdges(seed, 18, 50)
      val nbr = (es ++ es.map(e => (e._2, e._1))).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
      val nodes = nbr.keySet.toSeq.sorted
      var lab = nodes.map(v => v -> v).toMap
      for (_ <- 1 to 3) {
        lab = nodes.map { v =>
          val freq = nbr(v).map(lab).groupBy(identity).view.mapValues(_.size).toMap
          v -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
        }.toMap
      }
      val sizes = lab.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val got = LinkGraph.lpaCommunities(es.toDF("src", "dst"), rounds = 3)
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(got === nodes.map(v => (v, lab(v), sizes(lab(v)))), s"seed $seed")
    }
  }

  test("lpaCommunities: two cliques joined by one bridge resolve to two communities") {
    // K4 on {0..3} + K4 on {10..13} + bridge 3-10: LPA must NOT merge
    // them (CC would — the grain difference q216 exists for)
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    val es = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L))
    val got = LinkGraph.lpaCommunities(es.toDF("src", "dst"), rounds = 3)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(Set(0L, 1L, 2L).map(got) === Set(0L), "left clique converges to label 0")
    assert(Set(11L, 12L, 13L).map(got) === Set(10L), "right clique converges to label 10")
    assert(got.values.toSet.size >= 2, "the bridge must not merge the cliques")
  }

  test("graphDatasheet: hand truth on the bridged two-clique graph with one reciprocal edge") {
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    // directed: cliques one-way + bridge + ONE reverse edge (1→0)
    val es = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L), (1L, 0L))
    val got = LinkGraph.graphDatasheet(es.toDF("src", "dst"), lpaRounds = 3)
      .as[(Long, Long, Long, Double, Double, Double, Long, Double)].collect().head
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got._1 === 8L) // nodes
    assert(got._2 === 14L) // directed edges (13 und + 1 reverse)
    assert(got._3 === 13L) // undirected
    assert(got._4 === r6(2.0 / 14)) // the 0↔1 pair: both directions reciprocated
    // triangles: each K4 has 4; bridge adds none → T = 8.
    // wedges: Σd(d−1)/2 = (6 nodes deg 3 → 3) + (2 nodes deg 4 → 6) = 18+12 = 30
    assert(got._5 === r6(3.0 * 8 / 30))
    // LPA on the bridged cliques → two communities (pinned earlier) → Q matches q222's truth
    assert(got._7 === 2L)
    assert(got._8 === r6(286.0 / 676))
  }

  test("communityQuality + modularityQ: hand truth on the bridged two-clique graph") {
    def clique(ns: Seq[Long]) = for (a <- ns; b <- ns if a < b) yield (a, b)
    val es = clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L))
    val labels = (Seq(0L, 1L, 2L, 3L).map(_ -> 0L) ++
      Seq(10L, 11L, 12L, 13L).map(_ -> 10L)).toDF("doc_id", "community")
    // m = 13; per clique: intra 6, cut 1, vol 3+3+3+4 = 13
    val audit = LinkGraph.communityQuality(es.toDF("src", "dst"), labels)
      .as[(Long, Long, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    val cond = BigDecimal(1.0 / 13)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(audit(0L) === ((0L, 4L, 13L, 6L, 1L, cond)))
    assert(audit(10L) === ((10L, 4L, 13L, 6L, 1L, cond)))
    // Q = (4m·Σe_c − Σvol²)/(4m²) = (52·12 − 338)/676 = 286/676
    val q = LinkGraph.modularityQ(es.toDF("src", "dst"), labels)
      .as[(Long, Long, Double)].collect().head
    assert(q._1 === 2L && q._2 === 13L)
    assert(q._3 === BigDecimal(286.0 / 676)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // one-community labeling: zero cut, conductance guard (2m−vol = 0)
    val one = (Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 13L).map(_ -> 7L))
      .toDF("doc_id", "community")
    val a1 = LinkGraph.communityQuality(es.toDF("src", "dst"), one)
      .as[(Long, Long, Long, Long, Long, Double)].collect().head
    assert(a1 === ((7L, 8L, 26L, 13L, 0L, 0.0)))
  }

  test("hyperballHarmonic tracks harmonicExact within sketch error (host graph)") {
    val he = graft.queries.PipelineQueries.hostEdges(spark, TestSpark.Sf0001)
    val exact = LinkGraph.harmonicExact(he, 12)
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    val est = LinkGraph.hyperballHarmonic(he, 12, lgK = 12)
      .as[(String, Double)].collect().toMap
    assert(est.keySet === exact.keySet)
    exact.foreach { case (h, ex) =>
      assert(math.abs(est(h) - ex) <= math.max(0.05 * ex, 0.05),
        s"host $h est ${est(h)} vs exact $ex")
    }
  }

  /** The link-graph fixture by its definition, one row at a time: offsets
    * 1, 2 for every doc, 3..7 when doc_id % 10 == 0 and −1 when
    * doc_id % 25 == 0; a target must be an existing doc_id; the anchor is
    * the 3-token slice of the source text at token (dst mod 4) + 1. */
  private def referenceLinkEdges(docs: Seq[(Option[Long], String)]): Seq[(Long, Long, String)] = {
    val ids = docs.flatMap(_._1).toSet
    for {
      (Some(d), text) <- docs
      o <- Seq(1L, 2L) ++ (if (d % 10 == 0) 3L to 7L else Nil) ++ (if (d % 25 == 0) Seq(-1L) else Nil)
      dst = d + o if ids(dst)
    } yield {
      val from = Math.floorMod(dst, 4L).toInt
      (d, dst, text.split(" ", -1).slice(from, from + 3).mkString(" "))
    }
  }

  test("linkEdges == the scalar offset-rule generator (sf0.001; a corpus with a null doc_id)") {
    def docsOf(dir: String) = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Option[Long], String)].collect().toSeq
    // hub and back-edge sources, targets that do not exist, and a null id
    val small = java.nio.file.Files.createTempDirectory("linkedges").toString
    Seq(Some(0L), Some(1L), Some(3L), Some(5L), Some(10L), Some(14L), Some(16L), None,
      Some(24L), Some(25L), Some(50L), Some(51L), Some(57L)).map(d => (d, s"t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 ${d.getOrElse(-1L)}"))
      .toDF("doc_id", "text").write.parquet(s"$small/documents.parquet")
    for (dir <- Seq(TestSpark.Sf0001, small)) {
      val want = referenceLinkEdges(docsOf(dir))
      assert(want.map(e => e._2 - e._1).toSet === Set(-1L, 1L, 2L, 3L, 4L, 5L, 6L, 7L),
        s"every offset branch is exercised in $dir")
      val got = graft.queries.PipelineQueries.linkEdges(spark, dir)
        .as[(Long, Long, String)].collect().toSeq
      assert(got.sorted === want.sorted, dir)
    }
  }

  test("lpaCommunities and seedDepths leave only their result's storage, freed with it") {
    val sc = spark.sparkContext
    val edges = graft.queries.PipelineQueries.linkEdges(spark, TestSpark.Sf0001)
    val seeds = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      .filter(col("doc_id") % 50 === 0).select(col("doc_id"))
    def backing(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.queryExecution.logical.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.toSet
    val kernels = Seq[() => org.apache.spark.sql.DataFrame](
      () => LinkGraph.lpaCommunities(edges, rounds = 3),
      () => LinkGraph.seedDepths(edges, seeds, rounds = 6))
    for (kernel <- kernels) {
      val before = sc.getPersistentRDDs.keySet
      val out = kernel()
      assert(out.count() > 0)
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.nonEmpty && left.subsetOf(backing(out)),
        s"storage outliving the kernel: ${left -- backing(out)}")
      graft.operators.Rounds.free(out)
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    }
  }
}
