package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ml.{Search, TextAnalysis}

/** BM25 ranked retrieval vs a hand-computed truth + top-k plan shape, and
  * PII scrubbing vs hand truth (order sensitivity, idempotence, no false
  * fires on clean text). */
class SearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark merge spark table"),      // tf(spark)=2, tf(merge)=1, dl=4
    (2L, "spark row row row row row"),    // tf(spark)=1, dl=6
    (3L, "merge merge merge"),            // tf(merge)=3, dl=3
    (4L, "table scan filter group sort"), // no query term, dl=5
    (5L, "vector"))                       // tf(vector)=1, dl=1
    .toDF("doc_id", "text")

  /** Scalar BM25 reference, straight from the formula. */
  private def bm25Ref(tf: Double, df: Double, dl: Double,
      n: Double, avgdl: Double): Double = {
    val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    idf * tf * (Search.K1 + 1) /
      (tf + Search.K1 * ((1 - Search.B) + Search.B * dl / avgdl))
  }

  test("staticPrunedScores: keepK=1 keeps only each term's best posting") {
    val n = 5.0
    val avgdl = (4 + 6 + 3 + 5 + 1) / 5.0
    // Per-term best contribution: spark → doc1 (tf2,dl4 beats tf1,dl6);
    // merge → doc3 (tf3,dl3 beats tf1,dl4); vector → doc5.
    val got = Search.staticPrunedScores(corpus, Seq("spark", "merge", "vector"), 1)
      .as[(Long, Double, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def r4(x: Double) = math.rint(x * 1e4) / 1e4
    assert(got(1L)._3 === true) // survives via spark
    assert(got(1L)._2 === r4(bm25Ref(2, 2, 4, n, avgdl))) // merge posting pruned
    assert(got(2L) === ((r4(bm25Ref(1, 2, 6, n, avgdl)), 0.0, false)))
    assert(got(3L)._2 === r4(bm25Ref(3, 2, 3, n, avgdl)))
    assert(got(3L)._3 === true)
    assert(got(5L) === ((r4(bm25Ref(1, 1, 1, n, avgdl)), r4(bm25Ref(1, 1, 1, n, avgdl)), true)))
    // full scores always dominate pruned ones
    assert(got.values.forall { case (f, p, _) => f >= p })
    // with keepK large, pruning is the identity
    val id = Search.staticPrunedScores(corpus, Seq("spark", "merge", "vector"), 100)
      .as[(Long, Double, Double, Boolean)].collect()
    assert(id.forall(r => r._2 == r._3 && r._4))
  }

  test("prunedRecallAtK: hand-ranked overlap at each cut; identity at large keepK") {
    // Full ranking: doc1 > doc5 > doc3 > doc2. keepK=1 champions: doc1
    // (spark), doc3 (merge), doc5 (vector) → pruned ranking doc5 > doc3 > doc1.
    val got = Search.prunedRecallAtK(corpus, Seq("spark", "merge", "vector"), 1, Seq(2, 4))
      .as[(Int, Long, Double)].collect().sortBy(_._1).toList
    assert(got === List((2, 1L, 0.5), (4, 3L, 0.75)))
    val id = Search.prunedRecallAtK(corpus, Seq("spark", "merge", "vector"), 100, Seq(2, 4))
      .as[(Int, Long, Double)].collect().sortBy(_._1).toList
    assert(id === List((2, 2L, 1.0), (4, 4L, 1.0)))
  }

  test("bm25Scores matches the scalar formula on a hand corpus") {
    val n = 5.0
    val avgdl = (4 + 6 + 3 + 5 + 1) / 5.0
    // df: spark in {1,2}, merge in {1,3}, vector in {5}
    val truth = Map(
      1L -> (bm25Ref(2, 2, 4, n, avgdl) + bm25Ref(1, 2, 4, n, avgdl)),
      2L -> bm25Ref(1, 2, 6, n, avgdl),
      3L -> bm25Ref(3, 2, 3, n, avgdl),
      5L -> bm25Ref(1, 1, 1, n, avgdl))
    val got = Search.bm25Scores(corpus, Seq("spark", "merge", "vector"))
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === truth.keySet, "doc 4 has no query term and must be absent")
    for ((id, s) <- truth)
      assert(math.abs(got(id) - s) < 5e-5, s"doc $id: got ${got(id)}, want $s")
    // higher tf of the same term on the same length ranks higher; the
    // rarer term (vector, df=1) out-idfs the common ones at equal tf/dl.
    assert(got(3L) > got(2L))
  }

  test("bm25TopK == scores sorted desc (doc_id tiebreak) and plans as TakeOrderedAndProject") {
    // AQE's AdaptiveSparkPlanExec hides children from collect — pin the
    // static plan (same pattern as PlanShapeSpec.withStaticPlans).
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      bm25TopKBody()
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  private def bm25TopKBody(): Unit = {
    val top2 = Search.bm25TopK(corpus, Seq("spark", "merge", "vector"), 2)
    val want = Search.bm25Scores(corpus, Seq("spark", "merge", "vector"))
      .as[(Long, Double)].collect().sortBy { case (id, s) => (-s, id) }.take(2).toSeq
    assert(top2.as[(Long, Double)].collect().toSeq === want)
    val plan = top2.queryExecution.executedPlan
    assert(plan.collectFirst {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }.nonEmpty, s"top-k should be partial top-k, not a global sort:\n$plan")
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }.isEmpty, s"no window in the top-k plan:\n$plan")
  }

  test("persisted index == inline bm25; query-term filter pushes into the postings scan") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString + "/idx"
    Search.saveIndex(corpus, dir)
    assert(Search.indexCommitted(dir), "_INDEX_COMMITTED written last")
    val q = Seq("spark", "merge", "vector")
    val fromIdx = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    val inline = Search.bm25Scores(corpus, q).as[(Long, Double)].collect().toMap
    assert(fromIdx === inline, "index path must reproduce the inline relation exactly")
    // plan pin (static plans — AQE hides children from collect): the
    // term IN (...) predicate reaches the postings parquet scan, so a
    // query reads row groups, not the index.
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val scans = Search.bm25ScoresFromIndex(spark, dir, q)
        .queryExecution.executedPlan.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.metadata("Location").contains("postings") => s
        }
      assert(scans.nonEmpty, "postings scan present")
      assert(scans.head.metadata("PushedFilters").contains("In(term"),
        s"term filter not pushed: ${scans.head.metadata("PushedFilters")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("updateIndex: segment append == from-scratch index of the union; orphans invisible") {
    val q = Seq("spark", "merge", "vector")
    val a = corpus.filter($"doc_id" <= 3)
    val b = corpus.filter($"doc_id" > 3)
    val dir = java.nio.file.Files.createTempDirectory("bm25upd").toString + "/idx"
    Search.saveIndex(a, dir)
    // pre-update: the index answers for the indexed slice only, with
    // slice-local df/stats (docs 4,5 unknown to it).
    val pre = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    assert(pre.keySet === Set(1L, 2L, 3L))
    Search.updateIndex(spark, dir, b)
    val updated = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    // == indexing the union from scratch (df/stats remerged globally,
    // so even the old docs' scores shift to the union's idf/avgdl)...
    val scratchDir = java.nio.file.Files.createTempDirectory("bm25scr").toString + "/idx"
    Search.saveIndex(corpus, scratchDir)
    assert(updated === Search.bm25ScoresFromIndex(spark, scratchDir, q)
      .as[(Long, Double)].collect().toMap)
    // ...and == the inline relation.
    assert(updated === Search.bm25Scores(corpus, q)
      .as[(Long, Double)].collect().toMap)
    // a crashed update's orphan segment (present on disk, absent from the
    // manifest) is invisible to readers.
    val orphan = new java.io.File(s"$dir/postings/seg=9")
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/postings/seg=0"), orphan)
    assert(Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap === updated, "orphan segment leaked into the read")
  }

  test("compactIndex: one segment, same relation, fresh generation") {
    val q = Seq("spark", "merge", "vector")
    val dir = java.nio.file.Files.createTempDirectory("bm25cmp").toString + "/idx"
    Search.saveIndex(corpus.filter($"doc_id" <= 2), dir)
    Search.updateIndex(spark, dir, corpus.filter($"doc_id" > 2 && $"doc_id" <= 4))
    Search.updateIndex(spark, dir, corpus.filter($"doc_id" > 4))
    val before = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    Search.compactIndex(spark, dir)
    assert(Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap === before, "relation changed by compaction")
    // exactly one live segment; superseded segment dirs GC'd
    val segs = new java.io.File(s"$dir/postings").listFiles()
      .map(_.getName).filter(_.startsWith("seg=")).toSeq
    assert(segs === Seq("seg=3"), s"live segments: $segs")
  }

  test("bm25FreshScores: score == bm25 × half-life decay; newer identical doc outranks older") {
    val now = 1000000L
    val day = 86400L
    val docs = Seq(
      (1L, "spark merge", now - day),        // 1 day old
      (2L, "spark merge", now - 14 * day),   // 14 days old, same text
      (3L, "vector", now))                   // fresh
      .toDF("doc_id", "text", "pub_sec")
      .withColumn("published_ts", col("pub_sec").cast("timestamp"))
    val got = Search.bm25FreshScores(docs, Seq("spark", "merge", "vector"), now, 7.0)
      .as[(Long, Double)].collect().toMap
    val plain = Search.bm25Scores(docs, Seq("spark", "merge", "vector"))
      .as[(Long, Double)].collect().toMap
    for ((id, age) <- Seq(1L -> 1.0, 2L -> 14.0, 3L -> 0.0)) {
      val want = plain(id) * math.pow(0.5, age / 7.0)
      assert(math.abs(got(id) - want) < 5e-4, s"doc $id: got ${got(id)}, want $want")
    }
    assert(got(1L) > got(2L), "newer identical doc must outrank the older copy")
    // future-dated docs clamp to age 0 (never a >1 boost); null dates drop
    val weird = Seq(
      (7L, "vector", Some(now + 30 * day)), // embargo/clock-skew future date
      (8L, "vector", None))                 // undated
      .toDF("doc_id", "text", "pub_sec")
      .withColumn("published_ts", col("pub_sec").cast("timestamp"))
    val g2 = Search.bm25FreshScores(weird, Seq("vector"), now, 7.0)
      .as[(Long, Double)].collect().toMap
    val p2 = Search.bm25Scores(weird, Seq("vector")).as[(Long, Double)].collect().toMap
    assert(g2.keySet === Set(7L), "null published_ts row must drop")
    assert(math.abs(g2(7L) - p2(7L)) < 5e-4, "future date must clamp to decay 1.0")
  }

  test("deleteDocs: tombstones hide docs immediately; compaction reclaims + exact parity") {
    val q = Seq("spark", "merge", "vector")
    val dir = java.nio.file.Files.createTempDirectory("bm25del").toString + "/idx"
    Search.saveIndex(corpus, dir)
    Search.deleteDocs(spark, dir, Seq(1L, 5L).toDF("doc_id"))
    // Immediately invisible to every doc-level reader (Lucene semantics:
    // df/stats drift until merge, but deleted docs never surface).
    val pre = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    assert(pre.keySet === Set(2L, 3L), s"tombstoned docs leaked: ${pre.keySet}")
    assert(Search.booleanDocsFromIndex(spark, dir, Seq("spark"), Nil)
      .as[Long].collect().toSet === Set(2L))
    assert(Search.phraseDocsFromIndex(spark, dir, "spark merge")
      .as[Long].collect().isEmpty, "phrase reader ignored the tombstone")
    // Pre-merge scores use the STALE (pre-delete) df/stats — pin one value.
    val stale = bm25Ref(tf = 1, df = 2, dl = 6, n = 5, avgdl = 19.0 / 5)
    assert(math.abs(pre(2L) - stale) < 5e-5, s"got ${pre(2L)}, want stale-df $stale")
    // Compaction reclaims: exact parity with the surviving corpus.
    Search.compactIndex(spark, dir)
    val survivors = corpus.filter(!$"doc_id".isin(1L, 5L))
    assert(Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap ===
      Search.bm25Scores(survivors, q).as[(Long, Double)].collect().toMap)
    // Tombstone dirs cleared; appends after the merge behave normally.
    assert(!new java.io.File(s"$dir/tombs").exists() ||
      new java.io.File(s"$dir/tombs").listFiles().isEmpty)
    Search.updateIndex(spark, dir, Seq((9L, "vector vector")).toDF("doc_id", "text"))
    val after = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    assert(after.keySet === Set(2L, 3L, 9L))
    assert(after === Search.bm25Scores(
      survivors.unionByName(Seq((9L, "vector vector")).toDF("doc_id", "text")), q)
      .as[(Long, Double)].collect().toMap)
  }

  test("index readers open every table without a Spark job") {
    // Two segments, a dfreq/stats generation and a tombstone set: every
    // table a query reads. Their answers are pinned by the tests above.
    val dir = java.nio.file.Files.createTempDirectory("idxjobs").toString + "/idx"
    Search.saveIndex(corpus.filter($"doc_id" <= 3), dir)
    Search.updateIndex(spark, dir, corpus.filter($"doc_id" > 3))
    Search.deleteDocs(spark, dir, Seq(5L).toDF("doc_id"))
    val q = Seq("spark", "merge", "vector")
    val builds = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "bm25" -> (() => Search.bm25ScoresFromIndex(spark, dir, q)),
      "phrase" -> (() => Search.phraseDocsFromIndex(spark, dir, "spark merge")),
      "boolean" -> (() => Search.booleanDocsFromIndex(spark, dir, Seq("spark"), Seq("row"))),
      "prefix" -> (() => Search.prefixSuggestFromIndex(spark, dir, "s", 10)))
    for ((name, build) <- builds)
      assert(org.apache.spark.graft.JobCount(spark)(build())._2 === 0, name)
  }

  test("deleteDocs: tombstones survive an append; delete-then-update ordering") {
    val q = Seq("spark", "merge", "vector")
    val dir = java.nio.file.Files.createTempDirectory("bm25del2").toString + "/idx"
    Search.saveIndex(corpus.filter($"doc_id" <= 3), dir)
    Search.deleteDocs(spark, dir, Seq(3L).toDF("doc_id"))
    Search.updateIndex(spark, dir, corpus.filter($"doc_id" > 3))
    val got = Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap
    assert(got.keySet === Set(1L, 2L, 5L), "tombstone lost across an append")
    // Re-adding a tombstoned doc_id before a compaction would be silently
    // hidden by every reader and dropped at the merge — fail fast instead.
    val ex = intercept[IllegalArgumentException] {
      Search.updateIndex(spark, dir, Seq((3L, "fresh copy")).toDF("doc_id", "text"))
    }
    assert(ex.getMessage.contains("tombstoned"))
    // after the merge clears the tombstone, the same re-add is legal
    Search.compactIndex(spark, dir)
    Search.updateIndex(spark, dir, Seq((3L, "merge merge")).toDF("doc_id", "text"))
    assert(Search.bm25ScoresFromIndex(spark, dir, q)
      .as[(Long, Double)].collect().toMap.keySet === Set(1L, 2L, 3L, 5L))
  }

  test("snippets: clamped first-occurrence window; absent term filtered") {
    val rows = Seq(
      (1L, "a b c spark d e f g"),   // interior: full ±3 window
      (2L, "spark x y z w"),         // at start: clamps left
      (3L, "p q r s spark"),         // at end: clamps right
      (4L, "spark a spark b"),       // first occurrence wins
      (5L, "no match here"))
      .toDF("doc_id", "text")
    val got = graft.ml.Search.snippets(rows, "spark", window = 3)
      .as[(Long, String)].collect().toMap
    assert(got === Map(
      1L -> "a b c spark d e f",
      2L -> "spark x y z",
      3L -> "q r s spark",
      4L -> "spark a spark b"))
  }

  test("cooccurringTerms: doc-frequency grain, seed excluded, deterministic ties") {
    val rows = Seq(
      (1L, "spark a b b"),  // b counts ONCE for doc 1 (distinct grain)
      (2L, "spark a c"),
      (3L, "a b c d"))      // no seed → ignored
      .toDF("doc_id", "text")
    val got = graft.ml.Search.cooccurringTerms(rows, "spark", k = 2)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("a", 2L), ("b", 1L))) // b before c: term-asc tiebreak
  }

  test("hybridSearch fuses the two legs by RRF (hand-computed ranks)") {
    // Legs disagree by construction: BM25 ranks doc1 > doc2 (doc3 absent);
    // cosine ranks doc3 > doc2 > doc1. RRF(60): doc1 = 1/61 + 1/63,
    // doc2 = 1/62 + 1/62, doc3 = 1/61 — fusion puts doc1 barely above
    // doc2, and the text-absent doc3 last.
    val d = Seq(
      (0L, "spark"),            // the query document
      (1L, "spark spark"),
      (2L, "spark"),
      (3L, "other words"))
      .toDF("doc_id", "text")
    val e = Seq(
      (0L, Seq(1f, 0f)),
      (1L, Seq(0f, 1f)),        // cos 0      → rank 3
      (2L, Seq(1f, 1f)),        // cos ~0.707 → rank 2
      (3L, Seq(1f, 0.1f)))      // cos ~0.995 → rank 1
      .toDF("vec_id", "embedding")
    val got = graft.ml.Search.hybridSearch(d, e, queryDocId = 0L, k = 3)
      .as[(Long, Double)].collect().toSeq
    assert(got === Seq(
      (1L, BigDecimal(1.0 / 61 + 1.0 / 63).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      (2L, BigDecimal(1.0 / 62 + 1.0 / 62).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      (3L, BigDecimal(1.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("unigramLogProb matches the scalar formula; common text outranks rare text") {
    val rows = Seq(
      (1L, "a a b"),   // common tokens
      (2L, "a b c"),
      (3L, "z z z"))   // z is rarer than a → lower mean log-prob than doc 1
      .toDF("doc_id", "text")
    // corpus counts: a=3, b=2, c=1, z=3; N=9
    def lp(c: Double) = math.log(c / 9.0)
    val truth = Map(
      1L -> (3L, (2 * lp(3) + lp(2)) / 3.0),
      2L -> (3L, (lp(3) + lp(2) + lp(1)) / 3.0),
      3L -> (3L, lp(3)))
    val got = TextAnalysis.unigramLogProb(rows)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === truth.keySet)
    for ((id, (n, m)) <- truth) {
      assert(got(id)._1 === n)
      assert(math.abs(got(id)._2 - m) < 5e-5, s"doc $id: got ${got(id)._2}, want $m")
    }
    assert(got(1L)._2 > got(2L)._2, "doc with rarer tokens scores lower")
  }

  test("bigramLogProb matches the scalar formula; word-salad scores low") {
    val rows = Seq(
      (1L, "a b a b c"), // bigrams: (a,b)x2 (b,a) (b,c)
      (2L, "a b x"),     // bigrams: (a,b) (b,x)
      (3L, "q"))         // < 2 tokens → no bigrams → absent
      .toDF("doc_id", "text")
    // corpus: c(a,b)=3 c(b,a)=1 c(b,c)=1 c(b,x)=1; ctx(a)=3 ctx(b)=3
    val truth = Map(
      1L -> (4L, (2 * math.log(1.0) + 2 * math.log(1.0 / 3)) / 4.0),
      2L -> (2L, (math.log(1.0) + math.log(1.0 / 3)) / 2.0))
    val got = TextAnalysis.bigramLogProb(rows)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet === truth.keySet)
    for ((id, (n, m)) <- truth) {
      assert(got(id)._1 === n)
      assert(math.abs(got(id)._2 - m) < 5e-5, s"doc $id: got ${got(id)._2}, want $m")
    }
    // word-salad separation the unigram proxy cannot see: same tokens,
    // unseen transitions rank strictly below fluent ordering
    val fluent = (1 to 10).map(i => (i.toLong, "the market rose today"))
    val salad = Seq((99L, "rose the today market"))
    val scores = TextAnalysis.bigramLogProb((fluent ++ salad).toDF("doc_id", "text"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(scores(99L) < scores(1L), "scrambled word order must score lower")
  }

  test("bigramLogProb scans the corpus ONCE (model branch reuses the exchange)") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = spark.read.parquet(s"${TestSpark.Sf0001}/documents.parquet")
      val plan = TextAnalysis.bigramLogProb(docs).queryExecution.executedPlan
      val scans = plan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
      assert(scans.size === 1, s"expected one corpus scan, got ${scans.size}")
      val reused = plan.collect {
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => r }
      assert(reused.nonEmpty, "model branch should reuse the pairing exchange")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("phraseDocs: consecutive-token containment only, width = phrase length") {
    val rows = Seq(
      (1L, "x row column sort y"), // phrase present
      (2L, "row column x sort"),   // tokens present, not consecutive
      (3L, "row column"),          // shorter than the phrase
      (4L, "sort column row"))     // reversed
      .toDF("doc_id", "text")
    assert(graft.ml.Search.phraseDocs(rows, "row column sort")
      .as[Long].collect().toSet === Set(1L))
    // single-word phrase degrades to token containment
    assert(graft.ml.Search.phraseDocs(rows, "sort")
      .as[Long].collect().toSet === Set(1L, 2L, 4L))
    // the needle normalizes: extra whitespace collapses before matching
    // (the corpus kernel's split(' ') grain would otherwise never match).
    assert(graft.ml.Search.phraseDocs(rows, "  row  column   sort ")
      .as[Long].collect().toSet === Set(1L))
  }

  test("properties over seeded random corpora: scrub idempotence, snippet bounds, phrase == containsSlice") {
    val rnd = new scala.util.Random(20260817)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "term", "x1", "y2")
    val pii = Vector("a.b@mail-x.io", "10.1.2.3", "+1-555-1234")
    def doc(i: Int): String = {
      val toks = Seq.fill(3 + rnd.nextInt(20))(
        if (rnd.nextInt(5) == 0) pii(rnd.nextInt(3)) else vocab(rnd.nextInt(vocab.size)))
      toks.mkString(" ")
    }
    val rows = (0 until 200).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")

    // piiScrub: idempotent, and the clean text never contains a raw hit.
    val once = TextAnalysis.piiScrub(rows).select($"doc_id", $"clean_text".as("text"))
    val twice = TextAnalysis.piiScrub(once)
    val t2 = twice.as[(Long, Int, Int, Int, String)].collect()
    assert(t2.forall(r => r._2 == 0 && r._3 == 0 && r._4 == 0), "scrub not idempotent")
    assert(t2.forall(r => !r._5.contains("@mail-x.io") && !r._5.contains("10.1.2.3")))

    // snippets: every snippet contains the term and spans <= 2w+1 tokens.
    val sn = graft.ml.Search.snippets(rows, "term", window = 3)
      .as[(Long, String)].collect()
    assert(sn.forall { case (_, s) => s.split(' ').contains("term") })
    assert(sn.forall { case (_, s) => s.split(' ').length <= 7 })
    val expectedHits = rows.as[(Long, String)].collect()
      .count(_._2.split(' ').contains("term"))
    assert(sn.length === expectedHits)

    // phraseDocs == Scala containsSlice truth on the same corpus.
    val phrase = "alpha beta"
    val truth = rows.as[(Long, String)].collect()
      .filter(_._2.split(' ').toSeq.containsSlice(phrase.split(' ').toSeq))
      .map(_._1).toSet
    assert(graft.ml.Search.phraseDocs(rows, phrase).as[Long].collect().toSet === truth)
    assert(truth.nonEmpty, "seed must exercise the positive case")
  }

  test("booleanDocs: conjunction + exclusion hand truth; index path == scan path") {
    // corpus: spark ∈ {1,2}, merge ∈ {1,3}, row ∈ {2}, table ∈ {1,4}
    def ids(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().toSet
    assert(ids(Search.booleanDocs(corpus, Seq("spark", "merge"), Nil)) === Set(1L))
    assert(ids(Search.booleanDocs(corpus, Seq("spark"), Seq("row"))) === Set(1L))
    assert(ids(Search.booleanDocs(corpus, Seq("spark", "merge"), Seq("table"))) === Set.empty[Long])
    assert(ids(Search.booleanDocs(corpus, Seq("merge"), Nil)) === Set(1L, 3L))
    // the persisted-index flavor reproduces the scan flavor exactly
    val dir = java.nio.file.Files.createTempDirectory("boolidx").toString + "/idx"
    Search.saveIndex(corpus, dir)
    for ((must, not) <- Seq(
        (Seq("spark", "merge"), Seq.empty[String]),
        (Seq("spark"), Seq("row")),
        (Seq("merge"), Seq("table"))))
      assert(ids(Search.booleanDocsFromIndex(spark, dir, must, not))
        === ids(Search.booleanDocs(corpus, must, not)),
        s"index/scan diverge on must=$must not=$not")
  }

  test("trendingTerms: burst ratio hand truth; min-support filter; per-bucket rank") {
    // bucket 0 = docs {0,1}, bucket 1 = docs {2,3} (bucket = doc_id div 2).
    // alpha appears in all 4 docs (ratio 1.0 everywhere); beta only in
    // bucket 1 (ratio 2.0 — the burst); x0/x1 are singletons killed by
    // minDf=2.
    val rows = Seq(
      (0L, "alpha x0"), (1L, "alpha x1"),
      (2L, "alpha beta"), (3L, "alpha beta")).toDF("doc_id", "text")
    val got = Search.trendingTerms(rows, expr("doc_id div 2"), k = 2, minDf = 2)
      .as[(Long, String, Long, Double, Int)].collect().toSet
    assert(got === Set(
      (0L, "alpha", 2L, 1.0, 1),
      (1L, "beta", 2L, 2.0, 1),
      (1L, "alpha", 2L, 1.0, 2)))
  }

  test("prefixSuggest: df ranking, term-asc ties, k cutoff") {
    // s-terms in `corpus` by df: spark 2, scan 1, sort 1 (term-asc tie).
    val got = Search.prefixSuggest(corpus, "s", k = 2)
      .as[(String, Long)].collect().toSeq
    assert(got === Seq(("spark", 2L), ("scan", 1L)))
    assert(Search.prefixSuggest(corpus, "s", k = 10)
      .as[(String, Long)].collect().toSeq
      === Seq(("spark", 2L), ("scan", 1L), ("sort", 1L)))
  }

  test("q67 co-mention == unordered pairs recomputed from the q44 ticker rows") {
    val dir = "/root/testdata/sf0.001"
    val t44 = SparkEntry.queries("q44_tickers")(spark, dir)
      .select("url", "ticker").as[(String, String)].collect()
    val expected = t44.groupBy(_._1).values.flatMap { rows =>
      val ts = rows.map(_._2).sorted
      for (i <- ts.indices; j <- (i + 1) until ts.length) yield (ts(i), ts(j))
    }.groupBy(identity).map { case ((a, b), v) => (a, b, v.size.toLong) }.toSet
    val got = SparkEntry.queries("q67_ticker_comention")(spark, dir)
      .as[(String, String, Long)].collect().toSet
    assert(got === expected)
    assert(got.nonEmpty, "fixture must exercise the positive case")
  }

  test("piiScrub masks emails/IPs/phones with counts; idempotent; clean text untouched") {
    val rows = Seq(
      (1L, "write to bob.smith@corp-mail.io or +1-555-0042 from 10.0.0.7 now"),
      (2L, "plain words only no pii here"),
      (3L, "two mails a@b.co c.d@e-f.org one ip 192.168.1.255"),
      (4L, "version v1.2 is not 1.2.3.4000 an ip but 1.2.3.4 is"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(rows)
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(got(0) === ((1L, 1, 1, 1,
      "write to <EMAIL> or <PHONE> from <IP> now")))
    assert(got(1) === ((2L, 0, 0, 0, "plain words only no pii here")))
    assert(got(2) === ((3L, 2, 1, 0, "two mails <EMAIL> <EMAIL> one ip <IP>")))
    // 1.2.3.4000: the last octet exceeds 3 digits, so \b\d{1,3}\b cannot
    // close — only the genuine dotted quad is masked.
    assert(got(3) === ((4L, 0, 1, 0,
      "version v1.2 is not 1.2.3.4000 an ip but <IP> is")))
    // idempotence: replacement tokens contain nothing scrubbable.
    val twice = TextAnalysis.piiScrub(
      TextAnalysis.piiScrub(rows).select($"doc_id", $"clean_text".as("text")))
      .as[(Long, Int, Int, Int, String)].collect().sortBy(_._1)
    assert(twice.map(r => (r._1, r._5)).toSeq === got.map(r => (r._1, r._5)).toSeq)
    assert(twice.forall(r => r._2 == 0 && r._3 == 0 && r._4 == 0))
  }

  test("tfidfKeywords matches the scalar formula; rank cuts on rounded score") {
    val d = Seq(
      (1L, "a a b"),
      (2L, "a c"),
      (3L, "c d d")).toDF("doc_id", "text")
    // df: a=2, b=1, c=2, d=1; N=3.
    def s(tf: Long, df: Long) =
      BigDecimal(tf * math.log(3.0 / df)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Search.tfidfKeywords(d, k = 2)
      .as[(Long, String, Long, Double, Int)].collect().toSet
    val want = Set(
      (1L, "b", 1L, s(1, 1), 1), (1L, "a", 2L, s(2, 2), 2),
      (2L, "a", 1L, s(1, 2), 1), (2L, "c", 1L, s(1, 2), 2), // tie → term asc
      (3L, "d", 2L, s(2, 1), 1), (3L, "c", 1L, s(1, 2), 2))
    assert(got === want)
  }

  test("proximityDocs: band hit, band miss, missing term, order-symmetric") {
    val d = Seq(
      (1L, "x spark y merge"),                       // |1-3| = 2 ≤ 2 → hit
      (2L, "spark a b c d e f merge"),               // |0-7| = 7 > 2 → miss
      (3L, "spark only here"),                       // merge absent → miss
      (4L, "merge then later spark"),                // |0-3| = 3 > 2 → miss
      (5L, "merge spark")).toDF("doc_id", "text")    // |0-1| = 1 → hit
    val got = Search.proximityDocs(d, "spark", "merge", w = 2)
      .as[Long].collect().toSet
    assert(got === Set(1L, 5L))
    // multiple in-band pairs still yield ONE row per doc
    val multi = Seq((9L, "spark merge spark merge")).toDF("doc_id", "text")
    assert(Search.proximityDocs(multi, "spark", "merge", w = 3).count() === 1)
  }

  test("fuzzySuggest == brute-force levenshtein≤1 over the vocabulary") {
    val d = Seq(
      (1L, "spark spork merge table tables"),
      (2L, "spark stark chart merge")).toDF("doc_id", "text")
    val queries = Seq("spark", "sprk", "tble", "merje", "zzzzz", "par")
    // brute-force truth over the distinct-term vocabulary with df
    val vocab = Map( // term -> df (docs containing it)
      "spark" -> 2L, "spork" -> 1L, "merge" -> 2L, "table" -> 1L,
      "tables" -> 1L, "stark" -> 1L, "chart" -> 1L)
    def lev(a: String, b: String): Int = {
      val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
          m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      m(a.length)(b.length)
    }
    val want = (for {
      q <- queries
      (t, df) <- vocab if lev(q, t) <= 1
    } yield (q, t, df)).groupBy(_._1).flatMap { case (_, hits) =>
      hits.sortBy { case (_, t, df) => (-df, t) }.zipWithIndex
        .map { case ((q, t, df), i) => (q, t, df, i + 1) }
    }.toSet
    val got = Search.fuzzySuggest(d, queries.toDF("q"), k = 10)
      .as[(String, String, Long, Int)].collect().toSet
    assert(got === want)
    assert(want.exists(_._1 == "sprk"), "deletion case must fire")
    assert(!want.exists(_._1 == "zzzzz"), "no distance-1 neighbor")
    assert(want.count(_._1 == "spark") >= 2, "exact + substitution neighbors")
  }

  test("q70/q71 ticker analytics are self-consistent on sf0.001") {
    val dir = "/root/testdata/sf0.001"
    // q70: the committed MA3 equals a re-computation from its own hourly
    // means (frame = up to 3 trailing observed buckets, ordered by hour).
    val hourly = graft.queries.CrawlQueries
      .entries("q70_ticker_hourly")(spark, dir)
      .as[(String, java.sql.Timestamp, Long, Double, Double)]
      .collect().sortBy(r => (r._1, r._2.getTime))
    assert(hourly.nonEmpty)
    hourly.groupBy(_._1).foreach { case (_, rows) =>
      rows.zipWithIndex.foreach { case ((_, _, _, _, ma3), i) =>
        val frame = rows.slice(math.max(0, i - 2), i + 1).map(_._4)
        // the exact integer-1e-4-unit mean the entry computes
        val s = frame.map(v => math.round(v * 10000)).sum
        val c = frame.length
        val sg = if (s < 0) -1L else 1L
        val want = sg * ((2 * math.abs(s) + c) / (2 * c)) / 10000.0
        assert(math.abs(ma3 - want) < 1e-12, s"ma3 $ma3 vs $want")
      }
    }
    // q71: z-scores recompute from the hourly counts; single-bucket
    // tickers carry NULL.
    val vol = graft.queries.CrawlQueries
      .entries("q71_ticker_volume_anomaly")(spark, dir)
      .as[(String, java.sql.Timestamp, Long, Option[Double])]
      .collect()
    assert(vol.nonEmpty)
    vol.groupBy(_._1).foreach { case (_, rows) =>
      val ns = rows.map(_._3.toDouble)
      if (ns.length == 1) assert(rows.head._4.isEmpty)
      else {
        val mu = ns.sum / ns.length
        val sd = math.sqrt(ns.map(x => (x - mu) * (x - mu)).sum / (ns.length - 1))
        rows.foreach { case (_, _, n, z) =>
          if (sd == 0) assert(z.isEmpty)
          else {
            val want = BigDecimal((n - mu) / sd)
              .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
            assert(math.abs(z.get - want) < 1e-9, s"z ${z.get} vs $want")
          }
        }
      }
    }
  }

  test("positional index: phrase + proximity from the index == corpus-scan operators") {
    val dir = java.nio.file.Files.createTempDirectory("positx").toString + "/idx"
    Search.saveIndex(corpus, dir)
    // phrase cases: repeated token inside the phrase, repeated-run text,
    // single token (degenerates to containment), absent phrase
    for (phrase <- Seq("spark merge spark", "row row", "merge merge",
        "table scan", "vector", "spark table zz")) {
      val scan = Search.phraseDocs(corpus, phrase).as[Long].collect().toSet
      val idx = Search.phraseDocsFromIndex(spark, dir, phrase)
        .as[Long].collect().toSet
      assert(idx === scan, s"phrase '$phrase'")
    }
    val ps = Search.proximityDocs(corpus, "spark", "table", 3).as[Long].collect().toSet
    val pi = Search.proximityDocsFromIndex(spark, dir, "spark", "table", 3)
      .as[Long].collect().toSet
    assert(pi === ps && pi === Set(1L))
    // incremental append preserves positional answers (segments merge)
    val dir2 = java.nio.file.Files.createTempDirectory("positx2").toString + "/idx"
    Search.saveIndex(corpus.filter(col("doc_id") <= 2), dir2)
    Search.updateIndex(spark, dir2, corpus.filter(col("doc_id") > 2))
    assert(Search.phraseDocsFromIndex(spark, dir2, "row row")
      .as[Long].collect().toSet === Set(2L))
    assert(Search.proximityDocsFromIndex(spark, dir2, "spark", "table", 3)
      .as[Long].collect().toSet === Set(1L))
    // compaction folds the segments and PRESERVES positional answers
    Search.compactIndex(spark, dir2)
    assert(Search.phraseDocsFromIndex(spark, dir2, "row row")
      .as[Long].collect().toSet === Set(2L))
    assert(Search.proximityDocsFromIndex(spark, dir2, "spark", "table", 3)
      .as[Long].collect().toSet === Set(1L))
    // a pre-positions index generation fails fast with a rebuild hint
    val pp = s"$dir2/postings/seg=2" // compaction folded segs 0,1 into 2
    val legacy = spark.read.parquet(pp).drop("positions")
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    legacy.collect().foreach(rows.add)
    spark.createDataFrame(rows, legacy.schema)
      .write.mode("overwrite").parquet(pp)
    val e = intercept[IllegalArgumentException] {
      Search.phraseDocsFromIndex(spark, dir2, "row row").collect()
    }
    assert(e.getMessage.contains("positional"))
  }

  test("prefixSuggestFromIndex == prefixSuggest; suggestion reads only the dfreq table") {
    val dir = java.nio.file.Files.createTempDirectory("sugidx").toString + "/idx"
    Search.saveIndex(corpus, dir)
    val scan = Search.prefixSuggest(corpus, "s", 10)
      .as[(String, Long)].collect().toSeq
    val idx = Search.prefixSuggestFromIndex(spark, dir, "s", 10)
      .as[(String, Long)].collect().toSeq
    assert(idx === scan)
    // deployment claim: the plan touches dfreq only — one file source, no
    // postings/lens/corpus scan.
    val scans = Search.prefixSuggestFromIndex(spark, dir, "s", 10)
      .queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.mkString
      }
    assert(scans.size === 1 && scans.head.contains("dfreq"), scans.toString)
  }

  test("matchAlerts: hand truth, duplicate-term alerts, empty-must, single-alert == booleanDocs") {
    val docs = Seq(
      (1L, "spark merge fast"),        // alerts 1 (spark+merge, no error)
      (2L, "spark merge error"),       // alert 1 blocked by error
      (3L, "spark table"),             // misses merge
      (4L, "batch batch join ok"),     // alert 4 (dup must dedups; no slow/small)
      (5L, "batch join small"),        // alert 4 blocked by small
      (6L, "vector x"))                // alert 2
      .toDF("doc_id", "text")
    val alerts = Seq(
      (1L, Seq("spark", "merge"), Seq("error")),
      (1L, Seq("spark", "merge"), Seq("error")), // duplicated alert ROW (re-ingested feed)
      (2L, Seq("vector"), Seq.empty[String]),
      (3L, Seq("spark", "zzznope"), Seq.empty[String]),
      (4L, Seq("batch", "batch", "join"), Seq("slow", "small")),
      (5L, Seq.empty[String], Seq.empty[String])) // empty must matches nothing
      .toDF("alert_id", "must", "must_not")
    val got = Search.matchAlerts(docs, alerts)
      .as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 1L), (2L, 6L), (4L, 4L)))
    // single-alert evaluation must agree with the ad-hoc boolean operator —
    // including under a duplicated must term (both sides dedup the query)
    val one = Seq((9L, Seq("spark", "spark", "merge"), Seq("error")))
      .toDF("alert_id", "must", "must_not")
    val viaAlerts = Search.matchAlerts(docs, one)
      .select("doc_id").as[Long].collect().toSet
    val viaBoolean = Search.booleanDocs(docs, Seq("spark", "spark", "merge"), Seq("error"))
      .as[Long].collect().toSet
    assert(viaAlerts === viaBoolean && viaAlerts === Set(1L))
  }

  test("matchAlerts == brute-force evaluation over seeded random corpora") {
    val rnd = new scala.util.Random(20260817L)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    for (_ <- 1 to 3) {
      val docs = (1 to 60).map(i =>
        (i.toLong, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val alerts = (1 to 6).map { a =>
        (a.toLong,
          Seq.fill(1 + rnd.nextInt(3))(vocab(rnd.nextInt(vocab.size))),
          Seq.fill(rnd.nextInt(2))(vocab(rnd.nextInt(vocab.size))))
      }
      val expected = (for {
        (id, text) <- docs
        // split(" ", -1) mirrors Spark's split: interior AND trailing
        // empty tokens kept (they can never match a non-empty alert term)
        toks = text.split(" ", -1).toSet
        (aid, must, mn) <- alerts
        if must.toSet.subsetOf(toks) && mn.toSet.intersect(toks).isEmpty
      } yield (aid, id)).toSet
      val got = Search.matchAlerts(docs.toDF("doc_id", "text"),
        alerts.toDF("alert_id", "must", "must_not"))
        .as[(Long, Long)].collect().toSet
      assert(got === expected)
    }
  }

  test("nextWords == brute-force bigram counting over seeded random corpora") {
    val rnd = new scala.util.Random(7L)
    val vocab = Vector("a", "b", "c", "d")
    for (_ <- 1 to 3) {
      val docs = (1 to 40).map(i =>
        (i.toLong, Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      val counts = docs
        // split(" ", -1) mirrors Spark's split token grain exactly (empty
        // tokens count as bigram members, as in the engine and the oracle)
        .flatMap { case (_, t) => t.split(" ", -1).toSeq.sliding(2) }
        .collect { case Seq("a", w2) => w2 }
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      val tot = counts.values.sum
      val expected = counts.toSeq
        .sortBy { case (w, n) => (-n, w) }.take(3)
        .map { case (w, n) =>
          // valueOf (shortest-decimal) mirrors Spark's round() exactly —
          // the exact-binary BigDecimal ctor can differ at .00005 edges
          (w, n, BigDecimal(java.math.BigDecimal.valueOf(n * 1.0 / tot))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      val got = Search.nextWords(docs.toDF("doc_id", "text"), "a", k = 3)
        .as[(String, Long, Double)].collect().toSeq
      assert(got === expected)
    }
  }

  test("nextWords: bigram counts + conditional probability, consecutive seeds, seed-at-end") {
    val docs = Seq(
      (1L, "spark spark fast"),  // bigrams: (spark,spark), (spark,fast)
      (2L, "x spark fast y"),    // (spark,fast)
      (3L, "go spark"),          // seed at end: no follower
      (4L, "sparkle spark big")) // 'sparkle' must not prefix-match
      .toDF("doc_id", "text")
    val got = Search.nextWords(docs, "spark", k = 10)
      .as[(String, Long, Double)].collect().toList
    // counts: fast=2, big=1, spark=1 of 4 seed bigrams total
    assert(got === List(("fast", 2L, 0.5), ("big", 1L, 0.25), ("spark", 1L, 0.25)))
  }

  test("qlmScores matches the scalar Dirichlet formula; every doc scores; smoothing orders ties") {
    val mu = 50.0 // small mu so tf presence clearly dominates on a tiny corpus
    val q = Seq("spark", "merge", "vector")
    // Hand stats over `corpus`: cf(spark)=3, cf(merge)=4, cf(vector)=1,
    // |C| = 4+6+3+5+1 = 19.
    val cf = Map("spark" -> 3.0, "merge" -> 4.0, "vector" -> 1.0)
    val tfs = Map(
      (1L, "spark") -> 2.0, (1L, "merge") -> 1.0,
      (2L, "spark") -> 1.0,
      (3L, "merge") -> 3.0,
      (5L, "vector") -> 1.0)
    val dls = Map(1L -> 4.0, 2L -> 6.0, 3L -> 3.0, 4L -> 5.0, 5L -> 1.0)
    def ref(id: Long): Double = q.map { t =>
      math.log((tfs.getOrElse((id, t), 0.0) + mu * cf(t) / 19.0) / (dls(id) + mu))
    }.sum
    val got = Search.qlmScores(corpus, q, mu).as[(Long, Double)].collect().toMap
    assert(got.keySet === dls.keySet, "QL scores EVERY doc, matched terms or not")
    for (id <- dls.keys)
      assert(math.abs(got(id) - ref(id)) < 5e-5, s"doc $id: got ${got(id)}, want ${ref(id)}")
    // doc 4 (no query term) must rank below every doc with a hit at equal-ish
    // length: its score is pure collection prior.
    assert(got(4L) < got(1L) && got(4L) < got(3L))
  }

  test("prfExpansionTerms == brute-force feedback expansion over a seeded corpus") {
    val rnd = new scala.util.Random(53)
    val vocab = Vector("spark", "merge", "vector", "join", "scan", "sort",
      "row", "column", "table", "index", "batch", "cache")
    val docs = (1L to 30L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val q = Seq("spark", "merge")
    val (k, m) = (5, 4)
    // Brute force: scalar BM25, rounded cut, then length-normalized term mass.
    val n = docs.size.toDouble
    val avgdl = docs.map(_._2.split(" ").length).sum / n
    val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val df = q.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    def bm25(id: Long): Double = {
      val ts = toks.find(_._1 == id).get._2
      val dl = ts.length.toDouble
      q.map { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) 0.0
        else math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * tf * (Search.K1 + 1) /
          (tf + Search.K1 * ((1 - Search.B) + Search.B * dl / avgdl))
      }.sum
    }
    val matched = toks.filter(_._2.exists(q.contains)).map(_._1)
    val top = matched
      .map(id => (id, BigDecimal(bm25(id)).setScale(4, BigDecimal.RoundingMode.HALF_UP)))
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
    val mass = toks.filter { case (id, _) => top(id) }
      .flatMap { case (_, ts) =>
        val dl = ts.length.toDouble
        ts.filterNot(q.contains).groupBy(identity).map { case (t, o) => t -> o.size / dl }
      }
      .groupBy(_._1).map { case (t, xs) =>
        t -> BigDecimal(xs.map(_._2).sum).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val want = mass.toSeq.sortBy { case (t, w) => (-w, t) }.take(m)
      .zipWithIndex.map { case ((t, w), i) => (t, w, i + 1) }.toList
    val got = Search.prfExpansionTerms(docs.toDF("doc_id", "text"), q, k, m)
      .as[(String, Double, Int)].collect().toList.sortBy(_._3)
    assert(got === want)
  }

  test("unicodeNormalize: NFC folds decomposed marks; accents strip; ASCII passes through") {
    // Escape sequences, not raw glyphs, so the source encoding can't
    // silently change the normalization form under test.
    val docs = Seq(
      (1L, "plain ascii text"),
      (2L, "cafe\u0301 latte"),             // DECOMPOSED e + U+0301
      (3L, "m\u00fchle stra\u00dfe"),      // precomposed u-umlaut; eszett
      (4L, "nai\u0308ve"))                  // DECOMPOSED i + U+0308
      .toDF("doc_id", "text")
    val got = TextAnalysis.unicodeNormalize(docs)
      .as[(Long, String, String, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === (("plain ascii text", "plain ascii text", false)))
    assert(got(2L) === (("caf\u00e9 latte", "cafe latte", true)))
    // Already NFC: unchanged; folding drops the umlaut but keeps eszett
    // (its NFD is itself — compatibility decomposition must NOT fire).
    assert(got(3L) === (("m\u00fchle stra\u00dfe", "muhle stra\u00dfe", false)))
    assert(got(4L) === (("na\u00efve", "naive", true)))
    // Idempotence: normalizing the normalized output is the identity.
    val again = TextAnalysis.unicodeNormalize(
      docs.sparkSession.createDataFrame(
        got.toSeq.map { case (id, (nfc, _, _)) => (id, nfc) })
        .toDF("doc_id", "text"))
      .as[(Long, String, String, Boolean)].collect()
    assert(again.forall(!_._4), "NFC output must be a fixed point")
  }

  test("compressionRatio: kernel == java.util.zip reference; spam compresses below prose") {
    def refDeflate(s: String): Int = {
      val d = new java.util.zip.Deflater(6, true)
      try {
        d.setInput(s.getBytes("UTF-8")); d.finish()
        val buf = new Array[Byte](8192)
        var t = 0
        while (!d.finished()) t += d.deflate(buf)
        t
      } finally d.end()
    }
    val spam = Seq.fill(60)("subscribe now").mkString(" ")
    val prose = (1 to 60).map(i => s"w${i * 7919 % 9973}").mkString(" ")
    val docs = Seq((1L, spam), (2L, prose), (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.compressionRatio(docs)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    for ((id, txt) <- Seq(1L -> spam, 2L -> prose, 3L -> "x")) {
      val (nb, nd, ratio) = got(id)
      assert(nb === txt.getBytes("UTF-8").length.toLong)
      assert(nd === refDeflate(txt).toLong, s"doc $id deflate len")
      assert(math.abs(ratio - BigDecimal(nd.toDouble / nb)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    assert(got(1L)._3 < got(2L)._3, "template spam must compress below prose")
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("bm25HostCollapsed caps results per host before the global cut") {
    // docs 1,2,3 share host a (all match); doc 5 is host b's only match.
    val hosted = corpus.withColumn("host",
      when(col("doc_id") <= 3, lit("a.example.com")).otherwise(lit("b.example.com")))
    val q = Seq("spark", "merge", "vector")
    val all = Search.bm25Scores(corpus, q).as[(Long, Double)].collect().toMap
    val got = Search.bm25HostCollapsed(hosted, q, k = 10, maxPerHost = 2)
      .as[(Long, String, Int, Double)].collect()
    // host a's three matches ranked by (rounded score desc, doc_id): the
    // third is collapsed away; host b keeps its one.
    val aRanked = Seq(1L, 2L, 3L).sortBy(d => (-all(d), d))
    assert(got.map(_._1).toSet === Set(aRanked(0), aRanked(1), 5L))
    got.foreach { case (d, host, hr, s) =>
      assert(s === all(d), s"doc $d keeps its uncollapsed score")
      assert(hr >= 1 && hr <= 2)
      assert(host === (if (d <= 3) "a.example.com" else "b.example.com"))
    }
  }

  test("bm25fScores == scalar formula; a title hit outranks the same hit in the body") {
    // Identical docs except WHERE the one query-term occurrence sits:
    // doc 1 in the title slice (first 6 tokens), doc 2 in the body.
    val fcorpus = Seq(
      (1L, "spark alpha beta gamma delta eps zeta body tail"),
      (2L, "alpha beta gamma delta eps zeta spark body tail"))
      .toDF("doc_id", "text")
    val got = Search.bm25fScores(fcorpus, Seq("spark"), titleLen = 6)
      .as[(Long, Double)].collect().toMap
    // Scalar: both docs have fl_t=6, fl_b=3 → avgfl_t=6, avgfl_b=3;
    // tf~ = w_f·tf/(1−b_f + b_f·fl/avgfl) = 2.0 (title) / 1.0 (body);
    // df=2, n=2 → idf = ln(0.5/2.5 + 1).
    val idf = math.log((2 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def score(tw: Double) = idf * tw / (Search.K1 + tw)
    assert(got(1L) === round4(score(2.0)))
    assert(got(2L) === round4(score(1.0)))
    assert(got(1L) > got(2L), "title hit must outrank body hit")
  }

  test("maxScoreTopK == bm25TopK exactly, across corpora and champion sizes") {
    // Skewed corpus: 'rare' concentrated in 3 docs, 'common' everywhere —
    // the regime the bound prune exists for.
    val skewed = (1L to 40L).map { i =>
      val words = if (i <= 3) "rare rare spark common" else s"common w${i % 5} w${i % 7} x y"
      (i, words)
    }.toDF("doc_id", "text")
    val q = Seq("rare", "spark", "common")
    // champion pass (p=2 → 2 distinct docs) < k=5: θ must collapse to
    // −∞ (the under-filled-champion regime that would otherwise prune
    // real results) — still exact.
    val exact = Search.bm25TopK(skewed, q, 5).as[(Long, Double)].collect().toSeq
    val got = Search.maxScoreTopK(skewed, q, 5, p = 2).as[(Long, Double)].collect().toSeq
    assert(got === exact, "pruned retrieval must be invisible")
    // k=2 ≤ champion count: θ is live and the common-only docs fall
    // below the bound — pruning ACTIVE and still invisible.
    val exact2 = Search.bm25TopK(skewed, q, 2).as[(Long, Double)].collect().toSeq
    val got2 = Search.maxScoreTopK(skewed, q, 2, p = 2).as[(Long, Double)].collect().toSeq
    assert(got2 === exact2)
    // and on the shared hand corpus with the tightest champion pass
    val q2 = Seq("spark", "merge", "vector")
    val e2 = Search.bm25TopK(corpus, q2, 3).as[(Long, Double)].collect().toSeq
    val g2 = Search.maxScoreTopK(corpus, q2, 3, p = 1).as[(Long, Double)].collect().toSeq
    assert(g2 === e2)
  }

  test("bm25AnchorScores: anchor evidence outweighs body evidence (scalar truth)") {
    // doc 1 says 'spark' itself; doc 2 is CALLED 'spark …' by an
    // incoming anchor but never says it — the anchor field (w=3) wins.
    val docs = Seq((1L, "spark alpha beta"), (2L, "gamma delta eps"))
      .toDF("doc_id", "text")
    val anchors = Seq((9L, 2L, "spark click here")).toDF("src", "dst", "anchor")
    val got = Search.bm25AnchorScores(docs, anchors, Seq("spark"))
      .as[(Long, Double)].collect().toMap
    // body: fl=3 both docs, avgfl_b=3 → doc1 tw = 1·1/(0.25+0.75·1) = 1;
    // anchor: only doc2 has the field, fl=3=avgfl_a → tw = 3·1/(0.5+0.5·1) = 3;
    // df(spark)=2 (one doc per field), n=2.
    val idf = math.log((2 - 2 + 0.5) / (2 + 0.5) + 1.0)
    def sc(tw: Double) = idf * tw / (Search.K1 + tw)
    assert(got(1L) === round4(sc(1.0)))
    assert(got(2L) === round4(sc(3.0)))
    assert(got(2L) > got(1L), "anchor evidence outranks body evidence")
  }

  test("championTopK: p covering all postings == bm25TopK; p=1 keeps only each term's champion") {
    val q = Seq("spark", "merge", "vector")
    val full = Search.bm25TopK(corpus, q, k = 10).as[(Long, Double)].collect().toSeq
    val champ = Search.championTopK(corpus, q, p = 10, k = 10).as[(Long, Double)].collect().toSeq
    assert(champ === full, "an unpruned champion index is exact")
    // p=1 champions: spark→doc1 (tf 2), merge→doc3 (tf 3), vector→doc5.
    // doc1 then scores ONLY spark (merge's pruned list dropped it); df
    // stays the full-list document frequency.
    val p1 = Search.championTopK(corpus, q, p = 1, k = 10).as[(Long, Double)].collect().toMap
    assert(p1.keySet === Set(1L, 3L, 5L))
    val n = 5.0; val avgdl = (4 + 6 + 3 + 5 + 1) / 5.0
    assert(p1(1L) === round4(bm25Ref(2, 2, 4, n, avgdl)))
    assert(p1(3L) === round4(bm25Ref(3, 2, 3, n, avgdl)))
    assert(p1(5L) === round4(bm25Ref(1, 1, 1, n, avgdl)))
  }

  test("retrievalEval: metrics match an independent scalar computation") {
    val docs = Seq(
      (1L, "q1 q2 x"),       // relevant (both terms)
      (2L, "q1 q1 q1 y z"),  // only q1 — not relevant, but scores
      (3L, "q1 q2 q2 z"),    // relevant
      (4L, "a b c"))         // no terms
      .toDF("doc_id", "text")
    val q = Seq("q1", "q2")
    val got = Search.retrievalEval(docs, q, k = 2)
      .as[(Long, Long, Double, Double, Double, Double, Double)].collect()
    assert(got.length === 1)
    val (nRel, nHits, p, mrr, dcg, idcg, ndcg) = got.head match {
      case (a, b, c, d, e, f, g) => (a, b, c, d, e, f, g)
    }
    // Independent scalar: ranking from the separately-tested bm25Scores.
    val scores = Search.bm25Scores(docs, q).as[(Long, Double)].collect().toMap
    val ranked = scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(2).map(_._1)
    val rel = Set(1L, 3L)
    val hits = ranked.zipWithIndex.map { case (d, i) => (i + 1, if (rel(d)) 1 else 0) }
    val ln2 = math.log(2.0)
    val wantDcg = hits.map { case (r, rl) => rl * ln2 / math.log(r + 1.0) }.sum
    val wantIdcg = (1 to 2).map(i => ln2 / math.log(i + 1.0)).sum // min(k, |rel|) = 2
    val wantMrr = hits.find(_._2 == 1).map(h => 1.0 / h._1).getOrElse(0.0)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(nRel === 2L)
    assert(nHits === hits.map(_._2).sum.toLong)
    assert(p === hits.map(_._2).sum / 2.0)
    assert(mrr === r6(wantMrr))
    assert(math.abs(dcg - r6(wantDcg)) < 2e-6)
    assert(math.abs(idcg - r6(wantIdcg)) < 2e-6)
    assert(math.abs(ndcg - r6(wantDcg / wantIdcg)) < 2e-6)
  }

  test("retrievalEval: no relevant docs -> zero MRR, NULL idcg/ndcg, row survives") {
    val docs = Seq((1L, "q1 only here"), (2L, "other words x"))
      .toDF("doc_id", "text")
    // relevant requires BOTH q1 and q2 — nothing qualifies.
    val got = Search.retrievalEval(docs, Seq("q1", "q2"), k = 2)
    val row = got.collect().head
    assert(row.getLong(row.fieldIndex("n_relevant")) === 0L)
    assert(row.getDouble(row.fieldIndex("mrr")) === 0.0)
    assert(row.isNullAt(row.fieldIndex("idcg")) && row.isNullAt(row.fieldIndex("ndcg")))
  }

  test("suffixSuggest: df ranking with lexicographic ties via the reversed dictionary") {
    val docs = Seq(
      (1L, "table cable note table"),
      (2L, "cable tub note"),
      (3L, "cable bike")).toDF("doc_id", "text")
    // df over DISTINCT per-doc terms: cable 3, note 2, table 1, bike 1.
    val got = Search.suffixSuggest(docs, "e", m = 3).as[(String, Long)].collect()
    assert(got === Array(("cable", 3L), ("note", 2L), ("bike", 1L)))
  }

  test("postingCompressionAudit: hand VByte truth incl. the 128-gap boundary") {
    // term "x" in docs 0,127,128 → gaps (0+1, 127, 1) = 1+1+1 bytes;
    // term "y" in docs 0,128,1000128 → gaps (1, 128, 1000000) → 1+2+3 bytes.
    val docs = (Seq((0L, "x y"), (127L, "x"), (128L, "x y"), (1000128L, "y")) ++
      Seq.tabulate(10)(i => (10L + i, "z"))) // df guard: z has df 10
      .toDF("doc_id", "text")
    val got = Search.postingCompressionAudit(docs, minDf = 3)
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("x") === ((3L, 24L, 3L, round4(3.0 / 24))))
    assert(got("y") === ((3L, 24L, 6L, round4(6.0 / 24))))
    assert(got("z")._1 === 10L) // gaps 11,1×9 → 10 bytes
    assert(got("z")._3 === 10L)
  }

  test("textrankKeywords: uniform scores on a symmetric clique; hub beats leaves on a star") {
    // doc 1: cycle a-b-c-a → perfectly symmetric → all scores equal.
    // doc 2: star hub-x, hub-y, hub-z (adjacent pairs) → hub outranks leaves.
    val docs = Seq(
      (1L, "a b c a b c a"),
      (2L, "x hub y hub z hub x")).toDF("doc_id", "text")
    val got = TextAnalysis.textrankKeywords(docs, iters = 3, k = 5)
      .as[(Long, String, Double, Int)].collect()
    val d1 = got.filter(_._1 == 1L)
    assert(d1.map(_._3).distinct.length === 1) // symmetry ⇒ equal scores
    assert(d1.map(_._2).sorted === Array("a", "b", "c"))
    val d2 = got.filter(_._1 == 2L).sortBy(_._4)
    assert(d2.head._2 === "hub") // rank 1
    assert(d2.head._3 > d2.last._3)
    // single-token / fully-repetitive docs emit no node
    val empty = TextAnalysis.textrankKeywords(
      Seq((3L, "solo"), (4L, "rep rep rep")).toDF("doc_id", "text"))
    assert(empty.count() === 0L)
  }

  test("knBigramLogProb == scalar Kneser-Ney truth; smoothing reserves mass vs MLE") {
    val docs = Seq(
      (1L, "a b a b a c"),
      (2L, "a b d")).toDF("doc_id", "text")
    // bigram tokens: d1 = (a,b),(b,a),(a,b),(b,a),(a,c); d2 = (a,b),(b,d)
    // c12: ab=3, ba=2, ac=1, bd=1; ctx: a·=4, b·=3; N1+(a·)=2, N1+(b·)=2
    // N1+(·b)=1, N1+(·a)=1, N1+(·c)=1, N1+(·d)=1; types=4
    val D = 0.75
    def p(c12: Double, ctx: Double, nf: Double, nb: Double): Double =
      (math.max(c12 - D, 0.0) + D * nf * (nb / 4.0)) / ctx
    def m4(x: Double) = math.round(x * 10000).toDouble / 10000
    val d1 = (2 * math.log(p(3, 4, 2, 1)) + 2 * math.log(p(2, 3, 2, 1)) +
      1 * math.log(p(1, 4, 2, 1))) / 5.0
    val d2 = (math.log(p(3, 4, 2, 1)) + math.log(p(1, 3, 2, 1))) / 2.0
    val got = TextAnalysis.knBigramLogProb(docs)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) === ((5L, m4(d1))))
    assert(got(2L) === ((2L, m4(d2))))
    // the discount reserves mass: every smoothed P < the MLE c12/ctx
    assert(p(3, 4, 2, 1) < 3.0 / 4 && p(1, 3, 2, 1) < 1.0 / 3)
  }

  test("qualityGateSweep: hand truth — doc and token survival per threshold") {
    val scored = Seq(
      (1L, 10L, -2.0), (2L, 20L, -4.0), (3L, 30L, -6.0))
      .toDF("doc_id", "n_tokens", "mean_logp")
    val got = TextAnalysis.qualityGateSweep(scored, Seq(-5.0, -3.0))
      .as[(Double, Long, Long, Double, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // t=-5: keeps docs 1,2 (30 of 60 tokens); t=-3: keeps doc 1 only.
    assert(got(-5.0) === ((-5.0, 3L, 2L, 0.6667, 60L, 30L, 0.5)))
    assert(got(-3.0) === ((-3.0, 3L, 1L, 0.3333, 60L, 10L, 0.1667)))
  }

  test("readability: hand truth, sentence floor, punctuation raises the sentence count") {
    val d = Seq(
      (1L, "go to the store"),   // 4 words, floor 1 sentence, 5 vowel groups
      (2L, "one. two! three?"))  // 3 words, 3 sentences, 4 vowel groups
      .toDF("doc_id", "text")
    val got = TextAnalysis.readability(d)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    def flesch(w: Double, s: Double, y: Double) =
      round4(206.835 - 1.015 * (w / s) - 84.6 * (y / w))
    assert(got(0) === ((1L, 4L, 1L, 5L, flesch(4, 1, 5))))
    assert(got(1) === ((2L, 3L, 3L, 4L, flesch(3, 3, 4))))
  }

  test("gateAgreement: Cohen's kappa hand truth; perfect and inverted raters") {
    // contingency 2/1/1/2 → po = 2/3, pe = 1/2, κ = 1/3
    val uni = Seq((1L, -1.0), (2L, -1.0), (3L, -1.0), (4L, -9.0), (5L, -9.0), (6L, -9.0))
      .toDF("doc_id", "mean_logp")
    val bi = Seq((1L, -1.0), (2L, -1.0), (3L, -9.0), (4L, -1.0), (5L, -9.0), (6L, -9.0))
      .toDF("doc_id", "mean_logp")
    val got = TextAnalysis.gateAgreement(uni, bi, -5.0, -5.0)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().head
    assert(got === ((6L, 2L, 1L, 1L, 2L, 0.666667, 0.333333)))
    // identical raters → κ = 1; inverted raters → κ = −1
    val same = TextAnalysis.gateAgreement(uni, uni, -5.0, -5.0)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().head
    assert(same._7 === 1.0)
    val inv = uni.withColumn("mean_logp", -col("mean_logp") - 10.0)
    val opp = TextAnalysis.gateAgreement(uni, inv, -5.0, -5.0)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect().head
    assert(opp._7 === -1.0)
  }

  test("rbpEval == scalar weighted truth; exact rational residual") {
    val docs = Seq(
      (1L, "spark streaming beats batch spark wins here"),
      (2L, "spark streaming again in this longer doc with filler words"),
      (3L, "spark only no second term present here today"),
      (4L, "streaming only text with some other words here"),
      (5L, "nothing relevant in this document at all"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "streaming")
    val k = 4
    val scores = Search.bm25Scores(docs, terms).as[(Long, Double)].collect().toMap
    val relevant = Set(1L, 2L) // contain BOTH terms
    val ranked = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)
    val w = Search.rbpWeights(k, 4, 5).toMap // denom 5^4 = 625
    val num = ranked.zipWithIndex.collect {
      case (id, i) if relevant(id) => w(i + 1)
    }.sum
    val rbpTruth = BigDecimal(num.toDouble / 625.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Search.rbpEval(docs, terms, k)
      .as[(Int, Long, Long, Double, Double)].collect().head
    assert(got._1 === k)
    assert(got._2 === relevant.size.toLong)
    assert(got._3 === ranked.count(relevant).toLong)
    assert(got._4 === rbpTruth)
    assert(got._5 === BigDecimal(256.0 / 625.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) // p^k = 0.4096
    // the residual bounds what an unjudged tail could add: rbp + residual ≤ 1
    assert(got._4 + got._5 <= 1.0 + 1e-9)
  }

  // ---- round 5 (sixth session): Elias–Fano audit / MMR ----

  test("eliasFanoAudit: scalar EF + VByte formulas on hand posting lists") {
    // term "x" in docs 0,3,9,12,40 (df 5, U 41); "y" in 0..5 (df 6, U 6);
    // "z" df 4 — filtered by minDf 5.
    val docs = (Seq(0L, 3L, 9L, 12L, 40L).map(id => (id, "x")) ++
      (0L to 5L).map(id => (id, "x y")) ++
      Seq(6L, 7L, 8L, 10L).map(id => (id, "z")))
      .groupBy(_._1).map { case (id, rows) => (id, rows.map(_._2).mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    def vbyte(v: Long): Long = (1 to 8).find(k => v < (1L << (7 * k))).getOrElse(9).toLong
    def truth(ids: Seq[Long]): (Long, Long, Long, Long, Long, Long) = {
      val n = ids.size.toLong; val u = ids.max + 1
      val l = (0 to 40).filter(k => (1L << k) <= u / n).max.toLong
      val efBits = n * l + n + (u >> l)
      val gaps = (ids.head + 1) +: ids.sliding(2).map(p => p(1) - p(0)).toSeq
      (n, u, l, efBits, (efBits + 7) / 8, gaps.map(vbyte).sum)
    }
    val got = Search.eliasFanoAudit(docs, minDf = 5)
      .as[(String, Long, Long, Long, Long, Long, Long, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got.keySet === Set("x", "y"))
    for ((term, ids) <- Seq(
      "x" -> (Seq(0L, 3L, 9L, 12L, 40L) ++ (0L to 5L)).distinct.sorted,
      "y" -> (0L to 5L).toSeq)) {
      val (n, u, l, bits, bytes, vb) = truth(ids)
      val g = got(term)
      assert((g._2, g._3, g._4, g._5, g._6, g._7) === ((n, u, l, bits, bytes, vb)),
        s"term $term")
      assert(math.abs(g._8 - math.round(bytes.toDouble / vb * 10000).toDouble / 10000) < 1e-9)
    }
  }

  test("eliasFanoAudit: EF beats VByte on dense lists, loses on sparse-huge universes") {
    // dense: every doc 0..99 contains "dense" → gaps of 1, VByte 100 B,
    // EF: l=0, bits = 100 + 100 = 200 → 25 B. Sparse: two docs far apart.
    val docs = (0L to 99L).map(id => (id, "dense")).toDF("doc_id", "text")
    val g = Search.eliasFanoAudit(docs, minDf = 5)
      .as[(String, Long, Long, Long, Long, Long, Long, Double)].collect().head
    assert(g._5 === 200L && g._6 === 25L && g._7 === 100L && g._8 < 1.0)
  }

  test("mmrRerank == scalar greedy over engine scores; demotes the near-duplicate") {
    // doc 2 is a near-verbatim copy of doc 1 (the top hit): relevance
    // ranking puts it second; MMR must push it behind the distinct doc 3.
    // docs 1–3 carry each query term once at EQUAL length (equal bm25 —
    // the greedy choice is decided by the diversity penalty, not the
    // score gap); docs 4–5 match nothing and stay out of the pool.
    val docs = Seq(
      (1L, "spark streaming window batch state checkpoint runs the pipeline tonight ok"),
      (2L, "spark streaming window batch state checkpoint runs the pipeline tonight yes"),
      (3L, "window under spark adaptive streaming execution differs entirely from batches today"),
      (4L, "flink watermark semantics differ across engines in subtle ways sometimes here"),
      (5L, "database index structures include btrees and lsm trees for storage layers"))
      .toDF("doc_id", "text")
    val terms = Seq("spark", "streaming", "window")
    val n = 5; val k = 3; val lam = 0.7
    // scalar truth: scores from the proven bm25 scorer; shingles in Scala
    val scores = Search.bm25Scores(docs, terms)
      .as[(Long, Double)].collect().toMap
    val sh = docs.as[(Long, String)].collect().map { case (id, t) =>
      id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    }.toMap
    def jac(a: Long, b: Long): Double = {
      val (x, y) = (sh(a), sh(b))
      math.round(x.intersect(y).size.toDouble / x.union(y).size * 10000).toDouble / 10000
    }
    val pool = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(n).map(_._1)
    var sel = Vector.empty[(Int, Long, Double, Double, Double)]
    for (r <- 1 to k) {
      val rem = pool.filterNot(id => sel.exists(_._2 == id))
      val cand = rem.map { id =>
        val pen = if (sel.isEmpty) 0.0 else sel.map(s => jac(id, s._2)).max
        val mmr = math.round((lam * scores(id) - (1 - lam) * pen) * 1e6) / 1e6
        (r, id, scores(id), pen, mmr)
      }
      sel :+= cand.minBy(c => (-c._5, c._2))
    }
    val got = Search.mmrRerank(docs, terms, n, k, lam)
      .as[(Int, Long, Double, Double, Double)].collect().sortBy(_._1).toVector
    assert(got.map(g => (g._1, g._2)) === sel.map(s => (s._1, s._2)))
    got.zip(sel).foreach { case (g, t) =>
      assert(math.abs(g._3 - t._3) < 1e-9 && math.abs(g._4 - t._4) < 1e-9 &&
        math.abs(g._5 - t._5) < 1e-9, s"rank ${g._1}")
    }
    // the diversity property itself: relevance rank 2 is the near-dup,
    // but MMR rank 2 is the DISTINCT doc 3
    val relOrder = scores.toSeq.sortBy { case (id, s) => (-s, id) }.map(_._1)
    assert(relOrder(1) === 2L)
    assert(got(1)._2 === 3L, "MMR must select the diverse doc second")
  }
}
