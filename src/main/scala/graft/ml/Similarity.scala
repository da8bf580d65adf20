package graft.ml

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.core.Parquet
import graft.functions.expressions.{cosine_sim, dot_product}

/** Similarity search over an embedding column (task brief):
  * brute-force cosine top-k baseline + LSH-bucketed ANN scale path.
  *
  * The pairwise kernel is the native codegen'd [[graft.functions.expressions
  * .CosineSimilarity]] — inside the O(|Q|·|N|) join a Scala UDF would pay
  * boxing per pair.
  *
  * Scale notes: brute force is the correctness baseline (and is exactly what
  * a 1000-executor cluster does for moderate |Q|: broadcast Q, one pass over
  * N, per-partition top-k then global top-k). The ANN path buckets by L
  * random-hyperplane sign keys (deterministic, seed-derived hyperplanes) so
  * candidate generation is an equi-join, no all-pairs pass; recall is
  * measured against the baseline in SimilaritySpec.
  */
object Similarity {

  /** Bounded top-k typed aggregate over (neighbor_id, cos): the buffer is a
    * ≤k list ordered by (cos desc, neighbor_id asc) — the same total order a
    * rank window would use, so the output is identical, but the PLAN is a
    * partial/final aggregation: every partition reduces its scored rows to k
    * candidates map-side and only those merge across the cluster. This
    * replaces a window over the full scored set (which funnels ALL |Q|·|N|
    * scores through per-query sorts) — the shape that survives 100 TB. */
  private class TopKAggregator(k: Int)
      extends Aggregator[(Long, Double), List[(Long, Double)], Seq[(Long, Double)]] {
    // Buffer invariant: sorted by (cos desc, neighbor_id asc), length ≤ k.
    // Double.compare (not primitive >) gives a TOTAL order with NaN above
    // every double — matching Spark's sort semantics, so a NaN cos (zero
    // vector) ranks identically to the row_number window this replaces, and
    // sortWith's strict-ordering contract holds in merge().
    private def better(x: (Long, Double), y: (Long, Double)): Boolean = {
      val c = java.lang.Double.compare(x._2, y._2)
      c > 0 || (c == 0 && x._1 < y._1)
    }
    override def zero: List[(Long, Double)] = Nil
    override def reduce(b: List[(Long, Double)], a: (Long, Double)): List[(Long, Double)] = {
      // Hot path: the overwhelming majority of scored rows lose to the
      // current k-th best — reject in O(1) without rebuilding the list.
      if (b.lengthCompare(k) >= 0 && !better(a, b.last)) b
      else {
        val (front, back) = b.span(better(_, a))
        (front ::: a :: back).take(k)
      }
    }
    override def merge(b1: List[(Long, Double)], b2: List[(Long, Double)]): List[(Long, Double)] =
      (b1 ++ b2).sortWith(better).take(k)
    override def finish(b: List[(Long, Double)]): Seq[(Long, Double)] = b
    override def bufferEncoder: Encoder[List[(Long, Double)]] =
      Encoders.kryo[List[(Long, Double)]]
    override def outputEncoder: Encoder[Seq[(Long, Double)]] =
      ExpressionEncoder[Seq[(Long, Double)]]()
  }

  /** (query_id, neighbor_id, cos) → exact per-query top-k with rank, via the
    * partial/final top-k aggregate (no global window). */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k),
      ExpressionEncoder[(Long, Double)]())
    scored
      .groupBy("query_id")
      .agg(topk(col("neighbor_id"), col("cos")).as("nn"))
      .select(col("query_id"), posexplode(col("nn")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p._1").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rank"), round(col("p._2"), 4).as("cos"))
  }

  /** Exact top-k neighbors for each query vector.
    * queries/candidates: (vec_id, embedding). Output (query_id, neighbor_id,
    * rank, cos). Broadcast Q, one pass over N, per-partition top-k merged —
    * the canonical brute-force shape for moderate |Q| at any corpus size. */
  def knnBruteForce(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val c = candidates.select(col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(scored.select("query_id", "neighbor_id", "cos"), k)
  }

  /** Deterministic ±1 hyperplanes: `tables` tables × `planesPerTable` planes
    * × dim components, from a fixed LCG. */
  def hyperplanes(tables: Int, planesPerTable: Int, dim: Int): Seq[Seq[Seq[Float]]] = {
    var state = 0x9e3779b97f4a7c15L
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    Seq.tabulate(tables, planesPerTable, dim) { (_, _, _) =>
      if ((next() >>> 63) == 1L) 1.0f else -1.0f
    }
  }

  /** LSH sign-bucket keys per vector: one (table, key) row per table. */
  def lshKeys(vecs: DataFrame, tables: Int = 8, planesPerTable: Int = 4,
      dim: Int = 64): DataFrame = {
    val planes = hyperplanes(tables, planesPerTable, dim)
    val tableKeys = (0 until tables).map { t =>
      val bits = (0 until planesPerTable).map { p =>
        (dot_product(col("embedding"), typedlit(planes(t)(p))) > 0).cast("long")
      }
      val key = bits.zipWithIndex
        .map { case (b, i) => b * lit(1L << i) }
        .reduce(_ + _)
      struct(lit(t).as("tbl"), key.as("key"))
    }
    vecs.select(col("vec_id"), col("embedding"),
      explode(array(tableKeys: _*)).as("tk"))
      .select(col("vec_id"), col("embedding"),
        col("tk.tbl").as("tbl"), col("tk.key").as("key"))
  }

  /** Approximate top-k: candidates = vectors sharing any LSH bucket with the
    * query; then exact cosine rank within candidates. */
  def knnLsh(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
      k: Int, tables: Int = 8, planesPerTable: Int = 4): DataFrame = {
    val qk = lshKeys(queries, tables, planesPerTable)
      .select(col("tbl"), col("key"), col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val ck = lshKeys(candidates, tables, planesPerTable)
      .select(col("tbl"), col("key"), col("vec_id").as("neighbor_id"), col("embedding").as("c_emb"))
    val cands = ck.join(broadcast(qk), Seq("tbl", "key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id", "q_emb", "c_emb")
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cos", cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(cands.select("query_id", "neighbor_id", "cos"), k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN — the second scale path beside LSH.
  // ------------------------------------------------------------------

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v else v.map(x => (x / n).toFloat)
  }

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  /** IVF coarse quantizer: seed centroids are the `k` corpus vectors with
    * the smallest xxhash64(vec_id) (reproducible at any parallelism),
    * refined by `iters` Lloyd rounds (cosine assignment on normalized
    * vectors, per-cell mean via a distributed posexplode aggregation — only
    * k×dim floats ever reach the driver, the model, not the data).
    *
    * Determinism caveat: the Lloyd means use a distributed fp `avg`, whose
    * accumulation order is partitioning-dependent — centroids can differ in
    * the last ulp across parallelism levels, so the quantizer is
    * SEED-deterministic, not bit-deterministic. Downstream correctness is
    * recall-based (MlSpec), never exact-output-based, by design. */
  /** The nearest-centroid assignment UDF over a broadcast model — the ONE
    * definition shared by the Lloyd trainer, the IVF probe path, and
    * semDedup (a tie-break or normalization change must hit all three). */
  private def cellOfUdf(
      bc: org.apache.spark.broadcast.Broadcast[Array[Array[Float]]]) =
    udf { emb: Seq[Float] =>
      val v = normalize(emb.toArray)
      var best = 0; var bestDot = Double.MinValue
      val cs = bc.value
      var c = 0
      while (c < cs.length) {
        val d = dot(v, cs(c)); if (d > bestDot) { bestDot = d; best = c }; c += 1
      }
      best
    }

  def ivfCentroids(vecs: DataFrame, k: Int, iters: Int): Array[Array[Float]] = {
    val spark = vecs.sparkSession
    var centroids: Array[Array[Float]] = vecs
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(k)
      .collect()
      .map(r => normalize(r.getSeq[Float](1).toArray))
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val cellOf = cellOfUdf(bc)
      val means = vecs
        .select(cellOf(col("embedding")).as("cell"), col("embedding"))
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(avg(col("v")).as("m"))
        .collect()
      val next = centroids.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      centroids = next.map(normalize)
    }
    centroids
  }

  /** IVF approximate top-k: candidates live in exactly ONE cell each (their
    * nearest centroid); every query probes its `nProbe` nearest cells. The
    * candidate join is a bucketed EQUI-join on `cell` — never an all-pairs
    * pass — and each (query, candidate) pair arises at most once (one cell
    * per candidate), so no dedup shuffle is needed before the exact-cosine
    * top-k aggregate. At 10^10 vectors the cell count is the knob: cells ~
    * √n keeps both the centroid model and the per-cell posting lists
    * worker-sized. */
  def knnIvf(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
      k: Int, nCells: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame =
    knnIvfModel(spark, queries, candidates, k,
      ivfCentroids(candidates, nCells, iters), nProbe)

  /** Persist the coarse quantizer as a tiny parquet MODEL table
    * (cell, centroid) — train once, probe many. The model is k×dim floats
    * regardless of corpus size (it is the model, not the data), so this is
    * a one-file write at any scale. Returns the trained centroids. */
  def saveIvfModel(spark: SparkSession, vecs: DataFrame, path: String,
      nCells: Int = 16, iters: Int = 2): Array[Array[Float]] = {
    val cents = ivfCentroids(vecs, nCells, iters)
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
    cents
  }

  /** Load a persisted quantizer (exact float roundtrip through parquet). */
  def loadIvfModel(spark: SparkSession, path: String): Array[Array[Float]] =
    Parquet.read(spark, path)
      .select(col("cell"), col("centroid"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Float](1).toArray)

  /** IVF probe against a PRE-TRAINED quantizer (see [[knnIvf]] for the plan
    * shape; this is the probe-many half of the persistence split). */
  def knnIvfModel(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
      k: Int, cents: Array[Array[Float]], nProbe: Int = 4): DataFrame = {
    val bc = spark.sparkContext.broadcast(cents)
    val cellOf = cellOfUdf(bc)
    val probeCells = udf { emb: Seq[Float] =>
      val v = normalize(emb.toArray)
      val cs = bc.value
      cs.indices.map(c => (dot(v, cs(c)), c)).sortBy(-_._1).take(nProbe).map(_._2)
    }
    val cIdx = candidates.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), cellOf(col("embedding")).as("cell"))
    val qIdx = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), explode(probeCells(col("embedding"))).as("cell"))
    val scored = cIdx.join(qIdx, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(scored.select("query_id", "neighbor_id", "cos"), k)
  }

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the memory-bounded ANN scale path.
  // ------------------------------------------------------------------

  /** Sub-space code assignment: for each of the `m` contiguous sub-vectors
    * of `v`, the index of the L2-nearest codebook centroid. */
  private def pqAssign(v: Array[Float], books: Array[Array[Array[Float]]]): Seq[Int] = {
    val m = books.length
    val sub = v.length / m
    Seq.tabulate(m) { s =>
      val cb = books(s)
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        var d = 0.0; var i = 0
        while (i < sub) {
          val t = v(s * sub + i).toDouble - cb(c)(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
  }

  /** Product-quantization codebooks (Jégou et al. 2011): the embedding is
    * split into `m` contiguous sub-spaces; each gets its own `ks`-centroid
    * L2 quantizer, so a vector compresses to `m` small codes — m bytes
    * (ks ≤ 256) instead of 4·dim, the 32× memory cut that lets a
    * 10^10-vector index fit a cluster's RAM. Vectors are L2-normalized
    * FIRST (the ADC dot then approximates cosine). Seeds are the `ks`
    * corpus vectors with the smallest (xxhash64(vec_id), vec_id) — the
    * same parallelism-independent seeding as [[ivfCentroids]] — refined by
    * `iters` Lloyd rounds in which ALL m sub-quantizers update in ONE
    * distributed job per round (assignment UDF → posexplode to
    * (sub, code, pos) → avg): only m·ks·dim/m floats reach the driver.
    * Returns books(sub)(code) = sub-centroid (length dim/m). Same
    * determinism contract as IVF: seed-deterministic, recall-tested. */
  def trainPqCodebooks(vecs: DataFrame, m: Int = 8, ks: Int = 16,
      iters: Int = 2): Array[Array[Array[Float]]] = {
    val spark = vecs.sparkSession
    val seeds = vecs.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(ks).collect()
      .map(r => normalize(r.getSeq[Float](1).toArray))
    val dim = seeds.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m sub-spaces")
    val sub = dim / m
    var books: Array[Array[Array[Float]]] =
      Array.tabulate(m, ks)((s, c) => seeds(c % seeds.length).slice(s * sub, (s + 1) * sub))
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(books)
      val assign = udf { emb: Seq[Float] => pqAssign(normalize(emb.toArray), bc.value) }
      val normed = udf { emb: Seq[Float] => normalize(emb.toArray).toSeq }
      val means = vecs
        .select(assign(col("embedding")).as("codes"),
          posexplode(normed(col("embedding"))).as(Seq("pos", "v")))
        .select((col("pos") / sub).cast("int").as("s"),
          element_at(col("codes"), (col("pos") / sub).cast("int") + 1).as("code"),
          (col("pos") % sub).as("p"), col("v"))
        .groupBy("s", "code", "p")
        .agg(avg(col("v")).as("mv"))
        .collect()
      val next = books.map(_.map(_.clone())) // empty cells keep their centroid
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      books = next
    }
    books
  }

  /** PQ-encode a corpus: (vec_id, codes) with codes.length == m — the
    * compressed representation the ADC scan reads INSTEAD of embeddings. */
  def pqEncode(vecs: DataFrame, books: Array[Array[Array[Float]]]): DataFrame = {
    val bc = vecs.sparkSession.sparkContext.broadcast(books)
    val enc = udf { emb: Seq[Float] => pqAssign(normalize(emb.toArray), bc.value) }
    vecs.select(col("vec_id"), enc(col("embedding")).as("codes"))
  }

  /** Persist PQ codebooks as a tiny parquet model table (sub, code,
    * centroid) — m·ks rows regardless of corpus size (cf. saveIvfModel). */
  def savePqModel(spark: SparkSession, vecs: DataFrame, path: String,
      m: Int = 8, ks: Int = 16, iters: Int = 2): Array[Array[Array[Float]]] = {
    val books = trainPqCodebooks(vecs, m, ks, iters)
    import spark.implicits._
    (for { s <- books.indices; c <- books(s).indices }
      yield (s, c, books(s)(c).toSeq)).toDF("sub", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path)
    books
  }

  /** Load persisted codebooks (exact float roundtrip through parquet). */
  def loadPqModel(spark: SparkSession, path: String): Array[Array[Array[Float]]] =
    Parquet.read(spark, path)
      .select(col("sub"), col("code"), col("centroid"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Float](2).toArray))

  /** PQ approximate top-k with asymmetric distance computation (ADC) and
    * exact re-rank.
    *
    * Plan shape at scale: the hot pass is a MAP over the CODES table only
    * — each query precomputes its m×ks table of sub-space dot products
    * (broadcast with the bounded query set, same contract as
    * [[knnBruteForce]]); a candidate's approximate cosine is m table
    * lookups summed, no embedding is read. The per-query ADC shortlist
    * (`refine` ids, via the partial/final top-k aggregate — no global
    * window) then re-ranks EXACTLY: |Q|·refine keys equi-join back to the
    * embedding table (AQE broadcasts the small shortlist side), native
    * cosine kernel, final top-k. With refine ≥ |candidates| the shortlist
    * is everything, so the output EQUALS [[knnBruteForce]] — the
    * correctness identity MlSpec pins; small `refine` trades recall for
    * the 32× smaller scan. */
  def knnPqModel(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
      k: Int, books: Array[Array[Array[Float]]], refine: Int = 50): DataFrame = {
    require(refine >= k, s"refine $refine must be >= k $k")
    val bc = spark.sparkContext.broadcast(books)
    val adcTable = udf { emb: Seq[Float] =>
      val q = normalize(emb.toArray)
      val bs = bc.value
      val m = bs.length; val ks = bs(0).length; val sub = q.length / m
      val t = new Array[Double](m * ks)
      var s = 0
      while (s < m) {
        var c = 0
        while (c < ks) {
          var d = 0.0; var i = 0
          while (i < sub) { d += q(s * sub + i).toDouble * bs(s)(c)(i); i += 1 }
          t(s * ks + c) = d; c += 1
        }
        s += 1
      }
      t.toSeq
    }
    val adcScore = udf { (table: Seq[Double], codes: Seq[Int]) =>
      val ks = table.length / codes.length
      var acc = 0.0; var s = 0
      while (s < codes.length) { acc += table(s * ks + codes(s)); s += 1 }
      acc
    }
    val codes = pqEncode(candidates, books)
    val qt = queries.select(col("vec_id").as("query_id"),
      adcTable(col("embedding")).as("tbl"))
    val approx = codes.join(broadcast(qt), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adcScore(col("tbl"), col("codes")).as("cos"))
    val shortlist = rankTopK(approx, refine).select("query_id", "neighbor_id")
    val exact = shortlist
      .join(candidates.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("c_emb")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .withColumn("cos", cosine_sim(col("q_emb"), col("c_emb")))
    rankTopK(exact.select("query_id", "neighbor_id", "cos"), k)
  }

  /** Train-and-probe convenience over [[knnPqModel]]. */
  def knnPq(spark: SparkSession, queries: DataFrame, candidates: DataFrame,
      k: Int, m: Int = 8, ks: Int = 16, iters: Int = 2,
      refine: Int = 50): DataFrame =
    knnPqModel(spark, queries, candidates, k,
      trainPqCodebooks(candidates, m, ks, iters), refine)

  /** All pairs with cosine ≥ threshold (embedding near-dup dedup), via
    * TRIANGLE-TILED block self-join.
    *
    * An exact all-pairs operator is inherently Θ(n²) kernel evaluations —
    * the question at scale is the PLAN, not the asymptotics (the
    * sub-quadratic answer is the approximate LSH path, knnLsh/q36; LSH
    * blocking cannot be used HERE because at a low threshold like 0.35 no
    * banding scheme guarantees the exact output contract the oracle checks).
    * The naive `a.join(b, a < b)` plans a BroadcastNestedLoopJoin — one
    * broadcast of the whole table and O(n²) rows through a single operator.
    * Instead: assign each vector a block g ∈ [0, B); replicate the left side
    * to keys {(g, j) : j ≥ g} and the right to {(i, g) : i ≤ g}. The join on
    * (ga, gb) is then a plain shuffled EQUI-join where each of the
    * B(B+1)/2 key groups computes one tile of the upper triangle — every
    * unordered pair evaluated exactly once, replication bounded by B (not
    * n), every tile an independent task, kernel inside codegen. This is how
    * the 1000-executor cluster runs an exact pairwise pass.
    */
  /** Embedding outlier detection (op 110): per group (label/source/topic),
    * each vector's cosine to its OWN group centroid, flagging members
    * below `threshold` — the embedding-space quality audit (mislabeled,
    * garbage, or off-topic docs sit far from their group's mass; the
    * z-score op's (q71) semantic sibling). Returns
    * (vec_id, grp, cent_cos, is_outlier) for every vector.
    *
    * Plan: the centroid is a distributed posexplode avg on the
    * (grp, pos) grain (partial-aggregable; only groups×dim doubles
    * shuffle), rebuilt into an ordered array and re-attached with a
    * broadcast join (group-cardinality dim); the cosine is the native
    * codegen'd kernel — one map stage over the corpus. Centroids are fp
    * sums (order-dependent last-ulp — ivfCentroids' documented
    * contract), so the op is rows-only with property tests, not an
    * oracle hash. */
  def embeddingOutliers(vecs: DataFrame, groupCol: String,
      threshold: Double): DataFrame = {
    val cents = vecs
      .select(col(groupCol).as("grp"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("grp", "pos").agg(avg("v").as("m"))
      .groupBy("grp")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x.getField("m").cast("float")).as("centroid"))
    vecs
      .select(col("vec_id"), col(groupCol).as("grp"), col("embedding"))
      .join(broadcast(cents), Seq("grp"))
      .select(col("vec_id"), col("grp"),
        round(cosine_sim(col("embedding"), col("centroid")), 4).as("cent_cos"))
      .withColumn("is_outlier", col("cent_cos") < threshold)
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space dedup —
    * k-means cluster the corpus, find within-cluster cosine near-dup
    * pairs, keep ONE doc per duplicate group: the member LEAST similar to
    * its cluster centroid (the paper's keeper rule — it preserves each
    * cluster's outer shell, which carries the most learning signal). The
    * clustering is what makes the quadratic pass affordable at 10^10
    * docs: pairs are evaluated within a cell only, so the cost is
    * Σ|cell|² ≈ n²/k, and cross-cell near-dups are deliberately forfeited
    * (the paper's approximation — raise nCells to trade recall for cost).
    *
    * Scale shape: assignment is one broadcast-model map stage (the model
    * is k×dim floats); the within-cell pair pass reuses
    * [[cosineNearDupPairs]]' triangle-tile discipline WITH the cell in
    * the join key — (cell, ga, gb) — so even a skewed giant cell splits
    * into B(B+1)/2 bounded tiles; components via
    * [[Corpus.connectedComponents]] (no driver-side graph); the keeper is
    * a `min_by((cent_cos, vec_id))` hash agg (partial-aggregable, no
    * per-group window). Seed-deterministic, not bit-deterministic (the
    * Lloyd means are distributed fp avgs — [[ivfCentroids]]' documented
    * contract), so evidence is property/parity tests, not oracle hashes.
    *
    * Returns every doc in a duplicate group: (vec_id, cell, rep,
    * cent_cos, is_keeper); docs in no near-dup pair are implicitly all
    * keepers (the [[Corpus.dedupClusters]] contract). */
  def semDedup(spark: SparkSession, vecs: DataFrame, threshold: Double,
      nCells: Int = 4, iters: Int = 2, blocks: Int = 4): DataFrame = {
    val cents = ivfCentroids(vecs, nCells, iters)
    val bc = spark.sparkContext.broadcast(cents)
    val cellOf = cellOfUdf(bc)
    import spark.implicits._
    val centDim = cents.zipWithIndex.toSeq
      .map { case (cvec, i) => (i, cvec.toSeq) }.toDF("cell", "centroid")
    // THREE consumers read the assignment (both tile sides + the keeper
    // label join) and the per-row UDF does k×dim dot products — persist so
    // the corpus is assigned once, not three times (the curate/shingle
    // discipline); the small clustered output checkpoints eagerly so the
    // returned frame is self-contained before the cache is released.
    val assigned = vecs
      .select(col("vec_id"), col("embedding"), cellOf(col("embedding")).as("cell"))
      .join(broadcast(centDim), Seq("cell"))
      .withColumn("cent_cos", round(cosine_sim(col("embedding"), col("centroid")), 4))
      .select(col("vec_id"), col("embedding"), col("cell"), col("cent_cos"))
      .persist()
    try {
      val withG = assigned.withColumn("g",
        pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int"))
      val left = withG.select(col("cell"), col("vec_id").as("ia"),
        col("embedding").as("e_a"), col("g").as("ga"),
        explode(sequence(col("g"), lit(blocks - 1))).as("gb"))
      val right = withG.select(col("cell"), col("vec_id").as("ib"),
        col("embedding").as("e_b"),
        explode(sequence(lit(0), col("g"))).as("ga"), col("g").as("gb"))
      val pairs = left.join(right, Seq("cell", "ga", "gb"))
        .filter(col("ga") < col("gb") || col("ia") < col("ib"))
        .filter(cosine_sim(col("e_a"), col("e_b")) >= threshold)
        .select(col("ia").as("a"), col("ib").as("b"))
      val labeled = Corpus.connectedComponents(pairs)
        .select(col("doc_id").as("vec_id"), col("rep"))
        .join(assigned.select(col("vec_id"), col("cell"), col("cent_cos")), Seq("vec_id"))
      val keepers = labeled.groupBy("rep")
        .agg(min_by(col("vec_id"), struct(col("cent_cos"), col("vec_id"))).as("keeper"))
      labeled.join(keepers, Seq("rep"))
        .select(col("vec_id"), col("cell"), col("rep"), col("cent_cos"),
          (col("vec_id") === col("keeper")).as("is_keeper"))
        .localCheckpoint(true)
    } finally assigned.unpersist(false)
  }

  def cosineNearDupPairs(vecs: DataFrame, threshold: Double, blocks: Int = 16): DataFrame = {
    val withG = vecs.select(col("vec_id"), col("embedding"),
      pmod(xxhash64(col("vec_id")), lit(blocks)).cast("int").as("g"))
    val left = withG.select(
      col("vec_id").as("ia"), col("embedding").as("e_a"), col("g").as("ga"),
      explode(sequence(col("g"), lit(blocks - 1))).as("gb"))
    val right = withG.select(
      col("vec_id").as("ib"), col("embedding").as("e_b"),
      explode(sequence(lit(0), col("g"))).as("ga"), col("g").as("gb"))
    left.join(right, Seq("ga", "gb"))
      // same-block tiles (ga==gb) contain both orderings — keep one; the
      // strict upper tiles (ga<gb) contain each unordered pair exactly once.
      .filter(col("ga") < col("gb") || col("ia") < col("ib"))
      .withColumn("cos", cosine_sim(col("e_a"), col("e_b")))
      .filter(col("cos") >= threshold)
      .select(
        least(col("ia"), col("ib")).as("a"),
        greatest(col("ia"), col("ib")).as("b"),
        round(col("cos"), 4).as("cos"))
  }
}
