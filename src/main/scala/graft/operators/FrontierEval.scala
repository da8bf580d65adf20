package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Frontier-policy evaluation — the two classic measurements a crawl
  * operator runs before changing scheduling policy:
  *
  *  - [[harvestCurve]]: focused-crawling harvest rate (Chakrabarti, van
  *    den Berg & Dom, WWW'99) — "if the frontier is ordered by the
  *    parent pages' topic relevance, what fraction of fetches is
  *    on-topic after each decile of the crawl?"
  *  - [[orderingCurves]]: URL-ordering quality (Cho, Garcia-Molina &
  *    Page, WWW'98) — "how fast does each candidate frontier ordering
  *    accumulate total page importance?"
  *
  * Both need a GLOBAL crawl-order rank plus a cumulative sum in that
  * order — the textbook single-task-window trap at corpus grain. Every
  * ranking here goes through [[GlobalOrder.withRunningSumAndRank]]'s
  * range-partitioned two-phase scan (one range shuffle per ordering,
  * driver traffic = #partitions rows), and only the 10 decile-cut rows
  * per curve survive to the output.
  */
object FrontierEval {

  /** Focused-crawl harvest curve. `relevance` is the per-document topic
    * signal (doc_id, topic_cnt, total_cnt) — integer token counts so the
    * on-topic gate is exact integer math; `edges` the (src, dst) link
    * graph. The frontier policy under evaluation is the WWW'99 one: a
    * target's priority is the BEST topic score among the pages that link
    * to it (children inherit the parent's promise — the crawler has not
    * fetched the target yet, so it can only rank on parent evidence).
    * A fetched target is on-topic when topic_cnt·100 ≥ total_cnt·tauPct.
    *
    * Output: one row per decile k ∈ 1..10 of the priority-ordered crawl —
    * (decile, n_fetched, n_on_topic, harvest) with harvest the cumulative
    * on-topic fraction. A curve that sags toward the overall corpus rate
    * means the topic signal does not propagate over links and best-first
    * focusing buys nothing. */
  def harvestCurve(relevance: DataFrame, edges: DataFrame, tauPct: Int): DataFrame = {
    require(tauPct >= 0 && tauPct <= 100, "tauPct is a percentage")
    val spark = relevance.sparkSession
    // parent topic score: exact integer counts → one IEEE division (both
    // engines divide the same ints → identical doubles, order-safe sort key)
    val score = relevance.select(col("doc_id").as("src"),
      (col("topic_cnt").cast("double") / col("total_cnt")).as("pscore"))
    val prio = edges.select("src", "dst")
      .join(score, Seq("src"))
      .groupBy("dst").agg(max("pscore").as("priority"))
    val onTopic = relevance.select(col("doc_id").as("dst"),
      (col("topic_cnt") * 100 >= col("total_cnt") * tauPct)
        .cast("long").as("on_topic"))
    // Persisted (r6): evaluated by both the decile-count agg and the
    // GlobalOrder range pass — one parent-score join instead of two.
    val tgt = prio.join(onTopic, Seq("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Range partitions ∝ rows (r6): ~1M ranked rows per partition, floored
    // at 1 — a fixed count on a dim-sized frame is pure task/sampling
    // overhead, and at corpus scale the row-derived count grows past any
    // constant as it must. The count also materializes the persist exactly
    // once before the two passes.
    val rankParts = GlobalOrder.partsFor(tgt.count())
    val ranked = GlobalOrder.withRunningSumAndRank(
      tgt, "on_topic", Seq(col("priority").desc, col("dst").asc),
      rankParts, "cum_on_topic", "rank")
    // decile cut ranks: ceil(k·n/10) — a 10-row broadcast dim, never a
    // second pass over the ranked relation
    val n = tgt.agg(count(lit(1)).as("n"))
    val cuts = spark.range(1, 11).toDF("decile")
      .crossJoin(broadcast(n))
      .select(col("decile"), expr("(decile * n + 9) div 10").as("cut"))
    ranked.join(broadcast(cuts), col("rank") === col("cut"))
      .select(col("decile"), col("rank").as("n_fetched"),
        col("cum_on_topic").as("n_on_topic"),
        round(col("cum_on_topic") * lit(1.0) / col("rank"), 4).as("harvest"))
  }

  /** URL-ordering evaluation: for each named ordering of the crawl
    * frontier, the cumulative share of total importance mass acquired at
    * each decile of the crawl (the WWW'98 experiment shape). `scores` is
    * (doc_id, value, ordering-key columns); `orderings` maps a strategy
    * name to its sort-key column (ascending; negate for desc). `value`
    * must be an exact integer mass (e.g. 6-dp-fixed PageRank ×1e6) so
    * cumulative sums are order-independent and engine-comparable.
    *
    * One range-partitioned two-phase rank per strategy — strategies are
    * few and independent, and a per-strategy scan keeps each sort a pure
    * (key, doc_id) projection. */
  def orderingCurves(scores: DataFrame, valueCol: String,
      orderings: Seq[(String, Column)]): DataFrame = {
    require(orderings.nonEmpty, "need at least one ordering")
    val spark = scores.sparkSession
    // Persisted (r6 — round-5 verdict item 3): the mass/count agg plus ONE
    // range pass PER STRATEGY each re-instantiated the full upstream plan
    // (for q193 that meant ≥4 evaluations of an uncached
    // PageRank⋈OPIC⋈indegree chain — 113 s of its 113 s bench wall at
    // sf0.1). One evaluation, three cache-read sorts.
    val cached = scores
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Row-proportional range partitions (r6) — see harvestCurve; the count
    // materializes the persist once before the three strategy passes.
    val rankParts = GlobalOrder.partsFor(cached.count())
    val n = cached.agg(count(lit(1)).as("n"),
      sum(col(valueCol)).as("total_mass"))
    val cuts = spark.range(1, 11).toDF("decile")
      .crossJoin(broadcast(n))
      .select(col("decile"), expr("(decile * n + 9) div 10").as("cut"),
        col("total_mass"))
    orderings.map { case (name, key) =>
      val ranked = GlobalOrder.withRunningSumAndRank(
        cached.select(col("doc_id"), col(valueCol), key.as("__k")),
        valueCol, Seq(col("__k").asc, col("doc_id").asc),
        rankParts, "cum_mass", "rank")
      ranked.join(broadcast(cuts), col("rank") === col("cut"))
        .select(lit(name).as("strategy"), col("decile"),
          col("rank").as("n_fetched"),
          round(col("cum_mass") * lit(1.0) / col("total_mass"), 4)
            .as("mass_share"))
    }.reduce(_ unionByName _)
  }
}
