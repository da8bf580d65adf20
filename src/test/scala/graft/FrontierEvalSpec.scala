package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FrontierEval

/** Frontier-policy evaluation curves vs hand arithmetic: harvest rate
  * (parent-max priority, integer on-topic gate, decile cuts incl. the
  * duplicate-cut regime when targets < 10) and ordering mass curves. */
class FrontierEvalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("harvestCurve: parent-max priority order and cumulative on-topic") {
    // scores: d1=2/4, d2=0/4, d3=1/4, d4=4/4; tau 50%.
    val rel = Seq((1L, 2L, 4L), (2L, 0L, 4L), (3L, 1L, 4L), (4L, 4L, 4L))
      .toDF("doc_id", "topic_cnt", "total_cnt")
    // targets: d2 (from d1:.5, d3:.25 → prio .5), d3 (from d1 → .5),
    // d4 (from d2 → 0). Crawl order d2, d3, d4; only d4 is on-topic.
    val edges = Seq((1L, 2L), (3L, 2L), (1L, 3L), (2L, 4L)).toDF("src", "dst")
    val got = FrontierEval.harvestCurve(rel, edges, tauPct = 50)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length === 10, "one row per decile even when cuts repeat")
    // deciles 1-3 cut at rank 1, 4-6 at rank 2, 7-10 at rank 3
    assert(got.take(3).forall(r => r._2 == 1L && r._3 == 0L && r._4 == 0.0))
    assert(got.slice(3, 6).forall(r => r._2 == 2L && r._3 == 0L && r._4 == 0.0))
    assert(got.drop(6).forall(r => r._2 == 3L && r._3 == 1L && r._4 == 0.3333))
  }

  test("orderingCurves: per-strategy cumulative mass shares at decile cuts") {
    val scores = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
      .toDF("doc_id", "mass")
    val got = FrontierEval.orderingCurves(scores, "mass", Seq(
      ("bymass", -col("mass")), ("byid", col("doc_id"))))
      .as[(String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(got.size === 20)
    // bymass order 4,3,2,1 → cum .4/.7/.9/1; byid → .1/.3/.6/1
    assert(got(("bymass", 1L)) === ((1L, 0.4)))
    assert(got(("bymass", 5L)) === ((2L, 0.7)))
    assert(got(("bymass", 10L)) === ((4L, 1.0)))
    assert(got(("byid", 1L)) === ((1L, 0.1)))
    assert(got(("byid", 7L)) === ((3L, 0.6)))
    assert(got(("byid", 10L)) === ((4L, 1.0)))
  }
}
