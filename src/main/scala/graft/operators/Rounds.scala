package graft.operators

import org.apache.spark.sql.DataFrame

/** Per-round lineage truncation for the unrolled fixed-round iterative
  * operators (r6 — round-5 verdict items 2/3's sibling finding).
  *
  * A fixed-round loop that rebuilds `state` from a plan referencing the
  * previous `state` several times (in-mass join + dangling agg + carry
  * columns) grows its logical plan MULTIPLICATIVELY per round: at the
  * pinned 3 rounds opicFixed's single unrolled plan was already ~62k
  * explain lines and q193's composition ~189k (the `_before.txt` dumps
  * under plans/r06/ in commit 0a427bc),
  * and Catalyst analysis/optimization of that tree — not execution —
  * dominated the wall (q189 15 s, q193 113 s at sf0.1 on a 12k-edge
  * graph; task binaries ~1 MB). Checkpointing each round keeps the plan
  * constant-size and each round's work executed exactly once.
  *
  * Memory-backed `localCheckpoint` (the Corpus.connectedComponents
  * discipline): fastest, fine in local mode or for jobs short enough to
  * re-run, NOT fault-tolerant on executor loss — a cluster deployment
  * that needs recovery swaps in the CC operator's `checkpointDir` mode.
  * Superseded rounds are freed eagerly so the cached footprint stays at
  * one state table regardless of round count; the FINAL round's storage
  * backs the returned frame (ContextCleaner reclaims it when the caller
  * drops the frame).
  *
  * Float discipline: checkpointing materializes each round with the same
  * per-round physical plan the unrolled tree contained; only partition
  * coalescing decisions can shift in-mass addition order, the exact
  * variation the operators' documented 6-dp output rounding (q69
  * discipline) absorbs — and the integer-state loops (LPA, h-index) are
  * bit-exact under any order.
  *
  * Hoist rule ([[hoisted]]): a frame that every round reads but no round
  * changes — LPA's neighbor table, OPIC's edges and out-degrees, a BFS's
  * edge relation — is materialized ONCE before the loop. Left lazy, each
  * round's eager checkpoint re-instantiates its whole upstream plan (for
  * the registry's link-graph entries, the `linkEdges` scan and semi-join
  * once per round, and Catalyst re-plans it every time). A hoisted frame
  * may be freed as soon as nothing lazy still reads it: every round that
  * reads it, the last one included, has been checkpointed, and the
  * returned frame reads only those checkpoints.
  */
object Rounds {

  /** Release the storage behind a localCheckpoint'ed frame
    * (`Dataset.unpersist` does not reach it — the persisted RDD sits
    * behind the LogicalRDD leaf). No-op on frames without one. */
  def free(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    }

  /** Run `body` over `invariant` materialized once (eager
    * localCheckpoint), and free that storage when `body` returns or
    * throws. `body`'s result must not read the hoisted frame lazily (see
    * the hoist rule above): a plan over freed checkpoint blocks fails on
    * its first action. */
  def hoisted[A](invariant: DataFrame)(body: DataFrame => A): A = {
    val h = invariant.localCheckpoint(true)
    try body(h) finally free(h)
  }

  /** Run `rounds` iterations of `body` over `initial`, materializing each
    * round eagerly and freeing the superseded one. Only frames created
    * HERE are freed — the caller's `initial` (which may itself be backed
    * by persisted storage) is never touched.
    *
    * `checkpointLast = false` leaves the FINAL round lazy (its plan is one
    * round body over the round-(n−1) checkpoint — constant-size): callers
    * that consume the result exactly once (the rank recursions' final
    * select) skip one eager materialization that way, and the last round's
    * plan shape stays visible to PlanShapeSpec. Callers that reference the
    * result more than once (LPA's size-attach join) keep the default. */
  def iterate(initial: DataFrame, rounds: Int, checkpointLast: Boolean = true)(
      body: DataFrame => DataFrame): DataFrame = {
    var state = initial
    var own: Option[DataFrame] = None
    for (r <- 1 to rounds) {
      val next =
        if (r == rounds && !checkpointLast) body(state)
        else body(state).localCheckpoint(true)
      // The superseded round stays persisted until the NEXT round is built
      // from it; the round backing a lazy final plan is never freed here.
      if (r < rounds || checkpointLast) { own.foreach(free); own = Some(next) }
      state = next
    }
    state
  }
}
