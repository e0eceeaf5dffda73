package graft.batch

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the transitive
  * closure a dedup pass needs when near-dup clusters chain through shared
  * LSH buckets (A~B, B~C, but A and C never share a bucket). One round of
  * bucket-min labeling (x27) under-merges chains; this iterates to fixpoint.
  *
  * Scale posture: the standard large-graph CC loop — each iteration is one
  * edge⋈label join plus one min-aggregation (both hash-partitioned,
  * map-side combining), state is one (node, label) row per node, and
  * convergence needs at most graph-diameter rounds (LSH bucket graphs are
  * star-shaped, so diameter stays small). The driver only orchestrates
  * plans and reads the converged count — no row data ever leaves executors.
  * Each round materializes via localCheckpoint so the lineage (and thus
  * task size) stays constant instead of growing per iteration; the
  * superseded round is released once its successor has materialized.
  */
object Components {

  /** Frees the blocks of a `localCheckpoint`ed frame. `Dataset.unpersist`
    * only drops cache-manager entries, and a local checkpoint is an RDD
    * persisted outside it. */
  private[batch] def release(cut: Dataset[_]): Unit =
    cut.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** `nodes`: one column `id`. `edges`: columns `src`, `dst` (directed; pass
    * both directions for undirected closure). Returns `(id, rep)` where
    * `rep` is the minimum node id reachable through the closure.
    *
    * Per-iteration shape (the round-15 rewrite — same fixpoint, fewer
    * and cheaper rounds): neighbor messages min-combine per node BEFORE
    * touching the label table (map-side combine), the self-label rides a
    * single left join instead of a union re-shuffle of all labels, the
    * converged-check reads the SAME checkpointed join output (old label
    * carried as a column) instead of running a second label⋈label join,
    * and each round ends with a POINTER JUMP (rep ← min(rep, rep[rep]) —
    * the path-doubling step of the classic PRAM CC algorithms): labels
    * now chase chains at two hops per round, so a diameter-D bucket
    * graph converges in O(log D) rounds instead of D. Valid because the
    * callers pass both edge directions: rep[i] is always a node
    * CONNECTED to i, hence rep[rep[i]] is connected too, and labels only
    * ever decrease toward the component minimum — the fixpoint is
    * unchanged (measured round 15: x153s's loop fell from ~45 rounds /
    * 183 stages to single digits).
    */
  def minLabelFixpoint(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the edge list once — its lineage (e.g. a full LSH
    // signature pipeline) must not be recomputed every round. Join
    // strategy inside the loop stays Catalyst/AQE's pick: while the label
    // table fits the broadcast threshold (always, locally) each round is
    // broadcast-join + one aggregation exchange; at cluster scale the
    // same code degrades to the standard shuffled CC loop.
    val e = edges.localCheckpoint()
    var labels = nodes.select(col("id"), col("id").as("rep")).localCheckpoint()
    // FRONTIER (round 16, guide §2.3/§2.4): only nodes whose label CHANGED
    // last round need to re-announce — a neighbor already folded every
    // earlier announcement into its own label via least(old, …), and
    // labels only ever decrease, so a message from an unchanged node can
    // never beat what its neighbors already hold. Round 1 announces from
    // every node (frontier = all labels); after that the message join's
    // input shrinks monotonically with the frontier while the fixpoint —
    // and hence the declared result — is unchanged (ComponentsSpec's
    // brute-force union-find arm pins it). The pointer jump still reads
    // the FULL label table: jumps chase reps of stable nodes too.
    var frontier = labels
    var changed = 1L
    var iter = 0
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    // One propagate+jump per materialized round. (Chaining k lazy
    // advances per checkpoint was measured in round 15 as a 30× wall-time
    // blowup at k = 3: each advance references its input four times, so
    // the un-checkpointed plan grows 4^k-fold. Round 16 re-tested the
    // cheaper-looking variant — 3 chained PURE jump joins whose right
    // side is the already-checkpointed labels table — and it was worse
    // still: >15 min vs ~4.6 s steady for x153s, the left subtree still
    // multiplying through every jump during analysis/planning.)
    while (changed > 0 && iter < maxIter) {
      // neighbor messages from the frontier only, min-combined per node
      // (map-side combine); the self-label rides the join below instead
      // of a union, so the labels table itself is never re-shuffled
      val m = e.join(frontier, e("dst") === frontier("id"))
        .groupBy(e("src").as("id")).agg(min("rep").as("mrep"))
      val one = labels.withColumnRenamed("rep", "old")
        .join(m, Seq("id"), "left_outer")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("mrep"), col("old"))).as("rep"))
      // pointer jump: follow the (pre-round) label of this round's rep —
      // rep is connected to id, so rep's connected minimum is id's too
      val jump = labels
        .select(col("id").as("jid"), col("rep").as("jrep"))
      val step = one
        .join(jump, one("rep") === jump("jid"), "left_outer")
        .select(col("id"), col("old"),
          least(col("rep"), coalesce(col("jrep"), col("rep"))).as("rep"))
        .localCheckpoint()
      // the convergence count reads the materialized step rows — no
      // recompute, no extra join; the same materialized rows serve as the
      // next round's frontier (changed rows only). (A LAZY checkpoint
      // folding materialization into the count — one job per round
      // instead of two — was measured SLOWER here: x37 1.4→1.9 s, x153s
      // ~4.6→~5.0 s steady-state; the count-with-filter job over the
      // unmaterialized plan schedules its broadcast/AQE stages less
      // favorably than the plain eager materialization + block-read
      // count.)
      val delta = step.filter(col("rep") < col("old"))
      changed = delta.count()
      frontier = delta.select("id", "rep")
      release(labels)
      labels = step.select("id", "rep")
      iter += 1
    }
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      System.err.println(s"[cc] minLabelFixpoint converged after $iter rounds")
    if (changed > 0)
      // Surface non-convergence instead of letting it appear downstream as
      // a silent result divergence (graph diameter > maxIter).
      log.warn(s"minLabelFixpoint did NOT converge after $maxIter iterations " +
        s"($changed labels still changing); results are partial — raise maxIter")
    labels
  }
}
