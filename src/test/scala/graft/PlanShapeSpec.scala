package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{DQ, Documents, Relational, TextOps}

/** Physical-plan shape assertions for the declared queries whose 100 TB
  * viability rests on a specific plan property (SCALE.md): argmax rewrites
  * must not re-introduce window sorts, banded similarity joins must never
  * fall back to nested loops, tiny sides must broadcast, and per-row
  * pipelines must stay shuffle-free. Data: the sf0.001 fixtures (plan
  * shapes, not results — results are the oracle gate's job).
  */
class PlanShapeSpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  private def plan(dq: DQ): String =
    dq.run(spark, sf).queryExecution.executedPlan.toString

  test("argmax queries plan as partial-merging aggregates, not window sorts") {
    for (dq <- Seq(Documents.q06, Documents.q07, Relational.q15a, Relational.x34,
        TextOps.x23)) {
      val p = plan(dq)
      assert(!p.contains("Window"), s"${dq.name} re-introduced a window:\n$p")
      // HashAggregate where the buffer is fixed-width; struct-keyed max_by
      // falls to SortAggregate — either way the partial_ stage must combine
      // before the exchange (the property that makes the shape scale).
      assert(p.contains("Aggregate") && p.contains("partial_"),
        s"${dq.name} lost its map-side partial aggregate:\n$p")
    }
  }

  test("banded similarity joins never plan a nested loop or cartesian product") {
    for (dq <- Seq(TextOps.x02, TextOps.x31, TextOps.x43)) {
      val p = plan(dq)
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"${dq.name} degenerated to an all-pairs plan:\n$p")
    }
  }

  test("broadcast-designed joins actually broadcast the small side") {
    // q13: all dimension joins; x32: the top-K vocab; x31: the degree map-back
    for (dq <- Seq(Relational.q13, TextOps.x32, TextOps.x31)) {
      val p = plan(dq)
      assert(p.contains("BroadcastHashJoin"),
        s"${dq.name} lost its broadcast join:\n$p")
    }
  }

  test("in-row repetition stats stay shuffle-free up to the output sort") {
    val p = plan(TextOps.x30)
    assert(!p.contains("hashpartitioning"),
      s"x30 should have no aggregation/join exchange (only the final range sort):\n$p")
  }

  test("star-join filter pushes down to the lineitem scan") {
    val p = plan(Relational.q13)
    assert(p.contains("PushedFilters: [") && p.contains("l_discount"),
      s"q13 lost predicate pushdown:\n$p")
  }

  test("bloom decontamination: prefilter sits before the broadcast verify join") {
    val p = plan(TextOps.x39)
    assert(p.contains("BroadcastHashJoin"),
      s"x39 exact-verify join must broadcast the benchmark set:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x39 must not shuffle the corpus for the verify join:\n$p")
  }

  test("split/diversity aggregations keep map-side partials, no windows") {
    for (dq <- Seq(TextOps.x40, TextOps.x42)) {
      val p = plan(dq)
      assert(!p.contains("Window"), s"${dq.name} planned a window:\n$p")
      assert(p.contains("partial_"),
        s"${dq.name} lost its map-side partial aggregate:\n$p")
    }
  }

  test("x48 int8 quantization is shuffle-free up to the output sort") {
    val p = plan(graft.queries.Similarity.x48)
    assert(!p.contains("hashpartitioning"),
      s"x48 should compute fully in-row (only the final range sort):\n$p")
  }

  test("x47/x49 broadcast their tiny quota/edge tables, never sort the corpus") {
    for (dq <- Seq(TextOps.x47, TextOps.x49)) {
      val p = plan(dq)
      assert(p.contains("BroadcastHashJoin"),
        s"${dq.name} lost its broadcast join:\n$p")
    }
    // x49 is the no-global-sort replacement for x41's ntile: the only Window
    // allowed anywhere is... none.
    assert(!plan(TextOps.x49).contains("Window"),
      "x49 must assign bins by broadcast edges, not a window rank")
  }

  test("x55 norm-dedup: one digest window, no self-join") {
    val p = plan(TextOps.x55)
    assert(!p.contains("Join"), s"x55 must not join the corpus to itself:\n$p")
    assert(p.contains("Window"), s"x55 lost its per-sig window:\n$p")
    // exactly one hash exchange (the sig partition); the rest is the
    // round-robin spread + final range sort
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1, s"x55 expected exactly 1 hash exchange, got $hashEx:\n$p")
  }

  test("x56/x58 aggregate with map-side partials, no windows") {
    for (dq <- Seq(Relational.x56, Relational.x58)) {
      val p = plan(dq)
      assert(!p.contains("Window"), s"${dq.name} planned a window:\n$p")
      assert(p.contains("partial_"),
        s"${dq.name} lost its map-side partial aggregate:\n$p")
    }
  }

  test("x63 k-means step: centroids broadcast, no dim explode, two hash aggs") {
    val p = plan(graft.queries.Similarity.x63)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"x63 must broadcast the centroid table:\n$p")
    assert(!p.contains("Generate"),
      s"x63 must compute distances in-row, not via posexplode:\n$p")
  }

  test("x65 gap fill: calendar broadcast, facts aggregated before the grid join") {
    val p = plan(Relational.x65)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"x65 must broadcast the calendar/grid side:\n$p")
    assert(p.contains("Window"), s"x65 lost its forward-fill window:\n$p")
  }

  test("x57 navigation windows share one exchange and one in-partition sort") {
    val p = plan(Relational.x57)
    val hashEx = "hashpartitioning".r.findAllIn(p).length
    assert(hashEx == 1,
      s"x57's two window specs must share the custkey exchange, got $hashEx:\n$p")
    // both specs order by (o_orderdate, o_orderkey): the planner must not
    // stack a second sort between the Window operators
    val sorts = "\\bSort \\[".r.findAllIn(p).length
    assert(sorts <= 2, s"x57 expected at most window sort + output sort:\n$p")
  }

  test("x24 audit: estimates broadcast back, no distinct-expand, no SMJ") {
    val p = plan(Relational.x24)
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2,
      s"x24 must broadcast both the 3-row estimate and exact-distinct tables:\n$p")
    assert(!p.contains("Expand"),
      s"x24's exact distinct must be the two-level agg, not distinct-expand:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x24 must never shuffle lineitem for its tiny joins:\n$p")
  }

  test("x101 top-k runs as ObjectHashAggregate with a partial before the exchange") {
    val p = plan(graft.queries.Breadth.x101)
    assert(p.contains("ObjectHashAggregate"),
      s"x101 must use the TypedImperativeAggregate path:\n$p")
    assert(p.contains("partial_topk_rows"),
      s"x101 lost its map-side partial (hot groups must reduce to k before the wire):\n$p")
    assert(!p.contains("Window"), s"x101 must not fall back to a window sort:\n$p")
  }

  test("media header decode queries stay shuffle-free up to the output sort") {
    for (dq <- Seq(graft.queries.Dataflow.x102, graft.queries.Dataflow.x103,
        graft.queries.Dataflow.x104)) {
      val p = plan(dq)
      assert(!p.contains("hashpartitioning"),
        s"${dq.name} should be spread + in-row parse + range sort only:\n$p")
      assert(!p.contains("Join"), s"${dq.name} must not join:\n$p")
    }
    // and the parse itself is the native expression, not a UDF
    assert(plan(graft.queries.Dataflow.x102).contains("image_header"))
    assert(plan(graft.queries.Dataflow.x103).contains("audio_header"))
    assert(plan(graft.queries.Dataflow.x104).contains("video_header"))
    // body decode queries hold the same shape: spread + native expression
    for (dq <- Seq(graft.queries.Dataflow.x107, graft.queries.Dataflow.x108)) {
      val p = plan(dq)
      assert(!p.contains("hashpartitioning"),
        s"${dq.name} should be spread + in-row decode + range sort only:\n$p")
      assert(!p.contains("Join"), s"${dq.name} must not join:\n$p")
    }
    assert(plan(graft.queries.Dataflow.x107).contains("bmp_pixels"))
    assert(plan(graft.queries.Dataflow.x108).contains("pcm_stats"))
  }

  test("media body-decode and codec-config queries: spread + native " +
      "expression only") {
    for ((dq, fn) <- Seq(
        (graft.queries.Dataflow.x123, "png_pixels"),
        (graft.queries.Dataflow.x125, "gif_pixels"),
        (graft.queries.Dataflow.x126, "jpeg_pixels"),
        (graft.queries.Dataflow.x127, "jpeg_pixels"),
        (graft.queries.Dataflow.x133, "video_tracks"),
        (graft.queries.Dataflow.x134, "jpeg_pixels"),
        (graft.queries.Dataflow.x135, "video_samples"),
        (graft.queries.Dataflow.x136, "h264_meta"),
        (graft.queries.Dataflow.x137, "hevc_meta"),
        (graft.queries.Dataflow.x138, "av1_meta"))) {
      val p = plan(dq)
      assert(!p.contains("hashpartitioning"),
        s"${dq.name} should be spread + in-row decode + range sort only:\n$p")
      assert(!p.contains("Join"), s"${dq.name} must not join:\n$p")
      assert(p.contains(fn), s"${dq.name} must decode via the native $fn:\n$p")
    }
  }

  test("x119 JL projection is pure map work — zero Exchange of any kind " +
      "before the output sort") {
    val p = plan(graft.queries.Similarity.x119)
    // the sign matrix enters as literals; the only exchanges allowed are
    // the spread round-robin and the final range sort
    assert(!p.contains("hashpartitioning"),
      s"x119 must not hash-exchange anything:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"x119 must not join or window:\n$p")
  }

  test("x121 within-doc scrub is in-row: no join, no window, no hash exchange") {
    val p = plan(graft.queries.TextOps.x121)
    assert(!p.contains("hashpartitioning"), s"x121 must stay in-row:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"x121 must not join or window:\n$p")
  }

  test("x113/x114 global orderings route through the two-pass rank (no " +
      "single-partition window over the corpus)") {
    for (dq <- Seq(TextOps.x113, TextOps.x114)) {
      val p = plan(dq)
      // globalRank's within-partition window keys on the partition id;
      // an empty-partition-spec window over the data would print as
      // 'Window [...]' with no partition column and a SinglePartition
      // exchange directly below a full scan — assert the cheap proxy:
      // every SinglePartition exchange feeds from the ≤32-row offsets
      // aggregate (sum of counts), never a corpus-wide subtree
      val lines = p.linesIterator.toSeq
      val single = lines.count(_.contains("Exchange SinglePartition"))
      assert(p.contains("_gr_pid") || single == 0,
        s"${dq.name} lost the two-pass rank shape:\n$p")
    }
  }

  test("x116 packing layout range-partitions by doc_id (distributed prefix " +
      "sum), never a global-order window over the corpus") {
    val p = plan(TextOps.x116)
    assert(p.contains("rangepartitioning"),
      s"x116 must range-partition for the prefix-sum pass:\n$p")
    assert(p.contains("_cs_pid"),
      s"x116 must carry the partition-id cumsum shape:\n$p")
  }

  test("x120 BPE apply broadcasts the merge table; encode folds in-row") {
    val p = plan(TextOps.x120)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"x120 must broadcast the 1-row merge array:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"x120 must not shuffle-join the corpus against merges:\n$p")
  }

  test("x12 ships the near-dup ROUTER: exact arm budget-gated, LSH arm in-plan") {
    // the declared x12 must be the scale-safe plan, not the bare all-pairs
    // join: a Union of (a) the exact within-label arm filtered to
    // under-budget blocks and (b) the banded sign-LSH arm for oversized
    // blocks. On the fixture arm (b) is empty at runtime, but it must be IN
    // the plan — that is what makes the declared surface safe to point at a
    // coarse-labeled 100 TB corpus.
    val p = plan(graft.queries.Similarity.x12)
    assert(p.contains("Union"), s"x12 must union the exact and LSH arms:\n$p")
    // Catalyst inlines the router's boolean flag into per-label count
    // filters against the default budget (1<<22): `<= budget` gates the
    // exact arm's label set, `> budget` the LSH arm's
    assert(p.contains("<= 4194304.0"),
      s"x12's exact arm must see only under-budget label blocks:\n$p")
    assert(p.contains("> 4194304.0"),
      s"x12's LSH arm must see only over-budget label blocks:\n$p")
    // the LSH arm bands via explode (Generate) and dedups multi-band hits
    assert(p.contains("Generate"),
      s"x12's LSH arm must band-explode signatures:\n$p")
  }

  test("x105 seed selection is a parallel top-k, not a global window") {
    // regression for the last single-partition stage any declared query
    // had: seeds must come from orderBy+limit (TakeOrderedAndProject —
    // every partition keeps K rows, driver merges K·P) so the full
    // embeddings table never funnels through one task
    val p = plan(graft.queries.Similarity.x105)
    assert(p.contains("TakeOrderedAndProject"),
      s"x105 seeds must plan as a parallel partial top-k:\n$p")
    // any window left in the plan may only run AFTER the limit(8): its
    // input must be the 8-row seed pool, never a full-table scan feeding
    // a single partition
    val windowIdx = p.indexOf("Window")
    if (windowIdx >= 0) {
      assert(p.indexOf("TakeOrderedAndProject") >= 0 &&
        p.substring(windowIdx).contains("TakeOrderedAndProject"),
        s"a Window in x105 must sit above the 8-row limit, not the corpus:\n$p")
    }
  }
}
