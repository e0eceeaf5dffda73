package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Similarity

/** ANN quality gates: the approximate paths (x04 IVF, x29 LSH-bucketed)
  * must actually find the true neighbors the brute-force baseline (q26)
  * returns — an approximate operator with silent zero recall would still
  * pass its own oracle (the oracle replicates the approximation). Fixture
  * is deterministic, so recall here is a fixed number; the floors pin it
  * against regression. */
class AnnQualitySpec extends AnyFunSuite with LocalSpark {

  private val sf = "/root/testdata/sf0.001"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSeq

  // the query vector (vec_id=1) is trivially in its own list/bucket and in
  // the exact top-k at sim 1.0 — counting it would gift every gate one free
  // recall slot, so both sides measure NON-SELF neighbors only
  private def nonSelf(xs: Seq[Long], k: Int): Seq[Long] =
    xs.filter(_ != 1L).take(k)

  test("IVF ANN (x04) recalls the exact non-self top-4 within its searched list") {
    val exact = nonSelf(ids(Similarity.q26.run(spark, sf)), 4)
    val approx = nonSelf(ids(Similarity.x04.run(spark, sf)), 4)
    val recall = approx.count(exact.contains).toDouble / 4.0
    info(s"IVF non-self recall@4 = $recall (approx=$approx exact=$exact)")
    assert(recall >= 0.75, s"IVF recall@4 regressed: $recall")
  }

  test("LSH ANN (x29) recalls the exact non-self top-3") {
    val exact = nonSelf(ids(Similarity.q26.run(spark, sf)), 3)
    val approx = nonSelf(ids(Similarity.x29.run(spark, sf)), 4)
    val recall = exact.count(approx.contains).toDouble / 3.0
    info(s"LSH non-self recall@3 = $recall (approx=$approx exact=$exact)")
    // radius-2 multi-probe finds the neighbors to Hamming 2; the one miss
    // on this fixture sits at Hamming 4 of the 8-bit signature
    assert(recall >= 0.6, s"LSH recall@3 regressed: $recall")
  }

  test("x12 fixture blocks fit the router's default pair budget") {
    // x12's declared form is within-label all-pairs — quadratic in the
    // largest block. This pins the precondition that makes the declared
    // form safe on the driver tables: every label block's n·(n−1)/2 sits
    // far below nearDupPairsRouted's default budget, so nothing here
    // silently depends on an unbounded join
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val emb = graft.queries.Core.table(spark, sf, "embeddings")
    val maxPairs = emb.groupBy("label").count()
      .select((col("count") * (col("count") - 1) / 2).cast("long").as("p"))
      .agg(org.apache.spark.sql.functions.max("p")).as[Long].head()
    info(s"largest label block pair count = $maxPairs")
    assert(maxPairs > 0 && maxPairs <= (1L << 22),
      s"fixture block exceeds the documented pair budget: $maxPairs")
  }

  test("near-dup router: exact parity under budget, precision-1 subset over") {
    import spark.implicits._
    val emb = graft.queries.Core.table(spark, sf, "embeddings")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.select("v1", "v2", "sim").as[(Long, Long, Double)].collect().toSet
    val exact = pairs(Similarity.x12.run(spark, sf))
    // budget large enough for every block -> byte-identical to x12
    val routedAll = pairs(Similarity.nearDupPairsRouted(emb))
    assert(routedAll == exact, "under-budget routing must equal the exact path")
    // budget 0 forces EVERY label through LSH-bucket + exact verify:
    // every surviving pair is exactly scored (subset = precision 1.0)
    val routedLsh = pairs(Similarity.nearDupPairsRouted(emb, pairBudget = 0L))
    assert(routedLsh.subsetOf(exact),
      s"LSH-routed pairs must be a subset of exact: ${routedLsh -- exact}")
    val recall = if (exact.isEmpty) 1.0 else routedLsh.size.toDouble / exact.size
    info(s"forced-LSH recall = $recall (${routedLsh.size}/${exact.size})")
    assert(recall >= 0.3, s"bucket recall collapsed: $recall")
  }

  test("in-row nearest-centroid assignment (x110) matches brute force at any centroid order") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dim = 16
    val vecs = (0L until 200L).map(i => (i, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val cents = (0L until 7L).map(c => (c, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
    val emb = vecs.toDF("vec_id", "embedding")
    // two centroid orders (sorted and reversed) must assign identically:
    // the fold's (dist2, cid) tie-break makes collect_list order irrelevant
    val assignedA = Similarity.assignNearestCentroid(emb,
        cents.toDF("cid", "cv"))
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val assignedB = Similarity.assignNearestCentroid(emb,
        cents.reverse.toDF("cid", "cv").repartition(3))
      .select("vec_id", "cid").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = vecs.map { case (i, v) =>
      i -> cents.map { case (c, cv) =>
        val d2 = v.zip(cv).map { case (x, y) =>
          (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
        (d2, c)
      }.min._2
    }.toMap
    assert(assignedA === brute)
    assert(assignedB === brute)
  }
}
