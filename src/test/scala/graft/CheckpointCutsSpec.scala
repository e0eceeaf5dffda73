package graft

import org.scalatest.funsuite.AnyFunSuite

/** An eager `localCheckpoint` runs a job while its query is still being
  * built, and its blocks live in one executor only. It stays in the
  * program at two kinds of site: the lineage truncation of the iterative
  * loops, and the query cuts that beat both no cut and a repartition in an
  * A/B that the site's comment cites (CHANGES.md). */
class CheckpointCutsSpec extends AnyFunSuite with LocalSpark {

  private val sf = s"${sys.props("user.home")}/testdata/sf0.001"

  /** `file:member` → number of `localCheckpoint` calls there. */
  private val allowed = Map(
    "graft/batch/Bpe.scala:train" -> 2,
    "graft/batch/Components.scala:minLabelFixpoint" -> 3,
    "graft/queries/Breadth.scala:x129" -> 1,
    "graft/queries/Dataflow.scala:x153s" -> 1,
    "graft/queries/Dataflow.scala:x182" -> 3,
    "graft/queries/Dataflow.scala:x256" -> 1,
    "graft/queries/TextOps.scala:x31" -> 1,
    "graft/queries/TextOps.scala:x106" -> 1,
    "graft/queries/TextOps.scala:x114" -> 1,
    "graft/queries/TextOps.scala:x130" -> 1,
    "graft/queries/TextOps.scala:x166" -> 1,
    "graft/queries/TextOps.scala:x174" -> 2,
    "graft/queries/TextOps.scala:x175" -> 2,
    "graft/queries/TextOps.scala:x207" -> 6,
    "graft/queries/TextOps.scala:x226" -> 1)

  test("localCheckpoint appears in src/main/scala only at the allowed sites") {
    val hits = SourceScan.callSites("\\blocalCheckpoint\\(".r)
      .groupBy(identity).map { case (site, n) => site -> n.size }
    assert(hits == allowed)
  }

  test("building a query whose cuts were all retired runs no job") {
    Seq("x59_editdist_verify").foreach { q =>
      val build = () => SparkEntry.queries(q)(spark, sf)
      build() // a table's first read in a session may infer its schema
      assert(LocalSpark.jobsDuring(spark)(build()) == 0, q)
    }
  }
}
