package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.InvertedIndex

/** The serving-scale posture of the stored inverted index (the round-10
  * flag): BM25 over an [[InvertedIndex.appendBatch]]-maintained directory
  * must read ONLY query-term posting chunks (the `tok IN` predicate pushed
  * into the parquet scan) plus the O(#docs) doc-stats segment — never a
  * full posting-store rescan for document lengths. Asserted structurally
  * on the physical plan: every FileScan over the posting family carries
  * the pushed In(tok,…) filter, and the length side reads `_stats`. */
class IndexServingPlanSpec extends AnyFunSuite with LocalSpark {

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the dog barks at the quick fox"),
    (3L, "pack my box with five dozen liquor jugs"),
    (4L, "sphinx of black quartz judge my vow"),
    (5L, "the five boxing wizards jump quickly"),
    (6L, "a quick movement of the enemy will jeopardize six gunboats"))

  private def buildIndex(withStats: Boolean): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("idx_plan").toFile.getAbsolutePath
    for (b <- 0 until 2) {
      val wave = docs.filter(_._1 % 2 == b).toDF("doc_id", "text")
      if (withStats) InvertedIndex.appendBatch(dir)(wave, b.toLong)
      else // posting segments only, no _stats family
        graft.streaming.IdempotentParquetSink.writeBatch(dir)(
          InvertedIndex.segment(wave), b.toLong)
    }
    dir
  }

  test("served BM25 scans only query-term chunks + the stats segment") {
    val dir = buildIndex(withStats = true)
    val served = InvertedIndex.bm25(spark, dir, Seq("quick", "dog"), 3)
    val plan = served.queryExecution.executedPlan.toString

    val scanLines = plan.linesIterator
      .filter(_.contains("FileScan parquet")).toSeq
    assert(scanLines.nonEmpty, s"no parquet scans in plan:\n$plan")
    val (statsScans, postingScans) = scanLines.partition(_.contains("_stats"))
    assert(statsScans.nonEmpty,
      s"doc lengths did not come from the _stats segment:\n$plan")
    assert(postingScans.nonEmpty, s"no posting scan found:\n$plan")
    // THE scale property: every scan over the posting family carries the
    // query-term predicate pushed to the reader — a stats-less length
    // recompute would appear here as an unfiltered posting scan
    for (s <- postingScans)
      assert(s.contains("In(tok"),
        s"posting scan without the pushed query-term filter:\n$s")

    // and the numbers it serves are the ad-hoc formula's
    import spark.implicits._
    val adhoc = InvertedIndex.bm25From(
      InvertedIndex.segment(docs.toDF("doc_id", "text")), Seq("quick", "dog"), 3)
      .orderBy("term", "doc_id").collect().map(_.toString).toSeq
    val got = served.orderBy("term", "doc_id")
      .collect().map(_.toString).toSeq
    assert(got == adhoc, "served BM25 != ad-hoc BM25")
  }

  test("compaction keeps the stats-backed serving plan and the results") {
    val dir = buildIndex(withStats = true)
    val before = InvertedIndex.bm25(spark, dir, Seq("five", "quartz"), 4)
      .orderBy("term", "doc_id").collect().map(_.toString).toSeq
    InvertedIndex.compact(spark, dir)
    val after = InvertedIndex.bm25(spark, dir, Seq("five", "quartz"), 4)
    val plan = after.queryExecution.executedPlan.toString
    assert(plan.contains("_stats"), "compaction dropped the stats family")
    for (s <- plan.linesIterator.filter(l =>
        l.contains("FileScan parquet") && !l.contains("_stats")))
      assert(s.contains("In(tok"), s"post-compact posting scan unfiltered:\n$s")
    assert(after.orderBy("term", "doc_id").collect().map(_.toString).toSeq
      == before, "compaction changed served BM25")
  }

  test("an index directory without the _stats family is refused, naming it") {
    val dir = buildIndex(withStats = false)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.bm25(spark, dir, Seq("quick", "dog"), 3)
    }
    assert(e.getMessage.contains(InvertedIndex.statsDir(dir)), e.getMessage)
  }
}
