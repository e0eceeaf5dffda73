package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.InvertedIndex

/** The posting-array cap under maximum skew: a stopword-like term that
  * appears in EVERY document. No stored row — segment or compacted — may
  * carry more than `cap` postings (the round-9 verdict's 100 TB
  * weakness: one O(corpus) array cell is a task OOM and a one-task
  * straggler), and chunking must be invisible to every read shape: the
  * merged serving index, the flat posting view, and the per-term stats
  * all equal the unchunked build. */
class InvertedIndexChunkSpec extends AnyFunSuite with LocalSpark {

  // "common" appears in all 50 docs; each "z??" in exactly one; "w?" in
  // ~7 — tokens are letter-only because the tokenizer splits on [^a-z]+
  private def docs = {
    import spark.implicits._
    def rare(i: Long) =
      s"z${('a' + i / 26).toChar}${('a' + i % 26).toChar}"
    (1L to 50L).map(i =>
        (i, s"common ${rare(i)} common w${('a' + i % 7).toChar}"))
      .toDF("doc_id", "text")
  }

  private val Cap = 8

  test("no segment row exceeds the cap under a term-in-every-doc skew") {
    val seg = InvertedIndex.segment(docs, Cap)
    val maxRow = seg.agg(max(size(col("postings")))).first().getInt(0)
    assert(maxRow <= Cap, s"a segment row carries $maxRow postings")
    // the hot term really did shard: ceil(50/8) = 7 chunk rows
    val hot = seg.where(col("tok") === "common")
    assert(hot.count() == 7)
    // chunk-local df sums back to the true document frequency
    assert(hot.agg(sum("df")).first().getLong(0) == 50L)
  }

  test("chunking is invisible to merge/serving/postings/termStats") {
    val chunked = InvertedIndex.segment(docs, Cap)
    val whole = InvertedIndex.segment(docs, Int.MaxValue)
    def served(df: org.apache.spark.sql.DataFrame): Seq[String] =
      InvertedIndex.serving(InvertedIndex.merge(df))
        .orderBy("tok").collect().map(_.toString).toSeq
    assert(served(chunked) == served(whole))
    val flatC = InvertedIndex.postings(chunked)
      .orderBy("tok", "doc_id").collect().map(_.toString).toSeq
    val flatW = InvertedIndex.postings(whole)
      .orderBy("tok", "doc_id").collect().map(_.toString).toSeq
    assert(flatC == flatW)
    val statsC = InvertedIndex.termStats(chunked)
      .orderBy("tok").collect().map(_.toString).toSeq
    val statsW = InvertedIndex.termStats(whole)
      .orderBy("tok").collect().map(_.toString).toSeq
    assert(statsC == statsW)
  }

  test("chunking straddles a doc_id range boundary without reordering") {
    import spark.implicits._
    // one hot term across docs on BOTH sides of the 2^30 range pre-split:
    // the per-(term, range) window must keep global doc order through the
    // range-major chunk ids, and the cap must hold inside each range
    val ids = (InvertedIndex.RangeWidth - 3 to InvertedIndex.RangeWidth + 3)
    val docs = ids.map(i => (i, "hot")).toDF("doc_id", "text")
    val seg = InvertedIndex.segment(docs, cap = 2)
    val hot = seg.where(col("tok") === "hot")
    assert(hot.agg(max(size(col("postings")))).first().getInt(0) <= 2)
    assert(hot.agg(sum("df")).first().getLong(0) == ids.length)
    // merged serving output is globally doc-ordered despite the split
    val served = InvertedIndex.serving(InvertedIndex.merge(seg))
      .where(col("tok") === "hot").select("postings").first().getString(0)
    assert(served == ids.map(i => s"$i:1").mkString(","))
    // flat view too (the BM25 consumption path)
    val flat = InvertedIndex.postings(seg).orderBy("doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(flat == ids.toSeq)
  }

  test("bm25 from the stored index == in-memory, before and after compaction") {
    import spark.implicits._
    val base = Files.createTempDirectory("inv_bm25").toFile
    val indexDir = new java.io.File(base, "index").getAbsolutePath
    (0 until 3).foreach { b =>
      InvertedIndex.appendBatch(indexDir)(
        docs.where(col("doc_id") % 3 === b), b.toLong)
    }
    val terms = Seq("common", "wb", "zaa")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("term", "doc_id").collect().map(_.toString).toSeq
    val inMem = rows(InvertedIndex.bm25From(
      InvertedIndex.segment(docs, Cap), terms, 5))
    assert(inMem.nonEmpty)
    val served = rows(InvertedIndex.bm25(spark, indexDir, terms, 5))
    assert(served == inMem, "stored-index BM25 differs from in-memory")
    InvertedIndex.compact(spark, indexDir, Cap)
    val servedCompact = rows(InvertedIndex.bm25(spark, indexDir, terms, 5))
    assert(servedCompact == inMem, "compaction changed BM25 serving")
  }

  test("compaction re-chunks at the cap instead of rebuilding one row") {
    import spark.implicits._
    val base = Files.createTempDirectory("inv_chunk").toFile
    val indexDir = new java.io.File(base, "index").getAbsolutePath
    // land three skewed segments (all contain the hot term)
    (0 until 3).foreach { b =>
      InvertedIndex.appendBatch(indexDir)(
        docs.where(col("doc_id") % 3 === b), b.toLong)
    }
    val servedBefore = InvertedIndex.read(spark, indexDir)
      .orderBy("tok").collect().map(_.toString).toSeq
    val before = spark.read.parquet(indexDir).count()
    assert(InvertedIndex.compact(spark, indexDir, Cap) == ((3, 1)))
    val stored = spark.read.parquet(indexDir)
    val after = stored.count()
    assert(after < before, s"compact did not fold ($before -> $after)")
    assert(stored.select("batch_id").distinct().count() == 1)
    val maxRow = stored.agg(max(size(col("postings")))).first().getInt(0)
    assert(maxRow <= Cap, s"a compacted row carries $maxRow postings")
    assert(stored.where(col("tok") === "common").count() == 7)
    val servedAfter = InvertedIndex.read(spark, indexDir)
      .orderBy("tok").collect().map(_.toString).toSeq
    assert(servedAfter == servedBefore, "compaction changed the index")
  }
}
