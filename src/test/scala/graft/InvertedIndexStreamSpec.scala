package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.InvertedIndex

/** Incremental inverted-index maintenance: documents arriving over N
  * micro-batches build segment-by-segment, and the merged read equals the
  * one-shot batch build on the union — plus the operational properties:
  * a resumed query picks up only new arrivals, a replayed batch does not
  * double count (IdempotentParquetSink overwrite), and posting-level
  * compaction folds segments without changing the served index. */
class InvertedIndexStreamSpec extends AnyFunSuite with LocalSpark {

  private def doc(id: Long, text: String) = (id, text)

  private val wave1 = Seq(
    doc(1, "the quick brown fox jumps over the lazy dog"),
    doc(2, "the dog barks at the quick fox"),
    doc(3, "pack my box with five dozen liquor jugs"),
    doc(4, "sphinx of black quartz judge my vow"),
    doc(5, "the five boxing wizards jump quickly"),
    doc(6, "a quick movement of the enemy will jeopardize six gunboats"))
  private val wave2 = Seq(
    doc(7, "the fox and the dog became friends"),
    doc(8, "quartz and liquor do not mix quickly"))

  private def appendWave(dir: String, docs: Seq[(Long, String)],
      nFiles: Int): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").repartition(nFiles)
      .write.mode("append").parquet(dir)
  }

  private def batchBuild(docs: Seq[(Long, String)]): Seq[String] = {
    import spark.implicits._
    InvertedIndex.serving(
      InvertedIndex.merge(InvertedIndex.segment(docs.toDF("doc_id", "text"))))
      .orderBy("tok").collect().map(_.toString).toSeq
  }

  private def readIndex(indexDir: String): Seq[String] =
    InvertedIndex.read(spark, indexDir)
      .orderBy("tok").collect().map(_.toString).toSeq

  test("index after N micro-batches == one-shot build; resume; compaction") {
    val base = Files.createTempDirectory("inv_index").toFile
    val src = new java.io.File(base, "docs").getAbsolutePath
    val indexDir = new java.io.File(base, "index").getAbsolutePath
    val ckpt = new java.io.File(base, "ckpt").getAbsolutePath

    // wave 1 lands as three part files → maxFilesPerTrigger=1 ⇒ 3 batches
    appendWave(src, wave1, nFiles = 3)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val docs = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
      val q = InvertedIndex.maintain(docs, indexDir, ckpt)
      q.awaitTermination(120000)
    }
    run()

    // multiple segments actually exist (this was incremental, not one-shot)
    val segBatches = spark.read.parquet(indexDir)
      .select("batch_id").distinct().count()
    assert(segBatches >= 2, s"expected >=2 segments, got $segBatches")
    assert(readIndex(indexDir) == batchBuild(wave1),
      "merged incremental index != one-shot build on wave 1")

    // resume with the same checkpoint: only the new files are processed
    appendWave(src, wave2, nFiles = 1)
    run()
    assert(readIndex(indexDir) == batchBuild(wave1 ++ wave2),
      "resumed index != one-shot build on the union")

    // replay safety: re-landing an already-committed batch id must replace
    // its segment, not double count (the IdempotentParquetSink contract)
    import spark.implicits._
    // partition-column batch_id reads back as Integer — widen explicitly
    val lastBatch = spark.read.parquet(indexDir)
      .agg(max(col("batch_id").cast("long"))).first().getLong(0)
    InvertedIndex.appendBatch(indexDir)(
      wave2.toDF("doc_id", "text"), lastBatch)
    InvertedIndex.appendBatch(indexDir)(
      wave2.toDF("doc_id", "text"), lastBatch)
    assert(readIndex(indexDir) == batchBuild(wave1 ++ wave2),
      "replayed batch double-counted")

    // doc-stats segments rode along with every append and replay: one
    // row per doc, no double counting from the replayed batch
    val allDocs = wave1 ++ wave2
    def statsRows(): Seq[(Long, Long)] =
      InvertedIndex.docStats(spark, indexDir).orderBy("doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expectedStats = InvertedIndex
      .statsSegment(allDocs.toDF("doc_id", "text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(statsRows() == expectedStats,
      "doc-stats segment != one-shot lengths after append + replay")

    // posting-level compaction: rows per term fold to 1, served index
    // unchanged, and a further read sees exactly one segment partition
    val servedBefore = readIndex(indexDir)
    val rowsBefore = spark.read.parquet(indexDir).count()
    val (partsBefore, partsAfter) = InvertedIndex.compact(spark, indexDir)
    assert(partsBefore > 1 && partsAfter == 1, s"compact $partsBefore -> $partsAfter")
    val rowsAfter = spark.read.parquet(indexDir).count()
    assert(rowsAfter < rowsBefore, s"compact did not fold ($rowsBefore -> $rowsAfter)")
    val perTerm = spark.read.parquet(indexDir)
      .groupBy("tok").count().agg(max("count")).first().getLong(0)
    assert(perTerm == 1, "compaction left multiple segment rows for a term")
    assert(readIndex(indexDir) == servedBefore, "compaction changed the index")

    // compaction folded the stats family too, losslessly
    val statsParts = spark.read.parquet(InvertedIndex.statsDir(indexDir))
      .select("batch_id").distinct().count()
    assert(statsParts == 1, "compact left multiple stats segments")
    assert(statsRows() == expectedStats, "compaction changed the doc stats")

    // BM25 served from the stored (compacted) index == the ad-hoc formula
    // on a one-shot segment build — lengths proven index-resident
    val terms = Seq("quick", "dog", "quartz")
    val adhoc = InvertedIndex.bm25From(
      InvertedIndex.segment(allDocs.toDF("doc_id", "text")), terms, 3)
      .orderBy("term", "doc_id").collect().map(_.toString).toSeq
    assert(InvertedIndex.bm25(spark, indexDir, terms, 3)
      .orderBy("term", "doc_id").collect().map(_.toString).toSeq == adhoc,
      "served BM25 != ad-hoc BM25 after compaction")
  }
}
