package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.NearDupStream

/** Streaming MinHash/LSH near-dup detection: buckets anchor on the first
  * document seen, later arrivals (same or later microbatch) emit hits
  * against the anchor, distinct texts don't collide, and the band scheme
  * matches the batch queries' (x02) exactly.
  */
class NearDupStreamSpec extends AnyFunSuite with LocalSpark {

  private val textA = "the quick brown fox jumps over the lazy dog tonight"
  private val textB = "completely different words appear in this other document body"

  private def runBatches(batches: Seq[Seq[(Long, String)]]): Seq[(Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val docs = in.toDS().toDF("doc_id", "text")
    val name = s"neardup_${System.nanoTime()}"
    val q = NearDupStream.hits(docs, timeoutMs = 0).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b); q.processAllAvailable() }
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).distinct.sorted.toSeq
    } finally q.stop()
  }

  test("exact duplicate in a later microbatch hits the batch-1 anchor") {
    val got = runBatches(Seq(
      Seq((1L, textA), (2L, textB)),
      Seq((3L, textA)),
      Seq((4L, textA))))
    assert(got == Seq((3L, 1L), (4L, 1L)))
  }

  test("same-batch duplicates anchor on the smallest doc_id") {
    val got = runBatches(Seq(Seq((7L, textA), (5L, textA), (6L, textB))))
    assert(got == Seq((7L, 5L)))
  }

  test("near-duplicate (small edit) still collides on at least one band") {
    // One changed word out of ten: 3-gram shingle sets overlap heavily, so
    // at least one of the 4 bands (2 of 8 minhashes each) should agree.
    // This pins recall on a concrete pair, not a probabilistic claim.
    val textA2 = "the quick brown fox jumps over the lazy cat tonight"
    val got = runBatches(Seq(Seq((1L, textA)), Seq((2L, textA2))))
    assert(got == Seq((2L, 1L)), s"expected the one-word edit to collide: $got")
  }

  test("stream band scheme == batch x02 scheme on the same rows") {
    import org.apache.spark.sql.functions._
    // x02's lshBands is private; its oracle-gated definition is re-stated
    // here structurally: 4 bands, sig = concat of 2 md5-min slots, 32-hex
    // strings doubled to 64 chars.
    val df = spark.createDataFrame(Seq((1L, textA))).toDF("doc_id", "text")
    val b = NearDupStream.bands(df).collect()
    assert(b.length == 4)
    assert(b.map(_.getInt(1)).sorted.toSeq == Seq(0, 1, 2, 3))
    assert(b.forall(_.getString(2).length == 64))
    assert(b.forall(_.getString(2).matches("[0-9a-f]{64}")))
  }
}
