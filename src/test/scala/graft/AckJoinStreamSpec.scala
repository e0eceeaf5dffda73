package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Pipelines

/** Stream-stream interval join (Pipelines.ackJoinStream): completions
  * correlate with acks arriving within the delay bound; the left-outer
  * variant surfaces never-acked files as null-padded rows once both
  * watermarks close past the join window (the global watermark is the MIN
  * across sides, so both streams must advance for outer results to emit).
  */
class AckJoinStreamSpec extends AnyFunSuite with LocalSpark {

  private val base = 1700000000L

  /** Drive both inputs batch-by-batch; each element is
    * (completionBatch, ackBatch). */
  private def run(joinType: String,
      batches: Seq[(Seq[(String, Long)], Seq[(String, Long)])])
      : Seq[(String, Option[String])] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val cIn = MemoryStream[(String, Long)]
    val aIn = MemoryStream[(String, Long)]
    val c = cIn.toDS().toDF("rel_filepath", "done_epoch")
      .withColumn("done_ts", timestamp_seconds(col("done_epoch")))
    val a = aIn.toDS().toDF("ack_filepath", "ack_epoch")
      .withColumn("ack_ts", timestamp_seconds(col("ack_epoch")))
    val joined = Pipelines.ackJoinStream(c, a,
      completionWatermark = "1 minute", ackWatermark = "1 minute",
      maxAckDelay = "5 minutes", joinType = joinType)
      .select(col("rel_filepath"), col("ack_filepath"))
    val name = s"ackjoin_$joinType"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      for ((cb, ab) <- batches) {
        if (cb.nonEmpty) cIn.addData(cb)
        if (ab.nonEmpty) aIn.addData(ab)
        q.processAllAvailable()
      }
      spark.table(name).collect()
        .map(r => (r.getString(0), Option(r.getString(1)))).toSeq.sorted
    } finally q.stop()
  }

  test("inner: acks within the delay bound match, late/orphan acks don't") {
    val got = run("inner", Seq(
      (Seq(("a.bin", base), ("b.bin", base), ("c.bin", base)), Nil),
      (Nil, Seq(
        ("a.bin", base + 60), // in window
        ("b.bin", base + 600), // past maxAckDelay (5 min)
        ("d.bin", base + 30))))) // no completion
    assert(got == Seq(("a.bin", Some("a.bin"))))
  }

  test("left_outer: unacked completions emit null-padded after watermarks close") {
    val got = run("left_outer", Seq(
      (Seq(("a.bin", base), ("b.bin", base)), Nil),
      (Nil, Seq(("a.bin", base + 60))),
      // far-future events on BOTH sides advance the global (min) watermark
      // past base + 5 min + 1 min, expiring b.bin's join state as unmatched
      (Seq(("zz.bin", base + 4000)), Seq(("zz.bin", base + 4000))),
      (Seq(("zz2.bin", base + 5000)), Seq(("zz2.bin", base + 5000)))))
    assert(got.contains(("a.bin", Some("a.bin"))))
    assert(got.contains(("b.bin", None)), s"expected unmatched b.bin in $got")
  }
}
