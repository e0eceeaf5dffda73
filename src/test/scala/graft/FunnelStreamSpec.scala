package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.FunnelStream

/** Streaming funnel (FunnelStream.track): per-user stage progression emits
  * monotone advancement rows across micro-batches, and the final reached
  * stage matches the batch funnel query (x85) on the same events when each
  * user's stream is in timestamp order — the batch/stream parity contract
  * NearDupStream set for dedup, applied to funnels.
  */
class FunnelStreamSpec extends AnyFunSuite with LocalSpark {

  private def runStream(batches: Seq[Seq[(Long, String, Long)]]): Map[Long, Int] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, Long)]
    val df = in.toDS().toDF("user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = FunnelStream.track(df).writeStream
      .format("memory").queryName("funnel")
      .outputMode("append").start()
    try {
      for (b <- batches) { if (b.nonEmpty) in.addData(b); q.processAllAvailable() }
      spark.table("funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    } finally q.stop()
  }

  private val H = 3600000000L // one hour in micros

  test("stage advancement emits once per stage, windows enforced") {
    // user 1 completes; user 2 stalls at click (purchase outside window);
    // user 3 has click BEFORE view → never advances past view
    val got = runStream(Seq(
      Seq((1L, "view", 0L), (2L, "view", 0L), (3L, "click", 0L)),
      Seq((1L, "click", H), (2L, "click", H), (3L, "view", H)),
      Seq((1L, "purchase", 2 * H), (2L, "purchase", 30 * 86400000000L))))
    assert(got === Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("cross-batch monotonicity: later stage events wait for earlier stages") {
    // purchase arrives first (its own batch) — cannot fire before click
    val got = runStream(Seq(
      Seq((7L, "purchase", 3 * H)),
      Seq((7L, "view", H)),
      Seq((7L, "click", 2 * H)),
      Seq((7L, "purchase", 4 * H))))
    assert(got === Map(7L -> 3))
  }

  test("parity with the batch funnel (x85) on sf0.001 events, in-order stream") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val batchResult = graft.queries.Breadth.x85.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    // stream the same events in ts order, split into 4 batches
    val evs = graft.queries.Core.table(spark, sf, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
      .orderBy("us")
      .as[(Long, String, Long)].collect().toSeq
    val n = evs.length
    val batches = evs.grouped(math.max(n / 4, 1)).toSeq
    val got = runStream(batches)
    // batch result covers every user with a view; stream emits the same
    // final stage for each, and nothing for users without a view
    assert(got === batchResult)
  }
}
