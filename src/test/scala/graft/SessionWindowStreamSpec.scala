package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** x33's declared query uses Spark's native `session_window` in batch; this
  * spec proves the operator's streaming claim — the identical aggregation
  * over a `MemoryStream` with a watermark yields the same sessions the
  * batch plan computes, with late-but-in-watermark events merging sessions
  * across microbatches.
  */
class SessionWindowStreamSpec extends AnyFunSuite with LocalSpark {

  private def sessionize(df: org.apache.spark.sql.DataFrame) =
    df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s"),
        unix_micros(col("sw.end")).as("e"), col("n_events"))

  test("streaming session_window == batch sessions across microbatches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L
    // user 1: two bursts 45 min apart (two sessions); the second microbatch
    // delivers an event that bridges user 2's two bursts into ONE session —
    // the in-partition window merge the operator exists for.
    val batch1 = Seq(
      (1L, base), (1L, base + 60), (1L, base + 2700 + 60),
      (2L, base), (2L, base + 3000))
    val batch2 = Seq((2L, base + 1500), (1L, base + 2700))
    val all = batch1 ++ batch2

    val input = MemoryStream[(Long, Long)]
    val stream = input.toDS().toDF("user_id", "epoch")
      .select(col("user_id"), timestamp_seconds(col("epoch")).as("ts"))
      .withWatermark("ts", "10 hours") // nothing drops; sessions stay open
    val q = sessionize(stream)
      .writeStream.format("memory").queryName("sw_stream")
      .outputMode("complete").start()
    try {
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("sw_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq

      val batch = sessionize(
          spark.createDataset(all).toDF("user_id", "epoch")
            .select(col("user_id"), timestamp_seconds(col("epoch")).as("ts")))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sorted.toSeq

      assert(streamed == batch)
      // user 1: the bridge event is 45 min after the first burst -> 2 sessions;
      // user 2: batch-2's middle event merges both bursts -> 1 session of 3.
      assert(streamed.count(_._1 == 1L) == 2)
      assert(streamed.filter(_._1 == 2L).map(_._4) == Seq(3L))
    } finally q.stop()
  }
}
