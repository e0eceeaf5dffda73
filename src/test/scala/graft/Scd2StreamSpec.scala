package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Scd2Stream

/** Streaming SCD2 (Scd2Stream.history): type transitions close validity
  * intervals across micro-batches, versions increment per user, and the
  * emitted closed-interval set matches the batch SCD2 build (x98) on the
  * same events streamed in order — FunnelStream/NearDupStream's
  * batch/stream parity contract applied to registry history.
  */
class Scd2StreamSpec extends AnyFunSuite with LocalSpark {

  // (user_id, event_id, event_type, us)
  private def runStream(
      batches: Seq[Seq[(Long, Long, String, Long)]]): Seq[(Long, Int, String, Long, Long, Long)] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, String, Long)]
    val df = in.toDS().toDF("user_id", "event_id", "event_type", "us")
      .withColumn("ts", timestamp_micros(col("us")))
    val q = Scd2Stream.history(df).writeStream
      .format("memory").queryName("scd2")
      .outputMode("append").start()
    try {
      for (b <- batches) { if (b.nonEmpty) in.addData(b); q.processAllAvailable() }
      spark.table("scd2").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    } finally q.stop()
  }

  private val H = 3600000000L // one hour in micros

  test("transition across batches closes the superseded run exactly once") {
    val got = runStream(Seq(
      Seq((1L, 10L, "up", 0L), (1L, 11L, "up", H)),
      Seq((1L, 12L, "done", 2 * H))))
    assert(got === Seq((1L, 1, "up", 0L, 2 * H, 2L)))
  }

  test("several same-batch transitions emit every closed run with rising versions") {
    val got = runStream(Seq(
      Seq((2L, 20L, "a", 0L), (2L, 21L, "b", H), (2L, 22L, "a", 2 * H),
        (2L, 23L, "a", 3 * H))))
    assert(got.sortBy(_._2) === Seq(
      (2L, 1, "a", 0L, H, 1L),
      (2L, 2, "b", H, 2 * H, 1L)))
    // the open run (ver 3, two "a" events) stays in state, not emitted
  }

  test("parity with the batch SCD2 (x98) on sf0.001 events, in-order stream") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val batchClosed = graft.queries.Breadth.x98.run(spark, sf)
      .filter(col("valid_to_us").isNotNull)
      .select("user_id", "ver", "event_type", "valid_from_us", "valid_to_us",
        "n_events")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    val evs = graft.queries.Core.table(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .orderBy("us", "event_id")
      .as[(Long, Long, String, Long)].collect().toSeq
    val batches = evs.grouped(math.max(evs.length / 4, 1)).toSeq
    val got = runStream(batches).toSet
    assert(got === batchClosed)
  }
}
