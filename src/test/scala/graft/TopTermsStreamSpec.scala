package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.TopTermsStream

/** Streaming heavy hitters (TopTermsStream.track): sharded Misra–Gries
  * state keeps every per-shard MG guarantee across micro-batches, emissions
  * carry rising generations, and the merged newest-per-shard view surfaces
  * the global heavy tokens — x84's sketch as an ingest-time monitor.
  */
class TopTermsStreamSpec extends AnyFunSuite with LocalSpark {

  private val K = 32
  private val SHARDS = 4

  private def runStream(batches: Seq[Seq[String]]): Map[String, Long] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = TopTermsStream.track(in.toDS().toDF("tok"), k = K, nShards = SHARDS)
      .writeStream.format("memory").queryName("topterms")
      .outputMode("append").start()
    try {
      for (b <- batches) { if (b.nonEmpty) in.addData(b); q.processAllAvailable() }
      TopTermsStream.merged(spark.table("topterms"))
    } finally q.stop()
  }

  test("per-shard MG guarantees hold across micro-batches; merged view is global") {
    // skewed stream split over 3 batches: token t_i appears (60-i)^2 times
    val items = (0 until 60).flatMap(i => Seq.fill((60 - i) * (60 - i))(s"t$i"))
    val shuffled = new scala.util.Random(7).shuffle(items)
    val batches = shuffled.grouped(shuffled.size / 3 + 1).toSeq
    val got = runStream(batches)
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val shardN = items.groupBy(t => TopTermsStream.shardOf(t, SHARDS))
      .view.mapValues(_.size.toLong).toMap
    for ((tok, trueN) <- exact) {
      val bound = shardN(TopTermsStream.shardOf(tok, SHARDS)) / (K + 1)
      if (trueN > bound)
        assert(got.contains(tok), s"heavy hitter $tok (n=$trueN, bound=$bound) missing")
      for (est <- got.get(tok)) {
        assert(est <= trueN, s"$tok overestimated: $est > $trueN")
        assert(trueN - est <= bound, s"$tok error ${trueN - est} > $bound")
      }
    }
    // phantom tokens can never appear: counters only ever hold seen tokens
    assert(got.keySet.subsetOf(exact.keySet))
  }

  test("emissions carry rising generations per shard; newest wins in merged view") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = TopTermsStream.track(in.toDS().toDF("tok"), k = 8, nShards = 1)
      .writeStream.format("memory").queryName("topterms_gen")
      .outputMode("append").start()
    try {
      in.addData(Seq.fill(5)("a")); q.processAllAvailable()
      in.addData(Seq.fill(3)("a") :+ "b"); q.processAllAvailable()
      val rows = spark.table("topterms_gen")
        .select("gen", "processed").as[(Long, Long)].collect().sortBy(_._1)
      assert(rows.map(_._1).toSeq === Seq(1L, 2L))
      assert(rows.map(_._2).toSeq === Seq(5L, 9L))
      val m = TopTermsStream.merged(spark.table("topterms_gen"))
      assert(m === Map("a" -> 8L, "b" -> 1L))
    } finally q.stop()
  }
}
