package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{Filter, LoggerContext}
import org.apache.logging.log4j.message.SimpleMessage
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The harness mains' between-query hygiene stays scoped to what it must
  * touch: the unpersist sweep leaves persisted data alone while a stream
  * runs, and the log filter drops the sweep's one warning and no other. */
class HarnessSpec extends AnyFunSuite with LocalSpark {

  test("sweepCheckpoints skips while a stream is active, sweeps once it stops") {
    val rdd = spark.sparkContext.parallelize(1 to 10, 2).cache()
    assert(rdd.count() == 10)
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val q = input.toDF().writeStream.format("noop").start()
    try {
      q.processAllAvailable()
      Harness.sweepCheckpoints(spark)
      assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    } finally q.stop()
    assert(spark.streams.active.isEmpty)
    Harness.sweepCheckpoints(spark)
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
  }

  test("silenceSweepWarn drops the unpersist warning and nothing else") {
    spark.sparkContext // the harness mains call it once the session exists
    Harness.silenceSweepWarn()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val log = ctx.getLogger("org.apache.spark.rdd.MapPartitionsRDD")
    def verdict(msg: String): Filter.Result =
      ctx.getConfiguration.getFilter.filter(log, Level.WARN, null, new SimpleMessage(msg), null)
    assert(verdict("RDD 12 was locally checkpointed, its lineage has been truncated " +
      "and cannot be recomputed after unpersisting") == Filter.Result.DENY)
    assert(verdict("Failed to fetch block rdd_12_0, recomputing") == Filter.Result.NEUTRAL)
    assert(verdict("cannot be recomputed") == Filter.Result.NEUTRAL)
  }
}
