package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.ChunkRow
import graft.core.{Assembly, Chunker}
import graft.streaming.{AssemblyStream, Heartbeats}

/** State-store observability (G6 companion): the [[Heartbeats.StateRegistry]]
  * listener must land per-micro-batch state metrics in a parquet registry,
  * and the series must SHRINK once eviction quarantines a stalled partial —
  * the queryable proof that the reference's forever-growing
  * `files_in_progress_by_path` failure mode is fixed here, not just claimed.
  */
class StateRegistrySpec extends AnyFunSuite with LocalSpark {

  test("state metrics land in the parquet registry and shrink after eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val registryDir = Files.createTempDirectory("state_registry").toString
    val listener = new Heartbeats.StateRegistry(spark, "asm-test", registryDir)
    spark.streams.addListener(listener)

    val content = new Array[Byte](900)
    new scala.util.Random(11).nextBytes(content)
    val stall = Chunker.chunk("stall.bin", "d", content, 256, Nil, None).map(ChunkRow(_))
    val tiny = Chunker.chunk("tiny.bin", "d", Array[Byte](1, 2, 3), 256, Nil, None)
      .map(ChunkRow(_))

    val input = MemoryStream[ChunkRow]
    // timeoutMs=1: ProcessingTimeTimeout → the engine keeps constructing
    // micro-batches to evaluate timers, so eviction fires (and beats keep
    // landing) without further data
    val q = AssemblyStream.assemble(input.toDS(), timeoutMs = 1)
      .writeStream.format("memory").queryName("state_reg_sink")
      .outputMode("append").start()
    try {
      input.addData(stall.dropRight(1) ++ tiny) // partial + one completion
      def registry() =
        try spark.read.parquet(registryDir)
          .select("program_id", "batch_id", "num_rows_total")
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        catch { case _: Exception => Array.empty[(String, Long, Long)] }
      // wait until (a) some beat recorded live state entries and (b) a
      // LATER beat recorded zero — the shrink that proves eviction
      val deadline = System.currentTimeMillis() + 120000
      var rows = registry()
      def grown = rows.filter(_._3 > 0)
      def shrunk = rows.filter(_._3 == 0)
      while (System.currentTimeMillis() < deadline &&
          !(grown.nonEmpty && shrunk.exists(z => grown.exists(g => z._2 > g._2)))) {
        Thread.sleep(500)
        rows = registry()
      }
      assert(grown.nonEmpty, s"no beat recorded live state entries: ${rows.toSeq}")
      assert(shrunk.exists(z => grown.exists(g => z._2 > g._2)),
        s"state never shrank after eviction: ${rows.toSeq}")
      assert(rows.forall(_._1 == "asm-test"))
      // the stalled partial did quarantine (eviction is why state shrank)
      val sink = spark.table("state_reg_sink")
        .selectExpr("rel_filepath", "code").collect()
        .map(r => r.getString(0) -> r.getInt(1)).toMap
      assert(sink.get("d/tiny.bin").contains(Assembly.Code.Complete))
      assert(sink.get("d/stall.bin").contains(Assembly.Code.InProgress))
      // full schema landed (queryable next to the K5 registry)
      val cols = spark.read.parquet(registryDir).columns.toSet
      assert(Set("program_id", "query_id", "batch_id", "op_idx", "operator",
        "num_rows_total", "num_rows_updated", "num_rows_removed",
        "state_bytes", "ts").subsetOf(cols))
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }
}
