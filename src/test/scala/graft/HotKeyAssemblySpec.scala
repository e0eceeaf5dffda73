package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.ChunkRow
import graft.core.{Assembly, Chunker}
import graft.streaming.{AssemblyStream, DiskModeAssembly}

/** Hot-key stress: the reassembly `groupByKey(rel_filepath)` is the
  * engine's one unavoidable hot key — a single huge file's chunks all meet
  * in one task. At 100× scale that is a ~100k-chunk group landing on one
  * state-store partition while a thousand small files ride along. This
  * spec drives exactly that shape through BOTH assemblers and asserts
  * (a) everything completes byte-exactly, (b) state stays keyed per FILE
  * (≈1k rows), never per chunk (100k), and (c) the disk-mode state for the
  * hot file stays offset-sized rather than payload-sized — the design
  * reason DiskModeAssembly exists. */
class HotKeyAssemblySpec extends AnyFunSuite with LocalSpark {

  private val HotChunks = 100000
  private val ChunkSize = 64
  private val NormalFiles = 1000

  // deterministic corpus: one 6.4 MB file in 64 B chunks + 1000 one-chunk files
  private lazy val hotContent: Array[Byte] = {
    val rnd = new java.util.Random(0xB16F11EL)
    val b = new Array[Byte](HotChunks * ChunkSize)
    rnd.nextBytes(b)
    b
  }
  private lazy val hotRows: Seq[ChunkRow] =
    Chunker.chunk("big.bin", "hot", hotContent, ChunkSize, Nil, Some(100.0))
      .map(ChunkRow(_))
  private lazy val normalRows: Seq[ChunkRow] = (0 until NormalFiles).flatMap { i =>
    val c = Array.tabulate[Byte](48)(k => ((i * 31 + k) % 256).toByte)
    Chunker.chunk(f"n$i%04d.bin", "cold", c, ChunkSize, Nil, Some(100.0))
      .map(ChunkRow(_))
  }

  test("buffered assembly: a 100k-chunk hot file among 1000 small files " +
      "completes byte-exactly; state is per-file, not per-chunk") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    assert(hotRows.length == HotChunks)
    val input = MemoryStream[ChunkRow]
    val q = AssemblyStream.assemble(input.toDS(), timeoutMs = 0)
      .writeStream.format("memory").queryName("hotkey_buf")
      .outputMode("append").start()
    try {
      // two microbatches, hot chunks interleaved with the cold long tail,
      // delivered out of order (reverse second half first)
      input.addData(hotRows.drop(HotChunks / 2).reverse ++ normalRows.take(500))
      q.processAllAvailable()
      // the hot file is half-delivered: only cold completions so far
      assert(spark.table("hotkey_buf").count() == 500)
      input.addData(normalRows.drop(500) ++ hotRows.take(HotChunks / 2))
      q.processAllAvailable()
      val t = spark.table("hotkey_buf")
      assert(t.count() == NormalFiles + 1)
      assert(t.where($"code" =!= Assembly.Code.Complete).count() == 0)
      val hot = t.where($"rel_filepath" === "hot/big.bin")
        .selectExpr("data", "size").collect()
      assert(hot.length == 1)
      assert(hot.head.getLong(1) == hotContent.length.toLong)
      assert(java.util.Arrays.equals(hot.head.getAs[Array[Byte]](0), hotContent))
      // state rows = live entries + completion tombstones ≈ one per FILE;
      // if state were per-chunk this would read ~100k
      val stateRows = q.lastProgress.stateOperators.apply(0).numRowsTotal
      assert(stateRows <= (NormalFiles + 1).toLong,
        s"state should be per-file, got $stateRows rows")
    } finally q.stop()
  }

  test("disk-mode assembly: same hot-key corpus lands byte-exactly with " +
      "offset-only state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = Files.createTempDirectory("hotkey_disk").toString
    val input = MemoryStream[ChunkRow]
    val q = DiskModeAssembly.assemble(input.toDS(), outDir, timeoutMs = 0)
      .writeStream.format("memory").queryName("hotkey_disk")
      .outputMode("append").start()
    try {
      input.addData(hotRows.drop(HotChunks / 2).reverse ++ normalRows)
      q.processAllAvailable()
      input.addData(hotRows.take(HotChunks / 2))
      q.processAllAvailable()
      val m = spark.table("hotkey_disk")
      assert(m.count() == NormalFiles + 1)
      assert(m.where($"code" =!= Assembly.Code.Complete).count() == 0)
      val got = Files.readAllBytes(java.nio.file.Paths.get(outDir, "hot", "big.bin"))
      assert(java.util.Arrays.equals(got, hotContent))
      val stateRows = q.lastProgress.stateOperators.apply(0).numRowsTotal
      assert(stateRows <= (NormalFiles + 1).toLong,
        s"state should be per-file, got $stateRows rows")
      // offsets-only state: the hot file's manifest says 100k chunks landed,
      // but its state entry never buffered the 6.4 MB payload (DiskState
      // carries generation + received-offset set + byte count only)
      val hotRow = m.where($"rel_filepath" === "hot/big.bin")
        .selectExpr("n_chunks", "size").collect().head
      assert(hotRow.getInt(0) == HotChunks)
      assert(hotRow.getLong(1) == hotContent.length.toLong)
    } finally q.stop()
  }
}
