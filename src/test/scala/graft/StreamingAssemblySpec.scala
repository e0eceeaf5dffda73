package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.{ChunkPipeline, ChunkRow}
import graft.core.{Assembly, Chunker}
import graft.streaming.{AssemblyStream, CompletedFileWriter, Pipelines}

/** Streaming e2e: chunks arriving across microbatches (out of order, with
  * duplicates and a stale generation) assemble into verified files; the
  * directory upload source round-trips through the disk sink
  * (the reference's e2e, test_data_file_directories.py:208-213).
  */
class StreamingAssemblySpec extends AnyFunSuite with LocalSpark {

  test("chunks across microbatches assemble exactly once, stale generation dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(3)
    val contentA = new Array[Byte](1200); rnd.nextBytes(contentA)
    val contentB = new Array[Byte](700); rnd.nextBytes(contentB)
    val stale = new Array[Byte](600); rnd.nextBytes(stale)
    val a = Chunker.chunk("a.bin", "d", contentA, 256, Nil, Some(100.0)).map(ChunkRow(_))
    val b = Chunker.chunk("b.bin", "d", contentB, 256, Nil, Some(100.0)).map(ChunkRow(_))
    val st = Chunker.chunk("a.bin", "d", stale, 256, Nil, Some(50.0)).map(ChunkRow(_))

    val input = MemoryStream[ChunkRow]
    val q = AssemblyStream.assemble(input.toDS(), timeoutMs = 0)
      .writeStream.format("memory").queryName("assembled").outputMode("append").start()
    try {
      // batch 1: half of A (plus a dup), stale generation of A, half of B
      input.addData(a.take(3) ++ a.take(1) ++ st ++ b.take(2))
      q.processAllAvailable()
      assert(spark.table("assembled").count() == 0) // nothing complete yet
      // batch 2: the rest
      input.addData(a.drop(3) ++ b.drop(2))
      q.processAllAvailable()
      val rows = spark.table("assembled")
        .selectExpr("rel_filepath", "code", "size", "data").collect()
        .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2), r.getAs[Array[Byte]](3)))
        .toMap
      assert(rows.keySet == Set("d/a.bin", "d/b.bin"))
      assert(rows("d/a.bin")._1 == Assembly.Code.Complete)
      assert(rows("d/a.bin")._3.toSeq == contentA.toSeq) // newest generation won
      assert(rows("d/b.bin")._3.toSeq == contentB.toSeq)
      // batch 3: every chunk of the completed generation again (an
      // at-least-once redelivery) — the completion tombstone drops them
      // instead of re-assembling and re-emitting the file
      input.addData(a)
      q.processAllAvailable()
      assert(spark.table("assembled").count() == 2)
    } finally q.stop()
  }

  test("upload directory stream → wire → decode → assemble → disk sink roundtrip") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft_src")
    val outDir = Files.createTempDirectory("graft_out")
    val rnd = new scala.util.Random(5)
    val contents = (0 until 5).map { i =>
      val c = new Array[Byte](100 + rnd.nextInt(3000)); rnd.nextBytes(c)
      val sub = Files.createDirectories(srcDir.resolve(s"sub$i"))
      Files.write(sub.resolve(s"f$i.dat"), c)
      s"sub$i/f$i.dat" -> c
    }.toMap

    val wire = Pipelines.uploadDirectoryStream(spark, srcDir.toString, 512)
    val chunks = wire.select("value").as[Array[Byte]]
      .map(b => ChunkRow(graft.core.ChunkCodec.unpack(b)))
    val assembled = AssemblyStream.assemble(chunks, timeoutMs = 0)
    val q = assembled.writeStream
      .foreach(new CompletedFileWriter(outDir.toString))
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      contents.foreach { case (rel, expected) =>
        val written = Files.readAllBytes(outDir.resolve(rel))
        assert(written.toSeq == expected.toSeq, s"$rel differs")
      }
    } finally q.stop()
  }
}
