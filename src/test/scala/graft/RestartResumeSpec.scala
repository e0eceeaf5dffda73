package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.batch.{ChunkPipeline, ChunkRow}
import graft.core.Chunker
import graft.streaming.{AssemblyStream, CompletedFileWriter}

/** Restart/resume from checkpoint with an injected processor failure —
  * the reference's failure-replay contract (failed processing drops state
  * and relies on re-consumption, data_file_stream_processor.py:177-203;
  * our mirror of test_data_file_stream_processor.py:68-121): the first run
  * dies mid-stream, the rerun against the same checkpoint completes every
  * file byte-identically (idempotent sink, at-least-once replay).
  */
object FailOnce {
  val armed = new AtomicBoolean(true)
}

class RestartResumeSpec extends AnyFunSuite with LocalSpark {

  test("injected failure, then restart from same checkpoint completes all files") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    val topic = Files.createTempDirectory("graft_rr_topic")
    val out = Files.createTempDirectory("graft_rr_out")
    val ckpt = Files.createTempDirectory("graft_rr_ckpt")
    val files = (0 until 3).map { i =>
      val c = new Array[Byte](800 + rnd.nextInt(1000)); rnd.nextBytes(c)
      (s"f$i.bin", c)
    }
    val chunks = files.flatMap { case (name, c) =>
      Chunker.chunk(name, "d", c, 256, Nil, Some(100.0)).map(ChunkRow(_))
    }
    ChunkPipeline.encode(spark.createDataset(chunks))
      .write.mode("overwrite").parquet(topic.toString)

    def runOnce(): Unit = {
      val wire = spark.readStream.schema("key STRING, value BINARY").parquet(topic.toString)
      val decoded = wire.select("value").as[Array[Byte]]
        .map(b => ChunkRow(graft.core.ChunkCodec.unpack(b)))
      val assembled = AssemblyStream.assemble(decoded, timeoutMs = 0)
        .map { f =>
          if (f.filename == "f1.bin" && FailOnce.armed.compareAndSet(true, false))
            throw new RuntimeException("injected processor failure")
          f
        }
      val q = assembled.writeStream
        .foreach(new CompletedFileWriter(out.toString))
        .outputMode("append")
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    FailOnce.armed.set(true)
    assertThrows[StreamingQueryException](runOnce())
    runOnce() // resume from the same checkpoint
    files.foreach { case (name, c) =>
      val written = Files.readAllBytes(out.resolve("d").resolve(name))
      assert(written.toSeq == c.toSeq, s"$name differs after resume")
    }

    // a partial file's buffered state survives a restart: the first run
    // checkpoints two chunks of p.bin, the next restores them from the
    // state store and completes the file once the rest arrive
    val p = new Array[Byte](1100); rnd.nextBytes(p)
    val pChunks = Chunker.chunk("p.bin", "d", p, 256, Nil, Some(9.0)).map(ChunkRow(_))
    ChunkPipeline.encode(spark.createDataset(pChunks.take(2)))
      .write.mode("append").parquet(topic.toString)
    runOnce()
    assert(!Files.exists(out.resolve("d").resolve("p.bin")), "completed too early")
    ChunkPipeline.encode(spark.createDataset(pChunks.drop(2)))
      .write.mode("append").parquet(topic.toString)
    runOnce()
    assert(Files.readAllBytes(out.resolve("d").resolve("p.bin")).toSeq == p.toSeq,
      "p.bin differs after resuming its partial state")
  }
}
