package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.app.StreamProcessorApp
import graft.batch.{ChunkPipeline, ChunkRow, Compaction}
import graft.core.{ChunkCodec, Chunker}

/** StreamProcessorApp end-to-end: topic → reassembly → parquet registry,
  * then the reference's shutdown consolidation (producer_file_registry
  * .py:80-138) as post-run compaction — the compacted registry must answer
  * q22-shape queries identically, and a later resumed run must append new
  * batch partitions beside the compacted one without disturbing it.
  */
class StreamProcessorAppSpec extends AnyFunSuite with LocalSpark {

  private def writeTopicFiles(topic: String, names: Seq[String], seed: Int): Map[String, Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    val files = names.map { n =>
      val c = new Array[Byte](700 + rnd.nextInt(900)); rnd.nextBytes(c); n -> c
    }.toMap
    val chunks = files.toSeq.sortBy(_._1).flatMap { case (name, c) =>
      Chunker.chunk(name, "d", c, 256, Nil, Some(100.0)).map(ChunkRow(_))
    }
    ChunkPipeline.encode(spark.createDataset(chunks)(
      org.apache.spark.sql.Encoders.product[ChunkRow]))
      .write.mode("append").parquet(topic)
    files
  }

  // q22-shape read surface: per-file registry listing + status rollup
  private def registryAnswers(registryDir: String): (Seq[String], Seq[String]) = {
    val reg = spark.read.parquet(registryDir)
    val perFile = reg.select("rel_filepath", "status_code", "n_chunks", "size", "sha256")
      .collect().map(_.toString).toSeq.sorted
    val rollup = reg.groupBy("status_code")
      .agg(org.apache.spark.sql.functions.count("*").as("n"),
        org.apache.spark.sql.functions.sum("size").as("bytes"))
      .collect().map(_.toString).toSeq.sorted
    (perFile, rollup)
  }

  test("registry e2e, post-run compaction answers identically, resume appends beside it") {
    val topic = Files.createTempDirectory("graft_spa_topic").toString
    val registry = Files.createTempDirectory("graft_spa_reg").toString + "/reg"
    val files1 = writeTopicFiles(topic, (0 until 4).map(i => s"a$i.bin"), seed = 7)

    StreamProcessorApp.run(spark, topic, registry)

    // one registry row per completed file, sha256 of the original bytes
    val reg1 = spark.read.parquet(registry)
    val rows1 = reg1.select("rel_filepath", "sha256").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(rows1.keySet === files1.keySet.map(n => s"d/$n"))
    files1.foreach { case (n, bytes) =>
      assert(rows1(s"d/$n") === ChunkCodec.digestHex("SHA-256", bytes))
    }

    val before = registryAnswers(registry)
    val (nBefore, nAfter) = Compaction.compactBatchPartitioned(spark, registry, 1L << 30)
    assert(nBefore >= 1 && nAfter === 1, s"before=$nBefore after=$nAfter")
    assert(registryAnswers(registry) === before,
      "compacted registry must answer q22-shape queries identically")
    val partDirs = new java.io.File(registry).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName)
    assert(partDirs.toSeq === Seq("batch_id=-1"))

    // resume: new topic data lands in fresh batch partitions beside the
    // compacted one; the union answers for all files
    val files2 = writeTopicFiles(topic, (0 until 3).map(i => s"b$i.bin"), seed = 11)
    StreamProcessorApp.run(spark, topic, registry)
    val regAll = spark.read.parquet(registry)
    val allPaths = regAll.select("rel_filepath").collect().map(_.getString(0)).toSet
    assert(allPaths === (files1.keySet ++ files2.keySet).map(n => s"d/$n"))
    val partsAfter = new java.io.File(registry).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(partsAfter.contains("batch_id=-1") && partsAfter.size > 1,
      s"resume must append fresh partitions beside the compacted one: $partsAfter")
  }

  test("compactBatchPartitioned refuses FileStreamSink layouts") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_spa_sink").toString + "/t"
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    Files.createDirectory(java.nio.file.Paths.get(dir, "_spark_metadata"))
    val e = intercept[IllegalArgumentException] {
      Compaction.compactBatchPartitioned(spark, dir)
    }
    assert(e.getMessage.contains("refusing to compact"))
  }
}
