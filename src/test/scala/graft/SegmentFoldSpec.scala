package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.app.StreamProcessorApp
import graft.batch.{ChunkPipeline, ChunkRow, Compaction}
import graft.core.Chunker
import graft.streaming.{InvertedIndex, VectorIndex}

/** The one fold to `batch_id=-1`, driven through each batch-segmented
  * layout the program writes: a StreamProcessor registry, both families
  * of an inverted index, and a vector-index generation root. A stale
  * `_compact_tmp` that a crashed fold left holds junk; compaction must
  * still leave exactly one `batch_id=-1`, the same rows and no
  * `_compact_tmp`, and a second compaction must change nothing. */
class SegmentFoldSpec extends AnyFunSuite with LocalSpark {

  private def children(dir: String): Seq[String] =
    Option(new File(dir).listFiles()).toSeq.flatten.map(_.getName).sorted

  private def plantStaleTmp(dir: String): Unit = {
    val junk = new File(dir, "_compact_tmp/batch_id=-1/part-00000-junk.parquet")
    junk.getParentFile.mkdirs()
    Files.write(junk.toPath, "not parquet".getBytes("UTF-8"))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Plant junk in each of `dirs`, compact twice, and check every fold
    * invariant after each pass. */
  private def foldTwice(dirs: Seq[String], read: () => Seq[String])(
      compact: () => Unit): Unit = {
    val before = read()
    assert(before.nonEmpty)
    dirs.foreach { d =>
      assert(children(d).count(_.startsWith("batch_id=")) > 1, children(d))
      plantStaleTmp(d)
    }
    val others = dirs.map(d =>
      children(d).filterNot(n => n.startsWith("batch_id=") || n == "_compact_tmp"))
    for (pass <- 1 to 2) {
      compact()
      dirs.zip(others).foreach { case (d, rest) =>
        assert(children(d).filter(_.startsWith("batch_id=")) == Seq("batch_id=-1"),
          s"pass $pass: $d holds ${children(d)}")
        assert(!children(d).contains("_compact_tmp"), s"pass $pass: $d kept _compact_tmp")
        assert(children(d).filterNot(_.startsWith("batch_id=")) == rest,
          s"pass $pass: $d changed its other entries")
      }
      assert(read() == before, s"pass $pass changed the rows")
    }
  }

  test("a StreamProcessor registry folds once and stays folded") {
    val base = Files.createTempDirectory("fold_registry").toString
    val topic = s"$base/topic"
    val registry = s"$base/registry"
    for (wave <- 0 until 2) {
      val chunks = (0 until 3).flatMap { i =>
        val bytes = Array.tabulate[Byte](700 + 97 * i)(j => (j * 31 + i + wave).toByte)
        Chunker.chunk(s"w${wave}_$i.bin", "d", bytes, 256, Nil, Some(100.0)).map(ChunkRow(_))
      }
      ChunkPipeline.encode(spark.createDataset(chunks)(Encoders.product[ChunkRow]))
        .write.mode("append").parquet(topic)
      StreamProcessorApp.run(spark, topic, registry)
    }
    foldTwice(Seq(registry), () => rows(spark.read.parquet(registry).drop("batch_id"))) {
      () => Compaction.compactBatchPartitioned(spark, registry)
    }
  }

  test("both inverted-index families fold once and stay folded") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("fold_inverted").toString + "/index"
    val docs = (1L to 12L).map(id => (id, s"doc $id shares common words with ${id % 4} others"))
      .toDF("doc_id", "text")
    (0 until 3).foreach { b =>
      InvertedIndex.appendBatch(indexDir)(docs.where(col("doc_id") % 3 === b), b.toLong)
    }
    def read(): Seq[String] =
      rows(InvertedIndex.postings(spark.read.parquet(indexDir))) ++
        rows(InvertedIndex.docStats(spark, indexDir))
    foldTwice(Seq(indexDir, InvertedIndex.statsDir(indexDir)), () => read()) {
      () => assert(InvertedIndex.compact(spark, indexDir)._2 == 1)
    }
  }

  test("a vector-index generation root folds once and stays folded, cid kept") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("fold_vector").toString + "/index"
    val cids = Array(1L, 2L)
    val cvs = Array(Array.fill(4)(0.5f), Array.fill(4)(-0.5f))
    val vectors = (1L to 24L)
      .map(id => (id, Array.tabulate(4)(i => ((id * 7 + i * 3) % 11 - 5) / 5.0f)))
      .toDF("vec_id", "embedding")
    (0 until 3).foreach { b =>
      VectorIndex.appendBatch(indexDir, cids, cvs)(vectors.where(col("vec_id") % 3 === b), b.toLong)
    }
    val root = VectorIndex.genRoot(indexDir, 0L)
    foldTwice(Seq(root), () => rows(VectorIndex.read(spark, indexDir))) {
      () => assert(VectorIndex.compact(spark, indexDir)._2 == 1)
    }
    assert(children(s"$root/batch_id=-1").filterNot(_.startsWith(".")).forall(_.startsWith("cid=")),
      children(s"$root/batch_id=-1"))
  }
}
