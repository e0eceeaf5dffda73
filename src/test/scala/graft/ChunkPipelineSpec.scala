package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.batch.ChunkPipeline
import graft.core.Assembly

/** End-to-end batch dataflow on Spark: chunk → wire encode → duplicate →
  * repartition (simulated broker shuffle) → decode → assemble, byte-identical
  * (the reference's filecmp-style e2e, test_data_file_directories.py:208-213).
  */
class ChunkPipelineSpec extends AnyFunSuite with LocalSpark {

  test("distributed roundtrip is byte-identical under duplication and shuffle") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val files = (0 until 20).map { i =>
      val content = new Array[Byte](1 + rnd.nextInt(5000))
      rnd.nextBytes(content)
      (s"file_$i.bin", s"d${i % 3}", content, Some(100.0 + i): Option[Double])
    }
    val ds = spark.createDataset(files)
    val chunks = ChunkPipeline.chunkFiles(ds, 256)
    val wire = ChunkPipeline.encode(chunks)
    val noisy = wire.union(wire.limit(17)).repartition(5)
    val assembled = ChunkPipeline.assemble(ChunkPipeline.decode(noisy))
      .collect().map(f => f.rel_filepath -> f).toMap
    assert(assembled.size == 20)
    files.foreach { case (name, sub, content, _) =>
      val f = assembled(s"$sub/$name")
      assert(f.code == Assembly.Code.Complete, s"$sub/$name not complete")
      assert(f.data.toSeq == content.toSeq, s"$sub/$name bytes differ")
      assert(f.n_chunks == (content.length + 255) / 256)
    }
  }

  test("stale generation loses to the newer one across the same pipeline") {
    import spark.implicits._
    val oldBytes = Array.fill[Byte](700)(1)
    val newBytes = Array.fill[Byte](900)(2)
    val oldDs = spark.createDataset(Seq(("f.bin", "s", oldBytes, Some(10.0): Option[Double])))
    val newDs = spark.createDataset(Seq(("f.bin", "s", newBytes, Some(20.0): Option[Double])))
    val mixed = ChunkPipeline.chunkFiles(oldDs, 256).union(ChunkPipeline.chunkFiles(newDs, 256))
    val out = ChunkPipeline.assemble(mixed).collect()
    assert(out.length == 1)
    assert(out.head.code == Assembly.Code.Complete)
    assert(out.head.data.toSeq == newBytes.toSeq)
  }
}
