package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.VectorIndex

/** The retrain → serving HANDOFF: the model publish is the atomic commit
  * point, so a search racing a retrain (or landing after a retrain that
  * CRASHED mid-walk) must serve generation N — complete, under its own
  * model — and never a mixed or half-swapped read. The spec injects the
  * exact torn states retrain can die in and asserts serving from each. */
class VectorIndexHandoffSpec extends AnyFunSuite with LocalSpark {

  private val Dim = 4

  private def vec(d0: Double, d1: Double): Array[Float] = {
    val v = new Array[Float](Dim)
    v(0) = d0.toFloat; v(1) = d1.toFloat
    v
  }

  /** Two clusters at d0=±10, 20 points each. */
  private def corpus: Seq[(Long, Array[Float])] =
    (0 until 20).map(i => (i.toLong, vec(-10, i % 5))) ++
      (0 until 20).map(i => (100L + i, vec(10, i % 5)))

  private val cids = Array(0L, 1L)
  private val cvs = Array(vec(-1, 0), vec(1, 0))

  private def land(indexDir: String): Unit = {
    import spark.implicits._
    corpus.grouped(20).zipWithIndex.foreach { case (w, b) =>
      VectorIndex.appendBatch(indexDir, cids, cvs)(
        w.toDF("vec_id", "embedding"), b.toLong)
    }
  }

  private def searchIds(indexDir: String): Seq[Long] = {
    val (_, mcids, mcvs) = VectorIndex.loadModel(spark, indexDir).get
    val q = vec(10, 2)
    VectorIndex.search(VectorIndex.read(spark, indexDir), q,
      VectorIndex.probeList(q, mcids, mcvs, 1), 5)
      .collect().map(_.getLong(0)).toSeq
  }

  test("an unpublished new era is invisible: search serves gen N intact") {
    val dir = Files.createTempDirectory("vec_handoff").toString
    land(dir)
    VectorIndex.saveModel(spark, dir, 0L, cids, cvs)
    val before = searchIds(dir)
    val countBefore = VectorIndex.read(spark, dir).count()

    // inject the torn state: retrain died AFTER the segment rename,
    // BEFORE the model publish — a gen=1 root exists holding a
    // deliberately WRONG corpus (half the vectors), gen=0 model rules.
    // If any read path resolved gen=1, counts and results would change.
    import spark.implicits._
    corpus.take(7).toDF("vec_id", "embedding")
      .select(org.apache.spark.sql.functions.lit(0L).as("cid"),
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.lit(-1L).as("batch_id"))
      .write.partitionBy("batch_id", "cid")
      .parquet(VectorIndex.genRoot(dir, 1L))

    assert(VectorIndex.currentGen(spark, dir) == 0L)
    assert(VectorIndex.read(spark, dir).count() == countBefore,
      "reader touched the unpublished era")
    assert(searchIds(dir) == before,
      "search result changed while gen 1 was unpublished")

    // a RE-RUN retrain must discard the torn root and publish cleanly
    val (gen, _, _) = VectorIndex.retrain(spark, dir, k = 2, iters = 3)
    assert(gen == 1L)
    assert(VectorIndex.currentGen(spark, dir) == 1L)
    assert(VectorIndex.read(spark, dir).count() == countBefore,
      "published era lost vectors (torn root leaked through)")
    // full-probe results are model-independent: retrain stays lossless
    val q = vec(10, 2)
    val full = VectorIndex.search(VectorIndex.read(spark, dir), q,
      Seq(0L, 1L), 5).collect().map(_.getLong(0)).toSeq
    assert(full == before, "retrain changed exact search results")
  }

  test("a crash before the segment rename leaves only tmp: gen N serves") {
    val dir = Files.createTempDirectory("vec_handoff2").toString
    land(dir)
    VectorIndex.saveModel(spark, dir, 0L, cids, cvs)
    val before = searchIds(dir)
    // torn state: _retrain_tmp written, rename never happened
    import spark.implicits._
    corpus.take(3).toDF("vec_id", "embedding")
      .select(org.apache.spark.sql.functions.lit(1L).as("cid"),
        org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.lit(-1L).as("batch_id"))
      .write.partitionBy("batch_id", "cid").parquet(s"$dir/_retrain_tmp")
    assert(searchIds(dir) == before, "tmp leaked into serving")
    // re-run discards the stale tmp and completes
    val (gen, _, _) = VectorIndex.retrain(spark, dir, k = 2, iters = 3)
    assert(gen == 1L && VectorIndex.read(spark, dir).count() == 40L)
  }

  test("model publish is atomic: no torn _model generation resolves") {
    val dir = Files.createTempDirectory("vec_handoff3").toString
    land(dir)
    VectorIndex.saveModel(spark, dir, 0L, cids, cvs)
    // a stale _model_tmp from a crashed publish must not shadow anything
    import spark.implicits._
    Seq((9L, vec(0, 0))).toDF("cid", "centroid")
      .write.parquet(s"$dir/_model_tmp")
    assert(VectorIndex.currentGen(spark, dir) == 0L)
    val loaded = VectorIndex.loadModel(spark, dir).get
    assert(loaded._2.toSeq == cids.toSeq)
    // and the next publish overwrites the stale tmp without error
    VectorIndex.saveModel(spark, dir, 1L, cids, cvs)
    assert(VectorIndex.currentGen(spark, dir) == 1L)
  }
}
