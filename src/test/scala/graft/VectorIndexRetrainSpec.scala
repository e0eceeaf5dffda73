package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.VectorIndex

/** VectorIndex.retrain (Lloyd's over the stored corpus) + the
  * assignment-drift signal:
  *  - the rewrite is LOSSLESS: full-probe search returns identical
  *    results before and after a retrain (no vector gained/lost/moved in
  *    value), the model generation advances, and segments fold to one;
  *  - on a fixture whose initial model splits a true cluster across two
  *    inverted lists, retraining recovers the true structure: nprobe=1
  *    recall against full-probe ground truth strictly improves, and the
  *    assignment-drift metric drops. */
class VectorIndexRetrainSpec extends AnyFunSuite with LocalSpark {

  private val Dim = 8

  private def vec(d0: Double, d1: Double): Array[Float] = {
    val v = new Array[Float](Dim)
    v(0) = d0.toFloat; v(1) = d1.toFloat
    v
  }

  /** Two true clusters at d0=±10, 50 points each, d1 spread over [-5, 5]
    * deterministically. */
  private def corpus: Seq[(Long, Array[Float])] = {
    val a = (0 until 50).map(i => (i.toLong, vec(-10, -5 + i * 10.0 / 49)))
    val c = (0 until 50).map(i => (100L + i, vec(10, -5 + i * 10.0 / 49)))
    a ++ c
  }

  /** A bad initial model: both centroids near the origin, offset mostly
    * on d1 with a WEAK d0 lean — points split by d1 sign, so each true
    * cluster is smeared across both inverted lists (the drifted-index
    * shape a stale model produces). */
  private val badCids = Array(0L, 1L)
  private val badCvs = Array(vec(0.2, 0.5), vec(-0.2, -0.5))

  private def landCorpus(indexDir: String,
      cids: Array[Long], cvs: Array[Array[Float]]): Unit = {
    import spark.implicits._
    corpus.grouped(25).zipWithIndex.foreach { case (wave, b) =>
      VectorIndex.appendBatch(indexDir, cids, cvs)(
        wave.toDF("vec_id", "embedding"), b.toLong)
    }
  }

  private def topIds(indexDir: String, query: Array[Float],
      probes: Seq[Long], k: Int): Seq[Long] =
    VectorIndex.search(VectorIndex.read(spark, indexDir), query, probes, k)
      .collect().map(_.getLong(0)).toSeq

  test("retrain is lossless, advances the generation, improves recall") {
    val indexDir = Files.createTempDirectory("vec_retrain").toString
    landCorpus(indexDir, badCids, badCvs)
    VectorIndex.saveModel(spark, indexDir, 0L, badCids, badCvs)

    // query in the +10 cluster at the d1=-4.6 corner: its true neighbors
    // straddle the bad model's d1-sign split
    val query = vec(10, -4.6)
    val truth = topIds(indexDir, query, badCids.toSeq, 10) // full probe
    val preProbe = VectorIndex.probeList(query, badCids, badCvs, 1)
    val pre = topIds(indexDir, query, preProbe, 10)
    val preRecall = pre.count(truth.contains).toDouble / truth.size
    assert(preRecall < 1.0,
      s"fixture broken: bad model already serves full recall ($preRecall)")
    val preDrift = VectorIndex.assignmentDrift(spark, indexDir, badCids, badCvs)

    val (gen, cids2, cvs2) = VectorIndex.retrain(spark, indexDir, k = 2, iters = 5)
    assert(gen == 1L)
    assert(VectorIndex.loadModel(spark, indexDir).map(_._1).contains(1L))
    // segments folded to the single retrain partition under the new
    // era root (the old gen=0 root is cleaned up after the publish)
    assert(spark.read.parquet(s"$indexDir/gen=1")
      .select("batch_id").distinct().count() == 1)
    assert(!new java.io.File(indexDir, "gen=0").exists(),
      "old era root not cleaned up after publish")

    // lossless: full-probe search identical pre/post
    val truthAfter = topIds(indexDir, query, cids2.toSeq, 10)
    assert(truthAfter == truth, "retrain changed exact (full-probe) results")

    // the model converged to the true clusters: nprobe=1 recall improves
    val postProbe = VectorIndex.probeList(query, cids2, cvs2, 1)
    val post = topIds(indexDir, query, postProbe, 10)
    val postRecall = post.count(truth.contains).toDouble / truth.size
    assert(postRecall > preRecall,
      s"recall did not improve: $preRecall -> $postRecall")
    assert(postRecall == 1.0, s"converged model should serve full recall, got $postRecall")

    // and the drift signal that would have TRIGGERED this retrain drops
    val postDrift = VectorIndex.assignmentDrift(spark, indexDir, cids2, cvs2)
    assert(postDrift < preDrift / 2,
      s"assignment drift did not drop: $preDrift -> $postDrift")
  }

  test("concurrent disjoint-batch appends land all batches intact") {
    // ADVICE r15: x235/x239 submit three appendBatch jobs concurrently to
    // one parquet root; safety rests on dynamic partitionOverwriteMode
    // staging per-job for DISJOINT batch_id partitions. This arm pins the
    // contract the queries rely on: after three concurrent appends, all
    // three batch_id partitions exist and every vector of every batch
    // reads back exactly once — a commit-protocol or conf change that
    // drops or clobbers a concurrent batch fails here, not in the gate.
    import spark.implicits._
    val indexDir = Files.createTempDirectory("vec_concurrent").toString
    val waves = corpus.grouped(34).toSeq.take(3)
    waves.zipWithIndex.map { case (wave, b) =>
      java.util.concurrent.CompletableFuture.runAsync(() =>
        VectorIndex.appendBatch(indexDir, badCids, badCvs)(
          wave.toDF("vec_id", "embedding"), b.toLong))
    }.foreach(_.join())
    val rows = spark.read.parquet(s"$indexDir/gen=0")
      // partition-column inference reads batch_id back as INT
      .select(org.apache.spark.sql.functions.col("batch_id").cast("long"),
        org.apache.spark.sql.functions.col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.map(_._1).distinct.sorted == Seq(0L, 1L, 2L),
      s"expected 3 distinct batch_ids, got ${rows.map(_._1).distinct.sorted}")
    val expected = waves.zipWithIndex
      .flatMap { case (w, b) => w.map(v => (b.toLong, v._1)) }.sorted
    assert(rows.sorted == expected,
      "concurrent appends lost or duplicated vectors")
  }

  test("model-less retrain seeds deterministically from smallest vec_ids") {
    // Lloyd's from degenerate seeds may land in a local optimum (it does
    // here: the two smallest-vec_id seeds differ only in d1, so the first
    // assignment splits by d1 and stays there) — that's k-means, not a
    // bug. What the seeding path GUARANTEES is determinism and
    // persistence: two identical corpora retrain to bit-identical models,
    // the first PUBLISHED generation is 1 (the anonymous pre-model era
    // is generation 0), and loadModel returns what retrain returned.
    def build(): (Long, Array[Long], Array[Array[Float]], String) = {
      val indexDir = Files.createTempDirectory("vec_retrain_seed").toString
      landCorpus(indexDir, badCids, badCvs)
      val (g, ids, cvs) = VectorIndex.retrain(spark, indexDir, k = 2, iters = 5)
      (g, ids, cvs, indexDir)
    }
    val (g1, ids1, cvs1, dir1) = build()
    val (g2, _, cvs2, _) = build()
    assert(g1 == 1L && g2 == 1L && ids1.toSeq == Seq(0L, 1L))
    assert(cvs1.map(_.toSeq).toSeq == cvs2.map(_.toSeq).toSeq,
      "model-less retrain is not deterministic")
    val loaded = VectorIndex.loadModel(spark, dir1)
    assert(loaded.map(_._1).contains(1L))
    assert(loaded.get._3.map(_.toSeq).toSeq == cvs1.map(_.toSeq).toSeq)
  }
}
